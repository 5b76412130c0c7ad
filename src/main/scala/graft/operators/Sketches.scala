package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Distributed sketches with DETERMINISTIC, oracle-replayable
  * arithmetic. Spark's own approx_count_distinct is a HyperLogLog++
  * whose sketch layout no other engine reproduces; this is the same
  * algorithm built from the portable poly-hash so the DuckDB oracle
  * computes the identical estimate bit-for-bit — the engine feature
  * (one pass, O(m) state, map-side combinable max registers) with
  * the repo's exactness contract.
  */
object Sketches {

  /** m = 64 registers; the hash lives below 2^30, so after the
    * bucket split the rank field is 24 bits and every 2^(S-rho) term
    * is exact in long arithmetic at S = 40. */
  val M = 64
  private val Bits = 24
  private val Scale = 40
  private val PowScale = 1099511627776L // 2^40

  /** Linear-counting table for the small-range correction: entry V-1
    * holds m·ln(m/V) for V empty registers (Flajolet et al. §4: when
    * the raw estimate is ≤ 5/2·m and some register is empty, linear
    * counting is the better estimator — without it, 3-5 distinct
    * values estimate near 47). ln is NOT correctly-rounded-guaranteed
    * across engines, so it never runs at query time: the 64 constants
    * are computed once HERE and embedded as identical double literals
    * in both the Spark plan and the oracle SQL (Double.toString
    * round-trips exactly, and DuckDB's string→double parse is
    * correctly rounded), keeping the no-float-log contract. */
  private val LinearCount: IndexedSeq[Double] =
    (1 to M).map(v => M.toDouble * math.log(M.toDouble / v))

  // --- Count-Min sketch ---------------------------------------------
  /** Deterministic Count-Min sketch geometry: D hash rows × W
    * counters. Row-i bucket of a key with poly hash h is
    * ((h·A_i + B_i) mod p) mod W — affine row salts over the shared
    * portable hash; h < 2^30 and A_i < 2^32 keep every intermediate
    * under 2^62, exact in 64-bit on both engines. Counters are plain
    * long sums: order-independent, map-side combinable — each
    * partition sketches locally and merge is elementwise addition,
    * the one-pass 100 TB shape. A key's point estimate is
    * min_i counter[i][bucket_i(key)], an overestimate by collisions
    * only (never an undercount). */
  val CmD = 4
  val CmW = 256
  private[operators] val CmA =
    IndexedSeq(2654435761L, 2246822519L, 3266489917L, 668265263L)
  private[operators] val CmB = IndexedSeq(12345L, 54321L, 98765L, 13579L)

  /** Row-i counter index for a non-negative base hash column. */
  def cmBucket(i: Int, h: Column): Column =
    ((h * lit(CmA(i)) + lit(CmB(i))) % lit(TextOps.P)) % lit(CmW.toLong)

  /** The (i, bucket) pairs of a hash column as an exploded array —
    * the map side of the sketch build and of a point probe. */
  def cmPairs(h: Column): Column =
    explode(array((0 until CmD).map(i =>
      struct(lit(i).as("i"), cmBucket(i, h).as("b"))): _*))

  /** DuckDB VALUES relation carrying the row salts, for mirrors. */
  def cmSaltsSql(alias: String): String =
    (0 until CmD).map(i => s"(${i}, ${CmA(i)}, ${CmB(i)})")
      .mkString(s"(VALUES ", ", ", s") AS $alias(i, a, ab)")

  // --- Bloom filter --------------------------------------------------
  /** Deterministic Bloom geometry: K bit positions out of M, drawn
    * from the same affine salt family as the Count-Min rows (the
    * first K salts over a wider modulus). The filter itself is just
    * the DISTINCT set of set bit positions — ≤ M longs, broadcastable
    * by construction — so corpus membership probes are a map-side
    * broadcast join: the corpus is scanned once to build the bits and
    * never reshuffled per probe batch. False-positive rate at load
    * n·K/M follows the standard (1 - e^{-Kn/M})^K; no false
    * negatives. */
  val BloomK = 3
  val BloomM = 1048576L

  def bloomBit(i: Int, h: Column): Column =
    ((h * lit(CmA(i)) + lit(CmB(i))) % lit(TextOps.P)) % lit(BloomM)

  /** The K bit positions of a key as an exploded column. */
  def bloomBits(h: Column): Column =
    explode(array((0 until BloomK).map(i => bloomBit(i, h)): _*))

  def bloomBitSql(h: String, a: String, ab: String): String =
    s"((($h) * $a + $ab) % ${TextOps.P}) % $BloomM"

  /** Per-`key` approximate distinct count of `value` via a
    * deterministic HyperLogLog (raw estimator, no float log
    * anywhere): bucket = h mod m, rank = leading-zero count of the
    * remaining 24-bit field + 1 (computed as 25 - bitlength, exact
    * integer), registers fold with MAX (order-independent, partial-
    * aggregable — the 100 TB shape: each partition sketches, merge is
    * elementwise max), and the harmonic sum Σ 2^-M[b] is the exact
    * long Σ 2^(40-M[b]) over present buckets plus 2^40 per empty
    * bucket. The only float op is the final constant product and
    * divide — IEEE-identical on both engines. Emits the exact
    * distinct count alongside for the error row. */
  /** The per-row sketch columns (bucket, rank) for `value` — the map
    * side of the sketch; compose with any grouping (see
    * Streams.windowHllAgg for the watermarked-window flavor). Uses
    * the MIXED poly hash (TextOps.polyHashMixed): short-string raw
    * hashes cluster low, which would zero the rank field. */
  def hllRowCols(value: Column): (Column, Column) = {
    val h = TextOps.polyHashMixed(value.cast("string"))
    val w = floor(h / lit(M)).cast("long")
    val r = when(w === 0L, lit(Bits + 1))
      .otherwise(lit(Bits + 1) - length(bin(w)))
    (pmod(h, lit(M.toLong)), r)
  }

  /** Fold (keys..., b, m)-register rows into the per-key estimate.
    * The registers may come from any grouping — a batch groupBy or a
    * watermark-closed streaming window agg. */
  def hllEstimateFromRegs(regs: DataFrame, keys: Seq[String]): DataFrame = {
    val sums = regs.groupBy(keys.map(col): _*).agg(
      sum(pow(lit(2.0), lit(Scale) - col("m")).cast("long")).as("sp"),
      count(lit(1)).as("nb"))
    // raw HLL estimator: alpha_m * m^2 / Σ 2^-M[b]
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(64.0))
    val denom = (col("sp") + (lit(M.toLong) - col("nb")) * lit(PowScale))
      .cast("double")
    val raw = alpha * lit(4096.0) * lit(PowScale.toDouble) / denom
    // small-range correction: raw ≤ 5/2·m with V>0 empty registers →
    // linear counting m·ln(m/V), table-driven (see LinearCount)
    val v = (lit(M.toLong) - col("nb")).cast("int")
    val lc = element_at(array(LinearCount.map(lit): _*), v)
    val est = round(
      when(v > 0 && raw <= lit(2.5 * M), lc).otherwise(raw), 4)
    sums.select(keys.map(col) :+ est.as("hll_estimate"): _*)
  }

  def hllDistinct(df: DataFrame, key: String, value: Column): DataFrame = {
    val (b, r) = hllRowCols(value)
    val withRho = df.select(col(key), b.as("b"), r.as("r"))
    val regs = withRho.groupBy(col(key), col("b")).agg(max(col("r")).as("m"))
    val exact = df.groupBy(col(key))
      .agg(countDistinct(value).as("n_exact"))
    exact.join(hllEstimateFromRegs(regs, Seq(key)), Seq(key))
      .select(col(key), col("n_exact"), col("hll_estimate"))
      .withColumn("rel_err",
        round(abs(col("hll_estimate") - col("n_exact").cast("double"))
          / col("n_exact").cast("double"), 4))
  }

  /** DuckDB mirror of [[hllDistinct]] over a relation `rel` with
    * columns (keys..., `valueExpr`). */
  def hllDistinctSql(rel: String, key: String, valueExpr: String): String =
    hllDistinctSqlKeys(rel, Seq(key), valueExpr)

  def hllDistinctSqlKeys(rel: String, keys: Seq[String],
                         valueExpr: String): String = {
    val ph = TextOps.polyHashMixedSql(s"CAST($valueExpr AS VARCHAR)")
    val ks = keys.mkString(", ")
    val kn = keys.size
    def nums(from: Int, n: Int) = (from until from + n).mkString(", ")
    // the linear-counting constants as string→double casts: DuckDB's
    // parse is correctly rounded, so these are bit-identical to the
    // Spark literals (Double.toString round-trips)
    val lcListSql = LinearCount
      .map(d => s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)")
      .mkString("list_value(", ", ", ")")
    s"""
      WITH _h AS (SELECT $ks, $valueExpr AS v, $ph AS h
                  FROM $rel),
      _r AS (SELECT $ks, v, h % $M AS b,
               CASE WHEN (h // $M) = 0 THEN ${Bits + 1}
                    ELSE ${Bits + 1} - length(bin(h // $M)) END AS r
             FROM _h),
      _regs AS (SELECT $ks, b, MAX(r) AS m FROM _r
                GROUP BY ${nums(1, kn + 1)}),
      _sums AS (SELECT $ks,
                  SUM(CAST(pow(2, $Scale - m) AS BIGINT)) AS sp,
                  COUNT(*) AS nb
                FROM _regs GROUP BY ${nums(1, kn)}),
      _ex AS (SELECT $ks, COUNT(DISTINCT v) AS n_exact FROM _h
              GROUP BY ${nums(1, kn)}),
      _raw AS (
        SELECT $ks, nb,
               CAST(0.7213 AS DOUBLE)
                   / (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE)
                      / CAST(64 AS DOUBLE))
                 * CAST(4096 AS DOUBLE) * CAST($PowScale AS DOUBLE)
                 / CAST(sp + ($M - nb) * $PowScale AS DOUBLE) AS raw
        FROM _sums),
      _est AS (
        SELECT $ks, n_exact,
               round(CASE WHEN nb < $M AND raw <= CAST(160 AS DOUBLE)
                     THEN ($lcListSql)[CAST($M - nb AS INT)]
                     ELSE raw END, 4) AS hll_estimate
        FROM _ex JOIN _raw USING ($ks))
      SELECT $ks, n_exact, hll_estimate,
             round(abs(hll_estimate - CAST(n_exact AS DOUBLE))
               / CAST(n_exact AS DOUBLE), 4) AS rel_err
      FROM _est"""
  }
}
