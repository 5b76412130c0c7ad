package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the training-data pipeline: tokenization,
  * shingling, and a portable polynomial hash family used by the
  * dedup/fingerprint operators.
  *
  * Everything is built from codegen'd Spark builtins (transform /
  * aggregate / sequence) — no UDFs — and every op has a DuckDB SQL
  * mirror (the `*Sql` members) that is integer-exact, so oracle
  * results hash-match. The hash is h_{i+1} = (31*h_i + code) mod p
  * with p = 1e9+7: all intermediates < 2^35, so 64-bit arithmetic is
  * exact on both engines.
  *
  * At 100 TB these expression trees run entirely inside whole-stage
  * codegen per row; the natural next step (SURVEY.md §6) is a native
  * Catalyst Expression with doGenCode to cut the per-char virtual
  * calls, but the algebra and results stay identical.
  */
object TextOps {

  val P = 1000000007L

  // --- tokenization -------------------------------------------------
  def tokens(text: Column): Column = split(text, " ")
  def tokensSql(t: String): String = s"string_split($t, ' ')"

  // --- polynomial char hash ----------------------------------------
  /** hash of a string: fold (h*31 + ascii(char)) % p over characters.
    * Native codegen'd expression; [[polyHashHof]] is the equivalent
    * builtin composition. */
  def polyHash(t: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.expr.PolyHash(
      ColumnBridge.expression(t)))
  }

  /** Builtin-composition variant of [[polyHash]] (same values). */
  def polyHashHof(t: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(t)), i => ascii(t.substr(i, lit(1)))),
      lit(0L),
      (h, c) => (h * lit(31L) + c.cast("long")) % lit(P))

  /** DuckDB mirror of [[polyHash]]. list_reduce has no init, but
    * (0*31 + c1) = c1 makes the folds identical. */
  def polyHashSql(t: String): String =
    s"""list_reduce(list_transform(range(1, length($t)+1),
        i -> CAST(ascii($t[i]) AS BIGINT)), (h, c) -> (h*31 + c) % $P)"""

  /** Affine post-mix for BUCKETING uses of the poly hash: short
    * strings hash far below 2^30, so raw values cluster low and both
    * range buckets (h mod m keeps only low-entropy trailing chars)
    * and leading-zero ranks are badly non-uniform. Multiplying by a
    * large odd constant mod p redistributes over the full range —
    * h < 2^30 times 2654435761 < 2^32 stays under 2^62, exact in
    * 64-bit on both engines. Use the RAW hash for equality joins and
    * fingerprints (mixing adds nothing there); use the MIXED hash
    * wherever the VALUE's distribution matters: sampling buckets,
    * sketch registers. */
  val MixMul = 2654435761L
  val MixAdd = 12345L

  def polyHashMixed(t: Column): Column =
    (polyHash(t) * lit(MixMul) + lit(MixAdd)) % lit(P)

  def polyHashMixedSql(t: String): String =
    s"((${polyHashSql(t)}) * $MixMul + $MixAdd) % $P"

  // --- shingles -----------------------------------------------------
  /** Distinct word 3-gram shingles of a token array column.
    * Guarded for <3 tokens: sequence(1, 0) would produce a DESCENDING
    * [1, 0] and element_at would throw (latent trap found by
    * RandomizedParitySpec — the corpus never has short docs). */
  def shingles3(tk: Column): Column =
    array_distinct(
      when(size(tk) >= 3,
        transform(sequence(lit(1), size(tk) - 2),
          i => concat_ws(" ",
            element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2))))
        .otherwise(array().cast("array<string>")))

  def shingles3Sql(tk: String): String =
    s"""list_distinct(list_transform(range(1, greatest(len($tk)-1, 1)),
        i -> $tk[i] || ' ' || $tk[i+1] || ' ' || $tk[i+2]))"""

  /** Hashes of the distinct shingles (order-invariant consumers only).
    * Single-pass native expression: same hash values as
    * transform(shingles3(tokens(text)), polyHash) with zero
    * intermediate string allocation. */
  def shingleHashes(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.expr.ShingleHashes3(
      ColumnBridge.expression(text)))
  }

  def shingleHashesSql(t: String): String =
    s"""list_transform(${shingles3Sql(tokensSql(t))},
        sgl -> ${polyHashSql("sgl")})"""

  // --- n-gram hashes over token-hash arrays -------------------------
  /** Window hashes over a TOKEN-HASH array attribute: rolling
    * (h*31 + next) % p combine — long arithmetic instead of per-gram
    * string concatenation, mirrored exactly by the oracle (identical
    * collisions, so identical distinct counts). Native expression
    * with an O(n) rolling update (~2-3x over the interpreted
    * transform/element_at composition it replaced, at w=16 on the
    * sf0.1 corpus; SURVEY §8). Guarded for size < w (empty array). */
  def ngramHashes(th: Column, w: Int): Column =
    if (w == 1) th
    else {
      import org.apache.spark.sql.graft.ColumnBridge
      ColumnBridge.column(graft.functions.expr.NgramHashes(
        ColumnBridge.expression(th), w))
    }

  /** Per-token poly hashes of a TEXT column, in token order, in one
    * native pass — same values as transform(tokens(text), polyHash)
    * without the interpreted per-element lambda or the intermediate
    * token array. The standard head of every window-hash pipeline
    * (c30/c57/c78/c85/c91/d33). NOT the distinct-set [[tokenHashes]]
    * below (set semantics, simhash's input). */
  def tokenHashesSeq(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.expr.TokenHashes(
      ColumnBridge.expression(text)))
  }

  /** Non-overlapping p-token block hashes over a token-hash array
    * (trailing partial included) — each block folds
    * (h*31 + next) % p like [[ngramHashes]]; c85's map-side block
    * fingerprint. */
  def blockHashes(th: Column, p: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.expr.BlockHashes(
      ColumnBridge.expression(th), p))
  }

  def ngramHashesSql(th: String, w: Int): String =
    if (w == 1) th
    else {
      val h = (2 to w).foldLeft(s"$th[i]")((acc, j) =>
        s"(($acc) * 31 + $th[i+${j - 1}]) % $P")
      s"""CASE WHEN len($th) >= $w
          THEN list_transform(range(1, len($th) - ${w - 1} + 1), i -> $h)
          ELSE CAST([] AS BIGINT[]) END"""
    }

  // --- MinHash ------------------------------------------------------
  /** K-element MinHash signature over the shingle-hash set:
    * sig_k = min_h ((2k+1)*h + 12345 + 7k) mod p, k = 1..K. */
  def minHashSignature(hashes: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.expr.MinHashSig(
      ColumnBridge.expression(hashes), k))
  }

  /** Builtin-composition variant of [[minHashSignature]] (same
    * values — RandomizedParitySpec pins equality incl. the k-nulls
    * empty case; kept for the A/B + executable documentation). */
  def minHashSignatureHof(hashes: Column, k: Int): Column =
    transform(sequence(lit(1), lit(k)), kk =>
      array_min(transform(hashes,
        h => ((kk.cast("long") * 2L + 1L) * h
          + lit(12345L) + kk.cast("long") * 7L) % lit(P))))

  def minHashSignatureSql(hashes: String, k: Int): String =
    s"""list_transform(range(1, $k + 1), kk ->
        list_min(list_transform($hashes,
          h -> ((CAST(kk AS BIGINT)*2 + 1) * h + 12345 + CAST(kk AS BIGINT)*7) % $P)))"""

  // --- SimHash (30-bit, portable) ----------------------------------
  /** 30-bit SimHash over the distinct token-hash set: bit j is set iff
    * sum over tokens of ±1 (by bit j of the token hash) is >= 0.
    * 30 bits because the poly hash lives below 2^30. */
  def simHash30(tokenHashes: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.expr.SimHash30(
      ColumnBridge.expression(tokenHashes)))
  }

  /** Builtin-composition variant of [[simHash30]] (same values —
    * RandomizedParitySpec pins equality incl. the all-bits empty
    * case; kept for the A/B + executable documentation). */
  def simHash30Hof(tokenHashes: Column): Column =
    VectorOpsInternal.foldSumLong(
      transform(sequence(lit(0), lit(29)), j => {
        val p2 = pow(lit(2.0), j).cast("long")
        when(
          aggregate(tokenHashes, lit(0L),
            (acc, h) => acc + when((floor(h / p2).cast("long") % 2L) === 1L, 1L)
              .otherwise(-1L)) >= 0L, p2).otherwise(0L)
      }))

  def simHash30Sql(tokenHashes: String): String =
    s"""list_reduce(list_transform(range(0, 30), j ->
        CASE WHEN list_reduce(list_transform($tokenHashes,
            h -> CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
                 THEN 1 ELSE -1 END), (a, b) -> a + b) >= 0
        THEN CAST(pow(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END),
        (a, b) -> a + b)"""

  /** Distinct token hashes of a text column (set semantics). */
  def tokenHashes(text: Column): Column =
    transform(array_distinct(tokens(text)), t => polyHash(t))

  private object VectorOpsInternal {
    def foldSumLong(v: Column): Column =
      aggregate(v, lit(0L), (acc, x) => acc + x)
  }
}
