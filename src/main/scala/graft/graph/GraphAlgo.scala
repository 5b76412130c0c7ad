package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Barriers.BarrierOps

/** Generic distributed graph algorithms over (src, dst) edge frames —
  * type-agnostic in the node id (string node ids, long doc ids, ...).
  */
object GraphAlgo {

  /** Rows/task for the WINDOW-SORT loop family (CC's alternating
    * stars): per-row work is a per-center sort, heavy enough that
    * ~32k-row tasks amortize their scheduling cost (r16 partition
    * sweep on b14's 185k-row rounds:
    * 6 parts = 0.52 s/round, 1 part = 1.1-1.4, 23 parts = 2.3-5.4;
    * re-confirmed r17: b14 at 32768 = 4.35 s vs 5.15 at 131072). */
  private[graft] val SortLoopRowsPerTask = 32768L
  /** Rows/task for the JOIN/AGG loop family (PageRank, LPA,
    * path centrality, shortest paths): per-row work is a codegen'd
    * hash probe + partial agg — far cheaper per row, so tasks need
    * ~4x more rows before parallelism beats scheduling overhead (r17
    * isolated 3-pass sweep at CPUS=32, sf0.1: rowsPerTask
    * 32768→131072→524288 gives b18 5.46→4.25→5.26 s, b15
    * 4.43→3.33→4.46, b21 2.93→2.58→3.03, b28 6.74→5.53→8.25 — the
    * mid setting wins every join/agg loop). The r16 default (32768
    * everywhere) fanned b18's 1.9M-row loop to the full 32-way
    * session width, which the driver's loaded-box window punished
    * ~4x (r16 verdict #1); 131072 halves the fan-out (15 parts) AND
    * is faster on a quiet box. */
  private[graft] val JoinLoopRowsPerTask = 131072L

  /** Partition count for one round of a CPU-bound iterative loop
    * (r16). AQE's coalescing is BYTE-based (parallelismFirst targets
    * max(bytes/parallelism, 1 MB)): a graph round's few MB of shuffle
    * coalesces to ONE partition, serializing the whole round's window
    * sort / hash build on a single core (measured: every b14 CC round
    * ran at parts=1 on local[32], 1.1-1.4 s per round of 92.5k
    * edges). Per-ROW cost is what dominates these rounds, so the loop
    * partition count derives from the round's row count instead:
    * ceil(rows / rowsPerTask), clamped to the session shuffle
    * parallelism — at cluster scale the quotient exceeds the session
    * setting and the clamp returns the session value (a size-derived
    * floor on parallelism, not a local[32] constant).
    * Loops put it into their own plans as `repartition(n, key)`,
    * which AQE never coalesces (shuffle origin REPARTITION_BY_NUM) and
    * which satisfies the keyed window / aggregate / join above it —
    * so no session conf is written, and a query planned concurrently
    * on the same session keeps the session's own settings. */
  private[graft] def loopParts(rows: Long, ceiling: Int,
                               rowsPerTask: Long): Int =
    math.max(1L, math.min(ceiling.toLong,
      (rows + rowsPerTask - 1) / rowsPerTask)).toInt

  /** [[loopParts]] for a JOIN/AGG loop over `rows` input rows, clamped
    * to the session's shuffle width (read, never written). */
  private[graft] def joinLoopParts(
      spark: org.apache.spark.sql.SparkSession, rows: Long): Int =
    loopParts(rows, spark.sessionState.conf.numShufflePartitions,
      JoinLoopRowsPerTask)

  /** Undirected connected components via alternating large-star /
    * small-star contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14 — public literature; also the
    * GraphFrames strategy). Unlike label propagation, each round
    * rewrites the EDGE SET toward a star forest, so the data a round
    * touches shrinks as components collapse; rounds are O(log n) and
    * each is two groupBy+join passes over the current edges. Component
    * id = the smallest member under the id type's ordering. Returns
    * (node, component) for every node incident to an edge. */
  def connectedComponents(edgesIn: DataFrame, maxIter: Int = 30): DataFrame = {
    // precondition (r16 advice): with zero rounds the initial
    // orientation is returned un-deduplicated — every caller runs at
    // least one round, which small-star's distinct bounds.
    require(maxIter > 0, s"connectedComponents needs maxIter > 0 " +
      s"(got $maxIter): round 1's small-star dedup is what bounds " +
      "duplicated input edges")
    // ONE materialization of the input edge frame: both the node set
    // (needed only by the final join) and the oriented edge set
    // derive from this checkpoint, so an expensive upstream (c16's
    // LSH-verify candidate pipeline feeds CC directly) runs once —
    // two separate barriers here used to evaluate it twice. The
    // derived frames are each consumed once, so they need no
    // barriers of their own.
    val dir = edgesIn.toDF("src", "dst").barrier(true)
    val nodes = dir.select(col("src").as("node"))
      .unionAll(dir.select(col("dst").as("node")))
      .distinct()
    // orient every edge large→small; drop loops. NO initial distinct
    // (r16, guide §2.4 "a distinct on data that is already unique"):
    // every duplicate/reverse edge flows through round 1 unchanged —
    // large-star's per-center window MIN is duplicate-insensitive and
    // small-star's trailing distinct bounds the round's output — so
    // round 1's OUTPUT SET (and every later round, and the
    // convergence signature, which only ever hashes round outputs) is
    // identical with or without the dedup, while the dedup itself
    // cost a full |E|-row exchange in the round-1 job. Callers feed
    // already-unique relations (verified pairs are id_a<id_b distinct,
    // b14's invalidates edges are one row per event pair), so the
    // exchange bought nothing; an input WITH duplicates just carries
    // ≤2x rows through one round instead of paying the shuffle.
    var e = dir.where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))

    // Each phase is one min-window over the phase's center column;
    // duplicates flow through large-star untouched (window mins are
    // duplicate-insensitive) and the round's output is bounded by
    // small-star's single distinct — two exchanges per phase pair.
    // (The in-exchange row_number-dedup alternative was measured
    // SLOWER on this shape — see the round-5 numbers at the
    // convergence loop below — so it was rejected.)
    import org.apache.spark.sql.expressions.Window

    // Both stars take the per-center min with a window. The
    // groupBy(center).agg(min) + join-back shape (map-side combine,
    // skew-splittable join) was measured and dropped: on the
    // max-degree-3k testdata graphs the two tie (SURVEY §8l) and the
    // window saves a join operator.
    // Each star's window runs at the round's width `n` (loopParts):
    // the explicit-count repartition on the window key is the
    // window's only exchange, and AQE never coalesces it.
    // large-star: around each center c, link every LARGER neighbor to
    // the minimum of N(c) ∪ {c} (keeps orientation, halves path reach)
    def largeStar(E: DataFrame, n: Int): DataFrame = {
      val bid = E.select(col("u").as("c"), col("v").as("n"))
        .unionAll(E.select(col("v").as("c"), col("u").as("n")))
        .repartition(n, col("c"))
      bid.withColumn("m",
        least(min(col("n")).over(Window.partitionBy(col("c"))), col("c")))
        .where(col("n") > col("c") && col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
      // no distinct here: the window min is duplicate-insensitive and
      // small-star's distinct bounds the round's output — saves one
      // shuffle per phase
    }
    // small-star: around each center u (over the oriented edges), link
    // every smaller neighbor and u itself to min(N(u) ∪ {u}) (edges
    // are oriented u>v, so min(N(u) ∪ {u}) = min(v)). The trailing
    // distinct keeps its own exchange, sized by AQE.
    def smallStar(E: DataFrame, n: Int): DataFrame = {
      E.repartition(n, col("u"))
        .withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
        .select(explode(array(col("v"), col("u"))).as("n"), col("m"))
        .where(col("n") =!= col("m"))
        .select(greatest(col("n"), col("m")).as("u"),
          least(col("n"), col("m")).as("v"))
        .distinct()
    }

    var iter = 0
    var prev: (Long, BigDecimal) = (-1L, BigDecimal(-1))
    var done = false
    // current edge count sizes each round (see loopParts — AQE's
    // byte-based coalescing serialized every round onto one task):
    // the input count is one cheap job over the already-materialized
    // barrier blocks; each later round's count rides the convergence
    // aggregate for free.
    val ceiling = edgesIn.sparkSession.sessionState.conf.numShufflePartitions
    var curEdges = dir.count()
    while (iter < maxIter && !done) {
      // bid = both directions of the edge set
      val n = loopParts(2L * curEdges, ceiling, SortLoopRowsPerTask)
      // lazy checkpoint: the convergence agg below is the action that
      // materializes the blocks — one job per round, not two.
      // Measured round-5 alternatives, all SLOWER here than this
      // minimal-lineage single alternation (92.5k-edge chains,
      // local[32], warm): (a) two alternations per checkpoint 13.5 s,
      // (b) in-exchange row_number dedup replacing the distinct
      // (2 exchanges/round) 11.7-13.5 s even with count-adaptive
      // partition sizing, (c) double large-star per round (4 rounds)
      // 12.7 s — vs 10.3 s for this shape. Per-stage scheduling
      // overhead dominates at bench scale; at cluster scale AQE sizes
      // these same exchanges, so the shape holds there too.
      val next = smallStar(largeStar(e, n), n).barrier(false)
      // convergence = edge set is a fixed point: same count and same
      // order-independent hash — one agg over the just-materialized
      // blocks, no extra join
      val row = next.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).first()
      val sig = (row.getLong(0),
        if (row.isNullAt(1)) BigDecimal(0) else BigDecimal(row.getDecimal(1)))
      done = sig == prev
      prev = sig
      curEdges = sig._1
      e = next
      iter += 1
    }
    // fixed point is a star forest u→root; roots map to themselves
    nodes.join(e, col("node") === col("u"), "left")
      .select(col("node"), coalesce(col("v"), col("node")).as("component"))
  }

  /** PageRank with a FIXED iteration count, fully deterministic and
    * oracle-reproducible via INTEGER fixed-point arithmetic: ranks are
    * bigints scaled by 10^12, contributions are `r div outdeg`
    * (truncating integer division), the per-target reduction is a
    * plain decimal(38,0) SUM — exact, order-independent, map-side
    * combinable — and damping is `(s * d%) div 100`. No floating point
    * until the final unscale, and no double→decimal cast anywhere, so
    * the distributed plan is bit-identical to the single-threaded SQL
    * replay regardless of partitioning or skew. Unnormalized form
    * r' = (1-d) + d * Σ r_src/outdeg_src over in-edges, quantized at
    * 1e-12 per step. (Round 2 used a per-destination
    * sort_array(collect_list) sequential fold for determinism; that
    * materialized a hub's whole in-neighborhood as one row — an OOM
    * bomb on skewed keys at scale. The fixed-point sum keeps the
    * determinism and restores partial aggregation.)
    *
    * Plan shape per iteration: edges ⋈ ranks (shuffle on src) →
    * groupBy dst (partial agg + shuffle on dst) → left join back to
    * the node set — the standard dataflow PageRank (Pregelix
    * re-expressed as joins); ranks materialize once per iteration. */
  def pageRank(edgesIn: DataFrame, iters: Int,
               damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fixed-point scale: 1e12 keeps hub ranks (≤ ~n) in bigint range
    // at any realistic node count while quantizing far below the
    // round-6 output precision
    val Scale = 1000000000000L
    val dPct = math.round(damping * 100).toInt
    val base = Scale / 100 * (100 - dPct)
    val dir = edgesIn.toDF("src", "dst")
    // r16: the chain runs at a size-derived width (loopParts; one
    // cheap count of the edge input), not the static session width —
    // 32 session partitions meant 32 tasks per stage for |V|-sized
    // frames with per-task row counts in the low thousands.
    val n = joinLoopParts(edgesIn.sparkSession, 2L * dir.count())
    // out-degree folded into the edge relation via a window count —
    // ONE shuffle on src, and the materialized result STAYS
    // hash-partitioned on src (the barrier keeps it), so the
    // per-iteration rank join never re-shuffles the (large) edge side
    val weighted = dir.repartition(n, col("src"))
      .withColumn("od", count(lit(1)).over(Window.partitionBy(col("src"))))
      .barrier(true)
    // node set hash-partitioned on node: co-located with both the
    // contribution sums (partitioned on dst) and the next rank
    val nodes = dir.select(col("src").as("node"))
      .unionAll(dir.select(col("dst").as("node")))
      .repartition(n, col("node"))
      .distinct().barrier(true)
    var rank = nodes.select(col("node").as("id"), lit(Scale).as("r"))
    for (i <- 1 to iters) {
      // ITERATION-1 CLOSED FORM: rank is the uniform constant Scale,
      // so the edge⋈rank join is the identity — contributions are
      // `Scale div od` straight off the weighted edge frame (same
      // truncating integer division, bit-identical), skipping one
      // |E|-row join evaluation (r15 same-session isolated 5-pass
      // A/B at sf0.1: 2.42→2.24 s median, 3-SF oracle re-gate green).
      rank =
        if (i == 1) rankUpdate(weighted
          .select(col("dst"), expr(s"$Scale div od").as("c")),
          nodes, dPct, base, n)
        else pageRankStep(weighted, nodes, rank, dPct, base, n)
      // EAGER barrier per iteration (r14 GraphIterAB, interleaved
      // 4-rep A/B at sf0.1: eager-each 3.83 s median / 3.34 min vs
      // the previous lazy chain 4.32 / 4.03, every rep faster,
      // bit-identical ranks): the lazy chain compiled one deep
      // many-stage job whose scheduling overhead exceeded the
      // per-iteration checkpoint cost, and the eager shape also
      // bounds lineage at any iteration count. Correctness never
      // needed the barrier — fixed-point arithmetic is partition- and
      // order-independent (round 2 checkpointed to pin fold order;
      // r7-r13 ran lazy with cadence-8 lineage relief).
      if (i < iters) rank = rank.barrier(true)
    }
    // eager: the last iteration materializes here; the consumer
    // reads the checkpointed per-node ranks
    rank.barrier(true).select(col("id"),
      (col("r").cast("double") / lit(Scale.toDouble)).as("rank"))
  }

  /** One fixed-point PageRank iteration (exposed for plan-shape
    * specs: the reduction must stay a plain partial-aggregable sum —
    * never a per-destination array materialization). Joins carry
    * shuffle_hash hints: rank and the contribution sums are per-NODE
    * relations — broadcasting them is wrong at scale (and locally it
    * serializes every iteration through the driver); with the inputs
    * pre-partitioned on the join keys at `parts` the hash joins are
    * exchange-free and the iteration pays exactly one shuffle (the
    * groupBy dst). */
  private[graft] def pageRankStep(weighted: DataFrame, nodes: DataFrame,
                                  rank: DataFrame, dPct: Int,
                                  base: Long, parts: Int): DataFrame =
    rankUpdate(weighted
      .join(rank.hint("shuffle_hash"), weighted("src") === rank("id"))
      .select(col("dst"), expr("r div od").as("c")),
      nodes, dPct, base, parts)

  /** Next ranks from (dst, c) contributions. The sums land on `parts`
    * partitions, the nodes' width: the repartition is dropped when the
    * aggregate's own exchange already has that width, and otherwise
    * keeps the join and the next round co-partitioned. */
  private def rankUpdate(contrib: DataFrame, nodes: DataFrame, dPct: Int,
                         base: Long, parts: Int): DataFrame = {
    val sums = contrib.groupBy(col("dst"))
      .agg(sum(col("c").cast("decimal(38,0)")).as("s"))
      .repartition(parts, col("dst"))
    nodes.join(sums.hint("shuffle_hash"), col("node") === col("dst"), "left")
      .select(col("node").as("id"),
        (lit(base) + coalesce(expr(s"(s * $dPct) div 100"), lit(0L)))
          .as("r"))
  }

  /** Exact triangle count over the undirected simple graph induced by
    * a (src, dst) edge frame (loops dropped, parallel/reverse edges
    * collapsed).
    *
    * Scale shape — degree orientation (Cohen, "Graph Twiddling in a
    * MapReduce World", CiSE'09; the standard distributed layout):
    * every edge is oriented from its lower endpoint to its higher
    * endpoint under the total order (degree, id). Wedges are then
    * enumerated at each edge's TAIL — a node's wedge count is
    * C(out_deg, 2) and out-degree under this orientation is bounded
    * by O(sqrt(|E|)) for any graph, so a degree-10^6 hub contributes
    * ~|E| oriented wedges instead of 10^12 raw ones. The closing
    * check is an equi-join against the oriented edge set (each
    * triangle's π-smallest vertex owns it: counted exactly once).
    * Three shuffles total: degree groupBy, wedge self-join on the
    * tail, existence semi-join on the closing edge. */
  def triangleCount(edges: DataFrame): DataFrame =
    triangleCountUnd(undirected(edges))

  /** [[triangleCount]] over a pre-built [[undirectedSimple]] view.
    * The one-row count materializes eagerly, planned by the session's
    * AQE (AQE off measured a tie in paired suite runs, SURVEY §8r). */
  def triangleCountUnd(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    // orient lower (deg, id) -> higher; a < b already, so a degree tie
    // keeps a first
    val aFirst = col("da") < col("db") || (col("da") === col("db"))
    val o = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("db")).otherwise(col("da")).as("dv"))
      .barrier(true)
    val wedges = o.select(col("u"), col("v").as("v1"), col("dv").as("dv1"))
      .join(o.select(col("u").as("u2"), col("v").as("v2"),
        col("dv").as("dv2")),
        col("u") === col("u2") &&
          (col("dv1") < col("dv2") ||
            (col("dv1") === col("dv2") && col("v1") < col("v2"))))
      .select(col("v1"), col("v2"))
    wedges.join(o.select(col("u").as("v1"), col("v").as("v2")),
        Seq("v1", "v2"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
      .barrier(true)
  }

  /** Undirected simple-graph view of a (src, dst) edge frame: loops
    * dropped, parallel/reverse edges collapsed, endpoints ordered
    * a < b. The shared input of the whole-graph analytics family
    * (triangles, k-core, node similarity) — build it once per graph
    * (see MemoryGraph.undirectedView for the persisted variant) and
    * pass it to the *Und entry points. */
  def undirectedSimple(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  private def undirected(edges: DataFrame): DataFrame =
    undirectedSimple(edges).barrier(true)

  private def undDegrees(e: DataFrame): DataFrame =
    e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Bounded-round k-core peel: `rounds` iterations of (degree count,
    * drop nodes with deg < k, induce the subgraph on the survivors).
    * Converges to the exact k-core when `rounds` reaches the peel
    * depth; with a FIXED round count the result is deterministic and
    * oracle-replayable as an unrolled CTE either way (the contract the
    * driver's hash compare needs — same trade as pageRank's fixed
    * iterations). Per round: one partial-aggregable degree groupBy
    * plus two anti joins against the round's DROPPED frontier
    * (deg < k — the complement of the keep-set over exactly the nodes
    * in the edge frame, so the survivor set is identical to the
    * keep-semi-join formulation): the frontier after round 1 is the
    * handful of nodes that just fell below k (Σ over all rounds ≤
    * |V|), AQE broadcasts it from its runtime size, and the big edge
    * side is never re-exchanged; the edge set only shrinks, so round
    * cost is monotonically non-increasing — the 1000-executor shape
    * for the standard peeling algorithm.
    * Early exit: each round's barrier already materializes the edge
    * set, so its count is free — an unchanged count means no node
    * fell below k, every remaining round is the identity, and the
    * result equals the full `rounds`-deep unrolled oracle exactly.
    * Returns (node, deg) of the round-`rounds` induced subgraph. */
  def kCore(edgesIn: DataFrame, k: Int, rounds: Int): DataFrame =
    kCoreUnd(undirected(edgesIn), k, rounds)

  /** [[kCore]] over a pre-built [[undirectedSimple]] view. */
  def kCoreUnd(und0: DataFrame, k: Int, rounds: Int): DataFrame = {
    var und = und0.barrier(true)
    // input count: one cheap job over the just-materialized blocks —
    // it seeds the early-exit comparison, so a graph that is already
    // a k-core exits after round 1 instead of round 2 (identical
    // output: an unchanged count means the round was the identity
    // either way). The round's one keyed exchange, the degree
    // aggregate, is left to AQE: a loop width measured no faster
    // (SURVEY §8r).
    var prevCount = und.count()
    var r = 0
    var done = false
    while (r < rounds && !done) {
      // r16 FRONTIER reshape (guide §3.1): filter against the DROPPED
      // set (deg < k) with anti joins instead of semi joins against
      // the |V|-sized keep-set. Identical survivor set (keep is the
      // complement of dropped over exactly the nodes present in und),
      // but the build side is now the PEEL FRONTIER — after round 1
      // it is the handful of nodes that just fell below k (Σ over all
      // rounds ≤ |V|), which AQE broadcasts at runtime, so the big
      // edge side is never re-exchanged; a heavy-tailed round-1
      // frontier falls back to the shuffled join AQE picks from the
      // REAL size (no hint — the old shuffle_hash hint pinned the
      // worst case on every round).
      val dropped = undDegrees(und).where(col("deg") < k)
        .select(col("node"))
      // LAZY barrier (r15 GraphIterAB, 8-rep RANDOMIZED-order A/B at
      // sf0.1 — the r14 alternating-order arms tied on pure order
      // effects): the early-exit count below is the action that
      // materializes the round's blocks, one job per round instead of
      // two. lazy 3.24 s median / 3.09 min vs eager 3.46 / 3.17,
      // lazy ahead in 6 of 8 reps, bit-identical output (parity gate).
      und = und
        .join(dropped.select(col("node").as("a")), Seq("a"), "left_anti")
        .join(dropped.select(col("node").as("b")), Seq("b"), "left_anti")
        .barrier(false)
      val c = und.count()
      done = c == prevCount
      prevCount = c
      r += 1
    }
    undDegrees(und)
  }

  /** Neighborhood-similarity top pairs: Jaccard over undirected
    * adjacency sets, common neighbors counted by a wedge join at the
    * shared neighbor. Centers with degree > `maxCenterDeg` are
    * EXCLUDED from wedge generation — a hub center contributes
    * deg² wedge rows and (being shared by everything) no similarity
    * signal, so the cap is both the scale bound (intermediate size
    * ≤ Σ_{deg≤D} deg² ≤ D·|E|) and standard practice for
    * common-neighbor scoring; the cap is part of the operator's
    * documented semantics and mirrored exactly in the oracle.
    * Degrees in the Jaccard denominator stay UNcapped. Output: the
    * global top-`topN` pairs by (jaccard, p, q) — a
    * TakeOrderedAndProject, no full sort. */
  def nodeSimilarity(edgesIn: DataFrame, maxCenterDeg: Int,
                     topN: Int): DataFrame =
    nodeSimilarityUnd(undirected(edgesIn), maxCenterDeg, topN)

  /** [[nodeSimilarity]] over a pre-built [[undirectedSimple]] view.
    * Exact: with bounded degrees the wedge intermediate is D·|E|-flat.
    * A MinHash-banded candidate path measured slower at sf0.1 (27.7 s
    * vs 12.7 s, SURVEY §8): the most similar pairs are leaf siblings
    * with identical neighborhoods, which banding cannot prune. */
  def nodeSimilarityUnd(und0: DataFrame, maxCenterDeg: Int,
                        topN: Int): DataFrame = {
    // r17: no re-barrier of the input (the old barrier(true) copied
    // |E| rows per invocation). The view feeds three consumers
    // (degrees, both wedge sides), so the caller must hand in a
    // materialized view: `undirected()` barriers it for
    // [[nodeSimilarity]], `MemoryGraph.undirectedView` reads it at
    // rest. A lazy input is re-evaluated per consumer — three scans
    // of its source, plus its distinct, per invocation.
    val und = und0
    val deg = undDegrees(und).barrier(true)
    // the NEIGHBOR's degree rides the adjacency INTO the wedge join
    // and out through the pair aggregation as max(dp)/max(dq) —
    // functionally dependent on the group key, so max is just "the"
    // value — which deletes two pair-table degree joins: at sf0.1
    // joining degrees onto the pairs was 2 × 12.5M-row shuffles
    // for a 1.9M-row join instead (SizeProbe A/B: cold 15.2 s → 6.4 s,
    // warm parity).
    // r17: BOTH endpoint degrees attach at the EDGE level (|E| rows,
    // two shuffle-hash joins — per-node relations never broadcast at
    // scale), then a 2-element posexplode emits the two orientations
    // and the center cap is a plain FILTER on the carried center
    // degree. This replaces the r16 shape's degree join + center
    // semi-join over the 2|E|-row bidirectional union — half the join
    // probe rows, one fewer exchange, and no shared subtree to
    // re-inline (the explode is the union's single-consumer twin).
    // Row set is identical: edge (a,b) contributes (node=a, nb=b,
    // dnb=deg(b)) iff deg(a) <= cap and (node=b, nb=a, dnb=deg(a))
    // iff deg(b) <= cap — exactly the old centers semi-join.
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da"))
        .hint("shuffle_hash"), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db"))
        .hint("shuffle_hash"), Seq("b"))
    // r16 precedent kept: the capped adjacency is BARRIERED before
    // the wedge self-join — without the materialization each
    // self-join side recompiled the whole upstream (no ReusedExchange
    // fires because the two sides carry different attribute ids).
    val cadj = withDeg
      .select(explode(array(
        struct(col("a").as("node"), col("da").as("dn"),
          col("b").as("nb"), col("db").as("dnb")),
        struct(col("b").as("node"), col("db").as("dn"),
          col("a").as("nb"), col("da").as("dnb")))).as("e"))
      .where(col("e.dn") <= maxCenterDeg)
      .select(col("e.node").as("node"), col("e.nb").as("nb"),
        col("e.dnb").as("dnb"))
      .barrier(true)
    cadj.select(col("node"), col("nb").as("p"), col("dnb").as("dp"))
      .join(cadj.select(col("node"), col("nb").as("q"),
        col("dnb").as("dq")), Seq("node"))
      .where(col("p") < col("q"))
      .groupBy(col("p"), col("q"))
      .agg(count(lit(1)).as("n_common"),
        max(col("dp")).as("dp"), max(col("dq")).as("dq"))
      .select(col("p"), col("q"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("dp") + col("dq") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("p"), col("q"))
      .limit(topN)
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007)
    * over an [[undirectedSimple]] view, made fully deterministic:
    * every node starts labeled with its own id; each round every node
    * adopts the most frequent label among its neighbours, ties to the
    * LEXICOGRAPHICALLY SMALLEST label; all nodes update together from
    * the previous round's labels (no asynchronous order dependence),
    * for a FIXED `rounds` (same contract as the b18 PageRank and b24
    * k-core fixed iterations — exact whether or not converged).
    * Per round: one equi-join of the symmetric adjacency to the
    * label frame (shuffle on node id), one (node, label) count agg,
    * one min_by top-1 per node — all linear in |E|, barriered so
    * round k+1's lineage starts at round k's output. Isolated nodes
    * never appear (no neighbours ⇒ no votes ⇒ not in the view).
    *
    * Two scale shapes were measured and dropped (SURVEY §8): an
    * adjacency written once to a table bucketed on the vote-join key,
    * and a fused map-side-combinable vote aggregate. Both lost or tied
    * locally (r14/r15 interleaved A/Bs). */
  def labelPropagationUnd(und: DataFrame, rounds: Int): DataFrame = {
    // r7 shape (the r6-verdict lever, settled by an interleaved A/B:
    // scoped-minby-p16 5.6 s median vs the previous window-rank shape
    // 8.9 s in the same windows, sf0.1/local[32]):
    // 1. the per-round top-1 is ONE min_by hash aggregate over the
    //    (-cnt, label) struct — struct order encodes "most votes,
    //    ties to the smallest label" — instead of a row_number window
    //    (no per-round sort/rank pass over the label frame);
    // 2. label-frame stages run at a size-derived width (below);
    // 3. the session's AQE plans the rounds (an AQE-off scope
    //    measured a tie in paired suite runs, SURVEY §8r); every
    //    round barrier keeps its key's partitioning, so the next
    //    round's join does not re-exchange it.
    // r16: labelParts derives from the ADJACENCY SIZE (2|E| rows,
    // one cheap count of the input view) instead of half the session
    // width — the same size-derived parallelism as loopParts, so a
    // small graph stops paying 16 tasks per round for frames whose
    // per-task row counts are in the low thousands, while at cluster
    // scale the clamp returns the session width and nothing changes.
    val labelParts = joinLoopParts(und.sparkSession, 2L * und.count())
    // pre-partition the (big, round-invariant) adjacency by the
    // join key BEFORE the barrier — the barrier keeps the
    // partitioning, so every round's vote join exchanges only the
    // small label frame
    // r17: LAZY — the rounds are already lazy (r14), so the eager
    // flavor's separate adjacency job only added a job boundary;
    // the consumer's one action materializes the adjacency blocks
    // first and every round reads them.
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
      .repartition(labelParts, col("nbr")).barrier(false)
    var lab = adj.select(col("node")).distinct()
      .withColumn("label", col("node"))
    for (r <- 1 to rounds) {
      if (r == 1) {
        // ROUND-1 CLOSED FORM: at round 0 label(x) = x, and the
        // undirectedSimple adjacency has no loops or parallel
        // edges, so node n's votes are exactly its (distinct)
        // neighbor ids — every count is 1 and "most frequent, ties
        // to the smallest label" degenerates to min(nbr). One
        // map-side-combinable agg replaces the round's label join,
        // |E|-row re-exchange and two-aggregate vote fold (r15
        // same-session isolated 5-pass A/B at sf0.1: b28
        // 6.61→3.82 s median / 5.12→3.22 min; bit-identical by the
        // argument above and by the 3-SF oracle re-gate).
        lab = adj.groupBy(col("node"))
          .agg(min(col("nbr")).as("label"))
          .barrier(false)
      } else {
        // one exchange per round: hashpartitioning(node) satisfies
        // the (node, label) vote count's clustered distribution
        // (subset key) AND the per-node min_by's, so both
        // aggregates run exchange-free on the repartitioned join
        // output. LAZY round barriers (r14, interleaved 4-rep A/B
        // at sf0.1: lazy 5.86 s median, tight [5.40-6.09], vs eager
        // 7.47 median with 4.95-8.26 spread, bit-identical labels):
        // under AQE a lazy barrier runs the round's shuffle stage
        // when it is built and leaves the round's last stage to the
        // consumer's action. Lineage still truncates at every round,
        // so the plan never deepens past one round.
        lab = adj
          .join(lab.select(col("node").as("nbr"), col("label")), "nbr")
          .repartition(labelParts, col("node"))
          .groupBy(col("node"), col("label")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("node"))
          .agg(min_by(col("label"),
            struct((-col("cnt")).as("nc"), col("label"))).as("label"))
          .barrier(false)
      }
    }
    lab
  }
}
