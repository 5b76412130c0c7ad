package graft.operators

import org.apache.spark.sql.functions._
import graft.api.{Q, Suite}
import graft.graph.MemoryGraph
import graft.functions.{TextOps, VectorOps}
import graft.model.Tables

/** B-suite: mie's query surface re-expressed over [[MemoryGraph]]
  * (see SURVEY.md §2B for the reference-method ↔ query mapping).
  * Every traversal is a join; the only driver-side action is the
  * point-lookup of a chain head (b6), mirroring the reference API
  * that takes a node id.
  */
object GraphSuite extends Suite {

  private val N = MemoryGraph.Sql.nodes
  private val E = MemoryGraph.Sql.edges

  val b1 = Q(
    "b1_node_lookup",
    (s, d) => {
      val g = MemoryGraph.persisted(s, d)
      Seq("ent:c:42", "fact:7", "dec:100", "evt:999", "topic:BUILDING")
        .map(g.node)
        .reduce(_ unionAll _)
        .orderBy(col("id"))
    },
    Some(s"""
      WITH nodes AS ($N)
      SELECT id, ntype, content, attr, score FROM nodes
      WHERE id IN ('ent:c:42','fact:7','dec:100','evt:999','topic:BUILDING')
      ORDER BY id"""))

  val b2 = Q(
    "b2_list_nodes",
    (s, d) => MemoryGraph.persisted(s, d)
      .list("fact", Some("en"), col("score").desc, limit = 20, offset = 10),
    Some(s"""
      WITH nodes AS ($N)
      SELECT pos, id, content, attr, score, total_count FROM (
        SELECT *,
          ROW_NUMBER() OVER (ORDER BY score DESC, id) AS pos,
          COUNT(*) OVER () AS total_count
        FROM nodes WHERE ntype = 'fact' AND attr = 'en') t
      WHERE pos > 10 AND pos <= 30
      ORDER BY pos"""))

  val b3 = Q(
    "b3_exact_search",
    (s, d) => MemoryGraph.persisted(s, d)
      .exactSearch("1", Seq("decision", "entity"), perType = 15)
      .orderBy(col("ntype"), col("rk")),
    Some(s"""
      WITH nodes AS ($N)
      SELECT ntype, rk, id, content, attr FROM (
        SELECT ntype, id, content, attr,
          ROW_NUMBER() OVER (PARTITION BY ntype ORDER BY id) AS rk
        FROM nodes
        WHERE ntype IN ('decision','entity') AND position('1' IN content) > 0) t
      WHERE rk <= 15
      ORDER BY ntype, rk"""))

  val b4 = Q(
    "b4_graph_1hop",
    (s, d) => MemoryGraph.persisted(s, d)
      .inNeighbors("ent:c:42", "fact_entity")
      .select(col("id"), col("content"), col("attr"), col("score"))
      .orderBy(col("id")),
    Some("""
      SELECT 'fact:' || CAST(doc_id AS VARCHAR) AS id, text AS content,
             lang AS attr, CAST(n_chars AS DOUBLE) AS score
      FROM documents
      WHERE doc_id % (SELECT COUNT(*) FROM customer) = 42
      ORDER BY id"""))

  val b5 = Q(
    "b5_graph_2hop",
    (s, d) => {
      val g = MemoryGraph.persisted(s, d)
      val de = g.edges.where(col("etype") === "decision_entity")
      val toCust = de.where(col("dst") === "ent:c:42")
        .select(col("src").as("dec_id"))
      val toPart = de.where(col("prop") === "part")
        .select(col("src").as("dec_id2"), col("dst").as("part_id"))
      toCust.join(toPart, col("dec_id") === col("dec_id2"))
        .select(col("part_id")).distinct()
        .join(g.nodes, col("part_id") === col("id"))
        .select(col("id"), col("content"), col("attr"), col("score"))
        .orderBy(col("id"))
    },
    Some("""
      SELECT DISTINCT 'ent:p:' || CAST(p_partkey AS VARCHAR) AS id,
             p_name AS content, 'part' AS attr, p_retailprice AS score
      FROM orders
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN part ON p_partkey = l_partkey
      WHERE o_custkey = 42
      ORDER BY id"""))

  val b6 = Q(
    "b6_invalidation_chain",
    (s, d) => {
      val g = MemoryGraph.persisted(s, d)
      val startId = Tables.events(s, d)
        .where(col("user_id") === 7 && col("event_type") === "view")
        .agg(max(col("event_id"))).first().getLong(0)
      g.walk(s"evt:$startId", "invalidates", maxHops = 200,
          edgeFilter = Some(col("prop") === "view"))
        .orderBy(col("step"))
    },
    Some("""
      WITH RECURSIVE inv AS (
        SELECT 'evt:' || CAST(event_id AS VARCHAR) AS src,
               'evt:' || CAST(prev_id AS VARCHAR) AS dst,
               event_type AS prop
        FROM (SELECT event_id, event_type,
                LAG(event_id) OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS prev_id
              FROM events) t
        WHERE prev_id IS NOT NULL
      ), chain AS (
        SELECT 1 AS step, e.src, e.dst, e.prop FROM inv e
        WHERE e.src = (SELECT 'evt:' || CAST(MAX(event_id) AS VARCHAR)
                       FROM events WHERE user_id = 7 AND event_type = 'view')
        UNION ALL
        SELECT c.step + 1, e.src, e.dst, e.prop
        FROM inv e JOIN chain c ON e.src = c.dst
      )
      SELECT step, src, dst, prop FROM chain ORDER BY step"""))

  val b7 = Q(
    "b7_conflict_detect",
    (s, d) => {
      // mie DetectConflicts (conflicts.go:34): similar-enough fact
      // pairs within a category. Here: same-label cosine >= 0.30,
      // exact, via the triangle-blocked equi-join (no nested loop;
      // hot labels still split across block-pair tasks). The
      // approximate full-corpus path is the LSH/k-NN probe the
      // reference uses (conflicts.go:85-96) — see Ann.lshTopK.
      Dedup.keyedEmbeddingPairs(Tables.embeddings(s, d),
          "vec_id", "embedding", "label", tau = 0.30)
        .select(col("id_a"), col("id_b"), col("key").as("label"), col("sim"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
             ${VectorOps.cosine6Sql("a.embedding", "b.embedding")} AS sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ${VectorOps.cosine6Sql("a.embedding", "b.embedding")} >= 0.30
      ORDER BY id_a, id_b"""))

  val b8 = Q(
    "b8_semantic_topk",
    (s, d) => {
      // mie SemanticSearch (reader.go:38): query embedding -> top-k by
      // cosine. Query vector = embedding of vec_id 0; broadcast it so
      // the scan side streams with no shuffle.
      val e = Tables.embeddings(s, d)
      val q = broadcast(e.where(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"),
          VectorOps.norm(col("embedding")).as("q_nrm")))
      e.where(col("vec_id") =!= 0)
        .crossJoin(q)
        .withColumn("sim", VectorOps.cosine6Pre(col("embedding"), col("q_emb"),
          VectorOps.norm(col("embedding")), col("q_nrm")))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), col("sim"))
    },
    Some(s"""
      SELECT b.vec_id, b.label,
             ${VectorOps.cosine6Sql("b.embedding", "q.embedding")} AS sim
      FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      WHERE b.vec_id <> 0
      ORDER BY sim DESC, b.vec_id
      LIMIT 10"""))

  val b9 = Q(
    "b9_graph_stats",
    (s, d) => MemoryGraph.persisted(s, d).stats(),
    Some(s"""
      WITH nodes AS ($N), edges AS ($E)
      SELECT 'nodes_' || ntype AS metric, COUNT(*) AS n FROM nodes GROUP BY ntype
      UNION ALL
      SELECT 'edges_' || etype, COUNT(*) FROM edges GROUP BY etype
      ORDER BY metric"""))

  val b10 = Q(
    "b10_export_graph",
    (s, d) => MemoryGraph.persisted(s, d).export(),
    Some(s"""
      WITH nodes AS ($N)
      SELECT id, ntype, content, attr, score FROM nodes
      ORDER BY ntype, id"""))

  val b11 = Q(
    "b11_valid_view",
    // validNodes: a node is valid iff no invalidates edge points at
    // it. Like mie's stored `valid` flag (writer.go:230), the persisted
    // layout stores it, so this reads one pruned, filtered scan.
    // For events that means: the newest event of each (user, type).
    (s, d) => MemoryGraph.persisted(s, d)
      .validNodes("event")
      .orderBy(col("id")),
    Some("""
      SELECT 'evt:' || CAST(event_id AS VARCHAR) AS id, 'event' AS ntype,
             event_type AS content, strftime(ts, '%Y-%m-%d') AS attr,
             value AS score
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
              ORDER BY ts DESC, event_id DESC) AS rk FROM events) t
      WHERE rk = 1
      ORDER BY id"""))

  val b12 = Q(
    "b12_analyze",
    // mie_analyze (tools/analyze.go): before storing candidate
    // content, surface (a) the most-related existing nodes and (b) the
    // potential conflicts. Candidate = embedding of vec_id 0; related
    // = global top-5 by cosine, conflicts = same-category sims >= 0.30.
    (s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        col("embedding"), VectorOps.norm(col("embedding")).as("nrm"))
      val cand = broadcast(e.where(col("vec_id") === 0).select(
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
        col("label").as("q_label")))
      val scored = e.where(col("vec_id") =!= 0).crossJoin(cand)
        .withColumn("sim", VectorOps.cosine6Pre(col("embedding"), col("q_emb"),
          col("nrm"), col("q_nrm")))
      val related = scored.orderBy(col("sim").desc, col("vec_id")).limit(5)
        .select(lit("related").as("section"), col("vec_id"), col("label"), col("sim"))
      val conflicts = scored
        .where(col("label") === col("q_label") && col("sim") >= 0.30)
        .select(lit("conflict").as("section"), col("vec_id"), col("label"), col("sim"))
      related.unionAll(conflicts)
        .orderBy(col("section"), col("vec_id"))
    },
    Some(s"""
      WITH cand AS (
        SELECT embedding AS q_emb, label AS q_label FROM embeddings WHERE vec_id = 0),
      scored AS (
        SELECT b.vec_id, b.label, c.q_label,
               ${VectorOps.cosine6Sql("b.embedding", "c.q_emb")} AS sim
        FROM embeddings b, cand c WHERE b.vec_id <> 0)
      SELECT section, vec_id, label, sim FROM (
        SELECT 'related' AS section, vec_id, label, sim FROM scored
        ORDER BY sim DESC, vec_id LIMIT 5)
      UNION ALL
      SELECT 'conflict', vec_id, label, sim FROM scored
      WHERE label = q_label AND sim >= 0.30
      ORDER BY section, vec_id"""))

  val b13 = Q(
    "b13_degree_centrality",
    // Relationship analytics over the memory graph: total degree
    // (in + out) per node, top-20 hubs. Two groupBys + an outer merge —
    // the DataFrame-native shape of GraphX degrees (no RDDs needed).
    (s, d) => {
      val g = MemoryGraph.persisted(s, d)
      val outDeg = g.edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("out_deg"))
      val inDeg = g.edges.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("in_deg"))
      outDeg.join(inDeg, Seq("node"), "full_outer")
        .select(col("node"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"))
        .withColumn("degree", col("out_deg") + col("in_deg"))
        .orderBy(col("degree").desc, col("node"))
        .limit(20)
    },
    Some(s"""
      WITH edges AS ($E),
      outd AS (SELECT src AS node, COUNT(*) AS out_deg FROM edges GROUP BY src),
      ind AS (SELECT dst AS node, COUNT(*) AS in_deg FROM edges GROUP BY dst)
      SELECT COALESCE(outd.node, ind.node) AS node,
             COALESCE(out_deg, 0) AS out_deg,
             COALESCE(in_deg, 0) AS in_deg,
             COALESCE(out_deg, 0) + COALESCE(in_deg, 0) AS degree
      FROM outd FULL OUTER JOIN ind ON outd.node = ind.node
      ORDER BY degree DESC, node
      LIMIT 20"""))

  val b14 = Q(
    "b14_connected_components",
    // Generic distributed CC over the invalidates subgraph; the chains
    // are per-(user, type), so the oracle's closed form is the group
    // min — the algorithm doesn't know that.
    (s, d) => MemoryGraph.persisted(s, d)
      .connectedComponents("invalidates")
      .orderBy(col("node")),
    Some("""
      SELECT node, MIN(node) OVER (PARTITION BY user_id, event_type) AS component
      FROM (
        SELECT user_id, event_type,
               'evt:' || CAST(event_id AS VARCHAR) AS node,
               COUNT(*) OVER (PARTITION BY user_id, event_type) AS cnt
        FROM events) t
      WHERE cnt >= 2
      ORDER BY node"""))

  val b15 = Q(
    "b15_path_centrality",
    // Katz-style centrality with exact integer arithmetic: score_K(v)
    // = number of inbound paths of length <= K ending at v (score_0 =
    // 1 everywhere; score_{k+1} = 1 + sum over in-edges of the
    // source's score_k). Integer path counts are order-independent,
    // so the distributed sums hash-match exactly — the float-free way
    // to grade iterative centrality. K = 3.
    (s, d) => {
      import graft.util.Barriers.BarrierOps
      val g = MemoryGraph.persisted(s, d)
      // edge frame pre-partitioned on the per-iteration join key and
      // materialized ONCE; per-iteration score barriers are the b18
      // GraphIterAB winner applied here (same 3-round join/agg
      // dataflow; same-session A/B in §8p addendum). r16: the edge
      // frame takes a size-derived width (GraphAlgo.loopParts).
      val eSrc = g.edges.select(col("src"), col("dst"))
      val n = graft.graph.GraphAlgo.joinLoopParts(s, eSrc.count())
      val e = eSrc.repartition(n, col("src")).barrier(true)
      var score = g.nodes.select(col("id").as("node"), lit(1L).as("score"))
      (1 to 3).foreach { i =>
        val contrib = e.join(score.hint("shuffle_hash"),
            col("src") === col("node"))
          .groupBy(col("dst")).agg(sum(col("score")).as("in_score"))
        score = g.nodes.select(col("id").as("node"))
          .join(contrib.hint("shuffle_hash"),
            col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(1L) + coalesce(col("in_score"), lit(0L))).as("score"))
        if (i < 3) score = score.barrier(true)
      }
      score.orderBy(col("score").desc, col("node")).limit(25)
    },
    Some(s"""
      WITH nodes AS ($N), e AS (SELECT src, dst FROM ($E) t),
      s0 AS (SELECT id AS node, CAST(1 AS BIGINT) AS score FROM nodes),
      s1 AS (SELECT n.node, CAST(1 + COALESCE(c.in_score, 0) AS BIGINT) AS score
             FROM s0 n LEFT JOIN (
               SELECT dst, CAST(SUM(score) AS BIGINT) AS in_score
               FROM e JOIN s0 ON src = node
               GROUP BY dst) c ON n.node = c.dst),
      s2 AS (SELECT n.node, CAST(1 + COALESCE(c.in_score, 0) AS BIGINT) AS score
             FROM s1 n LEFT JOIN (
               SELECT dst, CAST(SUM(score) AS BIGINT) AS in_score
               FROM e JOIN s1 ON src = node
               GROUP BY dst) c ON n.node = c.dst),
      s3 AS (SELECT n.node, CAST(1 + COALESCE(c.in_score, 0) AS BIGINT) AS score
             FROM s2 n LEFT JOIN (
               SELECT dst, CAST(SUM(score) AS BIGINT) AS in_score
               FROM e JOIN s2 ON src = node
               GROUP BY dst) c ON n.node = c.dst)
      SELECT node, CAST(score AS BIGINT) AS score FROM s3
      ORDER BY score DESC, node
      LIMIT 25"""))

  val b16 = Q(
    "b16_semantic_multitype",
    // mie SemanticSearch with node_type = multiple (reader.go:38-119):
    // per-type ranked heads, merged and re-ranked globally. perType=5
    // per table, global k=10 — at most 5 from any one type.
    (s, d) => MemoryGraph.persisted(s, d)
      .semanticSearch("correlated telemetry",
        Seq("decision", "entity", "fact"), perType = 5, k = 10)
      .orderBy(col("sim").desc, col("id")),
    Some {
      val qEmb = VectorOps.mockEmbeddingSql(
        TextOps.polyHashSql("'correlated telemetry'"), 16)
      val nEmb = VectorOps.mockEmbeddingSql(
        TextOps.polyHashSql("content"), 16)
      s"""
      WITH nodes AS ($N),
      qe AS (SELECT list_transform($qEmb, x -> CAST(x AS FLOAT)) AS q_emb),
      embedded AS (
        SELECT ntype, id,
               list_transform($nEmb, x -> CAST(x AS FLOAT)) AS emb
        FROM nodes WHERE ntype IN ('decision', 'entity', 'fact')),
      scored AS (
        SELECT ntype, id,
               ${VectorOps.cosine6Sql("emb", "q_emb")} AS sim
        FROM embedded CROSS JOIN qe),
      ranked AS (
        SELECT ntype, id, sim,
               ROW_NUMBER() OVER (PARTITION BY ntype
                 ORDER BY sim DESC, id) AS rk
        FROM scored)
      SELECT ntype, id, sim FROM ranked
      WHERE rk <= 5
      ORDER BY sim DESC, id
      LIMIT 10"""
    })

  val b17 = Q(
    "b17_batch_ingest",
    // Batch ingestion (batcher.go / bulk_store.go): append a 50-doc
    // node batch + its edges via storeAll (one union branch per
    // batch), then answer a query THROUGH the amended graph.
    (s, d) => {
      val g = MemoryGraph.persisted(s, d)
      val docs = Tables.documents(s, d).where(col("doc_id") < 50)
      val newNodes = docs.select(
        concat(lit("fact:b:"), col("doc_id")).as("id"),
        lit("fact").as("ntype"), col("text").as("content"),
        lit("bulk").as("attr"), col("n_chars").cast("double").as("score"))
      val newEdges = docs.select(lit("fact_entity").as("etype"),
        concat(lit("fact:b:"), col("doc_id")).as("src"),
        concat(lit("ent:c:"), col("doc_id") % 10).as("dst"),
        lit("bulk").as("prop"))
      val g2 = g.storeAll(newNodes, newEdges)
      g2.edges.where(col("prop") === "bulk")
        .groupBy(col("dst")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(g2.nodes.where(col("attr") === "bulk")
          .agg(count(lit(1)).as("batch_nodes"))))
        .orderBy(col("dst"))
    },
    Some("""
      SELECT 'ent:c:' || CAST(doc_id % 10 AS VARCHAR) AS dst,
             COUNT(*) AS n,
             (SELECT COUNT(*) FROM documents WHERE doc_id < 50) AS batch_nodes
      FROM documents WHERE doc_id < 50
      GROUP BY 1 ORDER BY dst"""))

  val b18 = Q(
    "b18_pagerank",
    // Dataflow PageRank over the full typed multigraph, 3 fixed
    // iterations, §4-deterministic via integer fixed-point arithmetic
    // (plain order-independent sums, partial-agg friendly — see
    // GraphAlgo.pageRank). Top-20 hubs.
    (s, d) => {
      val g = MemoryGraph.persisted(s, d)
      graft.graph.GraphAlgo
        .pageRank(g.edges.select(col("src"), col("dst")), iters = 3)
        .select(col("id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("id"))
        .limit(20)
    },
    Some {
      // fixed-point mirror of GraphAlgo.pageRank: bigint ranks scaled
      // by 1e12, truncating integer division, exact integer sums
      def iter(prev: String, cur: String) = s"""
      $cur AS (
        SELECT n.node AS id,
               CAST(150000000000 + COALESCE((s.s * 85) // 100, 0)
                 AS BIGINT) AS r
        FROM n LEFT JOIN (
          SELECT e.dst, SUM(r.r // od.od) AS s
          FROM e JOIN $prev r ON e.src = r.id
                 JOIN od ON e.src = od.src
          GROUP BY e.dst) s ON n.node = s.dst)"""
      s"""
      WITH edges_all AS ($E),
      e AS (SELECT src, dst FROM edges_all),
      n AS (SELECT DISTINCT node FROM
        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
      od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
      r0 AS (SELECT node AS id, CAST(1000000000000 AS BIGINT) AS r FROM n),
      ${iter("r0", "r1")},
      ${iter("r1", "r2")},
      ${iter("r2", "r3")}
      SELECT id, round(CAST(r AS DOUBLE) / 1000000000000.0, 6) AS rank
      FROM r3
      ORDER BY rank DESC, id
      LIMIT 20"""
    })

  val b19 = Q(
    "b19_list_valid",
    // ListNodes with the validity condition COMPOSED into the filter
    // chain (reader.go:240-259 builds category/status/kind AND
    // valid=true in one query — mie's default listing mode): valid
    // events of one day, sorted + paginated + total_count.
    (s, d) => MemoryGraph.persisted(s, d)
      .list("event", Some("2024-01-29"), col("score").desc,
        limit = 15, offset = 5, validOnly = true),
    Some(s"""
      WITH nodes AS ($N), edges AS ($E),
      valid AS (
        SELECT n.* FROM nodes n
        WHERE n.ntype = 'event' AND n.attr = '2024-01-29'
          AND NOT EXISTS (SELECT 1 FROM edges e
                          WHERE e.etype = 'invalidates' AND e.dst = n.id)),
      total AS (SELECT COUNT(*) AS total_count FROM valid),
      page AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS pos
        FROM valid)
      SELECT pos, id, content, attr, score, total_count
      FROM page CROSS JOIN total
      WHERE pos > 5 AND pos <= 20
      ORDER BY pos"""))

  val b20 = Q(
    "b20_update",
    // mie_update (update.go:19-84: invalidate / update_status /
    // update_description), read back THROUGH the amended graph (the
    // b17 pattern): fact:3 is invalidated by fact:5, decision dec:1's
    // status attr is rewritten, then the query lists (a) the two
    // decisions (one updated, one control) and (b) the valid view of
    // the two facts — the invalidated one must drop out.
    (s, d) => {
      val g2 = MemoryGraph.persisted(s, d)
        .invalidate(oldId = "fact:3", newId = "fact:5",
          reason = "superseded")
        .updateAttr("dec:1", "X")
      val decs = g2.nodes.where(col("id").isin("dec:1", "dec:2"))
        .select(lit("decision").as("section"), col("id"), col("attr"))
      val validFacts = g2.validNodes("fact")
        .where(col("id").isin("fact:3", "fact:5"))
        .select(lit("valid_fact").as("section"), col("id"), col("attr"))
      decs.unionAll(validFacts).orderBy(col("section"), col("id"))
    },
    Some(s"""
      WITH nodes AS ($N), edges AS ($E),
      amended_edges AS (
        SELECT etype, src, dst, prop FROM edges
        UNION ALL
        SELECT 'invalidates', 'fact:5', 'fact:3', 'superseded'),
      amended_nodes AS (
        SELECT id, ntype, content,
               CASE WHEN id = 'dec:1' THEN 'X' ELSE attr END AS attr,
               score
        FROM nodes)
      SELECT section, id, attr FROM (
        SELECT 'decision' AS section, id, attr FROM amended_nodes
        WHERE id IN ('dec:1', 'dec:2')
        UNION ALL
        SELECT 'valid_fact', id, attr FROM amended_nodes n
        WHERE ntype = 'fact' AND id IN ('fact:3', 'fact:5')
          AND NOT EXISTS (SELECT 1 FROM amended_edges e
                          WHERE e.etype = 'invalidates' AND e.dst = n.id))
      ORDER BY section, id"""))

  val b21 = Q(
    "b21_shortest_paths",
    // Weighted single-source shortest paths over the typed multigraph
    // — relationship analytics past the reference's 1-hop reads. K=4
    // Bellman-Ford relaxation rounds expressed as joins (the Pregelix
    // dataflow shape; frontier joins, never an edge-relation
    // self-composition, so no |E|² blowup on dense types). Integer
    // min-plus is order-independent, so the distributed mins are
    // §4-deterministic with no float rules needed. Edge weight =
    // portable string-length mix in 1..7 (identical on both engines).
    (s, d) => {
      import graft.util.Barriers.BarrierOps
      val g = MemoryGraph.persisted(s, d)
      val inf = Long.MaxValue
      // edge frame pre-partitioned on the relaxation join key and
      // materialized once; per-round dist barriers (the b18/b15
      // GraphIterAB winner — same bounded-round join/agg dataflow).
      // r16: size-derived edge-frame width (GraphAlgo.loopParts).
      val eSrc = g.edges.select(col("src"), col("dst"),
        ((length(col("src")) * 3 + length(col("dst")) * 5) % 7 + 1)
          .cast("long").as("w"))
      val n = graft.graph.GraphAlgo.joinLoopParts(s, eSrc.count())
      val e = eSrc.repartition(n, col("src")).barrier(true)
      // seed from a LocalRelation so `node` is a genuine attribute:
      // a lit() seed constant-folds into the first join's condition,
      // which drops the equi-key and degrades it to a nested loop
      var dist = s.createDataFrame(Seq(("evt:0", 0L)))
        .toDF("node", "dist")
      (1 to 4).foreach { i =>
        val relaxed = e.join(dist.hint("shuffle_hash"),
            col("src") === col("node"))
          .select(col("dst").as("node2"), (col("dist") + col("w")).as("nd"))
          .groupBy(col("node2")).agg(min(col("nd")).as("nd"))
        dist = dist.join(relaxed, col("node") === col("node2"), "full_outer")
          .select(coalesce(col("node"), col("node2")).as("node"),
            least(coalesce(col("dist"), lit(inf)),
              coalesce(col("nd"), lit(inf))).as("dist"))
        if (i < 4) dist = dist.barrier(true)
      }
      dist.orderBy(col("dist"), col("node")).limit(25)
    },
    Some {
      val inf = Long.MaxValue
      def iter(prev: String, cur: String) = s"""
      $cur AS (
        SELECT COALESCE(p.node, r.node2) AS node,
               LEAST(COALESCE(p.dist, $inf), COALESCE(r.nd, $inf)) AS dist
        FROM $prev p FULL OUTER JOIN (
          SELECT e.dst AS node2, MIN(p2.dist + e.w) AS nd
          FROM e JOIN $prev p2 ON e.src = p2.node
          GROUP BY e.dst) r ON p.node = r.node2)"""
      s"""
      WITH edges_all AS ($E),
      e AS (SELECT src, dst,
              CAST((length(src)*3 + length(dst)*5) % 7 + 1 AS BIGINT) AS w
            FROM edges_all),
      d0 AS (SELECT 'evt:0' AS node, CAST(0 AS BIGINT) AS dist),
      ${iter("d0", "d1")},
      ${iter("d1", "d2")},
      ${iter("d2", "d3")},
      ${iter("d3", "d4")}
      SELECT node, dist FROM d4
      ORDER BY dist, node
      LIMIT 25"""
    })

  val b22 = Q(
    "b22_export_filtered",
    // Per-type export options (export.go's node_types option): the
    // filtered dump prunes to the requested ntype partitions of the
    // persisted layout instead of scanning the full node set.
    (s, d) => MemoryGraph.persisted(s, d)
      .export(Seq("decision", "topic")),
    Some(s"""
      WITH nodes AS ($N)
      SELECT id, ntype, content, attr, score FROM nodes
      WHERE ntype IN ('decision', 'topic')
      ORDER BY ntype, id"""))

  val b23 = Q(
    "b23_triangle_count",
    // Exact triangle count over the undirected memory graph via
    // degree orientation (bounded-intermediate wedge join — see
    // GraphAlgo.triangleCount). The oracle is the naive canonical
    // 3-way join: a<b<c with all three edges present.
    (s, d) => graft.graph.GraphAlgo
      .triangleCountUnd(MemoryGraph.undirectedView(s, d)),
    Some(s"""
      WITH edges AS ($E),
      und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b"""))

  val b24 = Q(
    "b24_kcore",
    // Bounded-round k-core peel (k=3, 4 rounds) over the undirected
    // memory graph — see GraphAlgo.kCore for the per-round shape. The
    // fixed round count makes the oracle an unrolled CTE (exact
    // whether or not the peel has converged, same contract as b18's
    // fixed PageRank iterations).
    (s, d) => graft.graph.GraphAlgo
      .kCoreUnd(MemoryGraph.undirectedView(s, d), k = 3, rounds = 4)
      .orderBy(col("node")),
    Some {
      // AS MATERIALIZED: each round references the previous edge set
      // multiple times (degree count + two endpoint filters) — without
      // the hint DuckDB inlines the CTE per reference and the 4-round
      // chain expands exponentially (OOM at sf0.1)
      val rounds = (1 to 4).map { r =>
        s"""d$r AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
              SELECT a AS node FROM e${r - 1}
              UNION ALL SELECT b FROM e${r - 1}) GROUP BY 1),
        n$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= 3),
        e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
                WHERE a IN (SELECT node FROM n$r)
                  AND b IN (SELECT node FROM n$r))"""
      }.mkString(",\n      ")
      s"""
      WITH edges AS ($E),
      e0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
      $rounds
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4)
      GROUP BY 1
      ORDER BY node"""
    })

  val b25 = Q(
    "b25_node_similarity",
    // Top-20 node pairs by neighborhood Jaccard (common-neighbor
    // wedge join at centers with deg <= 256 — the hub cap is part of
    // the semantics; see GraphAlgo.nodeSimilarity).
    (s, d) => graft.graph.GraphAlgo
      .nodeSimilarityUnd(MemoryGraph.undirectedView(s, d),
        maxCenterDeg = 256, topN = 20)
      .orderBy(col("jaccard").desc, col("p"), col("q")),
    Some(s"""
      WITH edges AS ($E),
      und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM edges WHERE src <> dst),
      adj AS (SELECT a AS node, b AS nb FROM und
              UNION ALL SELECT b, a FROM und),
      deg AS (SELECT node, COUNT(*) AS deg FROM adj GROUP BY 1),
      cadj AS (SELECT adj.node, adj.nb FROM adj
               JOIN deg USING (node) WHERE deg.deg <= 256),
      common AS (
        SELECT x.nb AS p, y.nb AS q, COUNT(*) AS n_common
        FROM cadj x JOIN cadj y ON x.node = y.node AND x.nb < y.nb
        GROUP BY 1, 2)
      SELECT p, q, n_common,
             round(n_common * 1.0 / (dp.deg + dq.deg - n_common), 6)
               AS jaccard
      FROM common
        JOIN deg dp ON dp.node = p
        JOIN deg dq ON dq.node = q
      ORDER BY jaccard DESC, p, q
      LIMIT 20"""))

  val b26 = Q(
    "b26_point_lookups",
    // The reference's three content point lookups dispatched in one
    // query (reader.go:385-461 FindEntityByName / FindFactByContent /
    // FindDecisionByTitle): case-insensitive name equality, content
    // substring, title substring — each ':limit 1' as deterministic
    // min-id, each pruning its ntype partition before content is read.
    (s, d) => {
      val g = MemoryGraph.persisted(s, d)
      def tag(df: org.apache.spark.sql.DataFrame, t: String) =
        df.select(lit(t).as("lookup"), col("id"), col("ntype"),
          col("content"), col("attr"))
      tag(g.findByName("entity", "customer#000000042"), "entity_by_name")
        .unionAll(tag(g.findFactByContent("slow small filter"),
          "fact_by_content"))
        .unionAll(tag(g.findDecisionByTitle("URGENT"), "decision_by_title"))
        .orderBy(col("lookup"))
    },
    Some(s"""
      WITH nodes AS ($N),
      ent AS (SELECT 'entity_by_name' AS lookup, id, ntype, content, attr
              FROM nodes WHERE ntype = 'entity'
                AND lower(content) = 'customer#000000042'
              ORDER BY id LIMIT 1),
      fct AS (SELECT 'fact_by_content' AS lookup, id, ntype, content, attr
              FROM nodes WHERE ntype = 'fact'
                AND position('slow small filter' IN content) > 0
              ORDER BY id LIMIT 1),
      dec AS (SELECT 'decision_by_title' AS lookup, id, ntype, content, attr
              FROM nodes WHERE ntype = 'decision'
                AND position('URGENT' IN content) > 0
              ORDER BY id LIMIT 1)
      SELECT * FROM ent UNION ALL SELECT * FROM fct UNION ALL
      SELECT * FROM dec
      ORDER BY lookup"""))

  val b27 = Q(
    "b27_datalog_export",
    // The Datalog text rendering (GraphIO.toDatalogCapped — the
    // reference's 100 KB export cap, adapted per relation) under a
    // HARD oracle gate: per relation, the capped dump's line count,
    // kept-octet total, and a modular poly-hash checksum over every
    // rendered line INCLUDING the truncation markers. The oracle
    // re-renders the whole dump text from scratch in DuckDB, so any
    // drift in quoting, score formatting, line order, cap accounting
    // or trailer text breaks the hash.
    (s, d) => {
      val g = MemoryGraph.persisted(s, d)
      graft.sources.GraphIO.toDatalogCapped(g, maxBytes = 100000L)
        .select(col("rel"), col("datalog"),
          TextOps.polyHash(col("datalog")).cast("decimal(38,0)").as("ph"))
        .groupBy(col("rel"))
        .agg(count(lit(1)).as("n_lines"),
          sum(octet_length(col("datalog")).cast("long")).as("n_octets"),
          expr("cast(pmod(sum(ph), 1000000007) as bigint)").as("checksum"))
        .orderBy(col("rel"))
    },
    Some(s"""
      WITH nodes AS ($N), edges AS ($E),
      nl AS (
        SELECT ntype AS rel,
               '?[id, content, attr, score] <- [[''' ||
               replace(id, '''', '\''') || ''', ''' ||
               replace(content, '''', '\''') || ''', ''' ||
               replace(attr, '''', '\''') || ''', ' ||
               CAST(CAST(score AS DECIMAL(25,6)) AS VARCHAR) ||
               ']] :put graft_' || ntype ||
               ' { id => content, attr, score }' AS datalog
        FROM nodes),
      el AS (
        SELECT etype AS rel,
               '?[src, dst, prop] <- [[''' ||
               replace(src, '''', '\''') || ''', ''' ||
               replace(dst, '''', '\''') || ''', ''' ||
               replace(prop, '''', '\''') ||
               ''']] :put graft_' || etype ||
               ' { src, dst => prop }' AS datalog
        FROM edges),
      cum AS (
        SELECT rel, datalog,
               SUM(strlen(datalog) + 1)
                 OVER (PARTITION BY rel ORDER BY datalog) AS cum
        FROM (SELECT * FROM nl UNION ALL SELECT * FROM el)),
      kept AS (SELECT rel, datalog FROM cum WHERE cum <= 100000),
      markers AS (
        SELECT rel, '// ... (output truncated, export is ' ||
               CAST(total AS VARCHAR) || ' bytes)' AS datalog
        FROM (SELECT rel, MAX(cum) AS total FROM cum GROUP BY 1)
        WHERE total > 100000),
      dump AS (SELECT * FROM kept UNION ALL SELECT * FROM markers)
      SELECT rel, COUNT(*) AS n_lines,
             CAST(SUM(strlen(datalog)) AS BIGINT) AS n_octets,
             CAST(((SUM(ph) % 1000000007) + 1000000007) % 1000000007
               AS BIGINT) AS checksum
      FROM (SELECT rel, datalog, ${TextOps.polyHashSql("datalog")} AS ph
            FROM dump)
      GROUP BY rel ORDER BY rel"""))

  val b28 = Q(
    "b28_label_propagation",
    // Deterministic synchronous label propagation (3 fixed rounds,
    // most-frequent neighbour label, ties to the smallest label —
    // see GraphAlgo.labelPropagationUnd) over the persisted
    // undirected view. Communities are finer than b14's components
    // (a component can split into several label basins), which is
    // the point: LPA is the cheap community pass CC can't give.
    (s, d) => graft.graph.GraphAlgo
      .labelPropagationUnd(MemoryGraph.undirectedView(s, d), rounds = 3)
      .orderBy(col("node")),
    Some {
      // AS MATERIALIZED for the same reason as b24: each round joins
      // the previous label frame twice (adjacency + vote count)
      val rounds = (1 to 3).map { r =>
        s"""l$r AS MATERIALIZED (
              SELECT node, label FROM (
                SELECT a.node, p.label, COUNT(*) AS cnt,
                       ROW_NUMBER() OVER (PARTITION BY a.node
                         ORDER BY COUNT(*) DESC, p.label) AS rk
                FROM adj a JOIN l${r - 1} p ON p.node = a.nbr
                GROUP BY a.node, p.label) t
              WHERE rk = 1)"""
      }.mkString(",\n      ")
      s"""
      WITH edges AS ($E),
      und AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
      adj AS MATERIALIZED (
        SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und),
      l0 AS MATERIALIZED (
        SELECT DISTINCT node, node AS label FROM adj),
      $rounds
      SELECT node, label FROM l3
      ORDER BY node"""
    })

  val b29 = Q(
    "b29_component_sizes",
    // The component-size histogram over b14's CC — c67's savings-
    // histogram move applied to the graph: how many invalidation
    // chains exist at each size, with the node mass per size class (a
    // giant component = a pathological chain the graph owner should
    // see). Two partial-aggregable groupBys on top of the CC output
    // (per-component size, then the O(max-size) histogram); the
    // oracle uses the invalidates subgraph's closed form (per-(user,
    // type) chains), which the algorithm doesn't know. The CC
    // partition itself is PERSISTED per graph fingerprint (DiskCache,
    // the c29 index-once/probe-many seam): production runs CC once
    // and audits it many times — b14 stays the compute-path grade,
    // this query prices the audit (8.3 → ~0.6 s warm at sf0.1).
    (s, d) => graft.util.DiskCache.cached(s, "cc-invalidates", "v1",
        Seq(s"$d/events.parquet"), "full",
        Seq("cc")) { tmp =>
        MemoryGraph.persisted(s, d)
          .connectedComponents("invalidates")
          .write.mode("overwrite").parquet(s"$tmp/cc")
      } { base => s.read.parquet(s"$base/cc") }
      .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("component_size"))
      .agg(count(lit(1)).as("n_components"))
      .select(col("component_size"), col("n_components"),
        (col("component_size") * col("n_components")).as("n_nodes"))
      .orderBy(col("component_size")),
    Some("""
      WITH g AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2)
      SELECT CAST(cnt AS BIGINT) AS component_size,
             COUNT(*) AS n_components,
             CAST(cnt * COUNT(*) AS BIGINT) AS n_nodes
      FROM g WHERE cnt >= 2
      GROUP BY cnt
      ORDER BY component_size"""))

  val b30 = Q(
    "b30_recent_context",
    // The mie://context/recent preflight resource (cmd/mie/mcp.go:988
    // buildRecentContext, CHANGELOG 0.1.2): latest valid facts (5),
    // latest decisions (3), latest entities (5), newest-first —
    // composed from b2's list machinery as three ntype-pruned
    // TakeOrderedAndProject heads unioned into one frame. Recency =
    // the id's numeric suffix (this mapping mints ids sequentially;
    // the reference sorts created_at), ties to the smaller id.
    (s, d) => MemoryGraph.persisted(s, d).recentContext()
      .orderBy(col("section"), col("pos")),
    Some(s"""
      WITH nodes AS ($N), edges AS ($E),
      sec AS (
        SELECT 'fact' AS section, 5 AS lim, n.id, n.content, n.attr, n.score
        FROM nodes n
        WHERE n.ntype = 'fact'
          AND NOT EXISTS (SELECT 1 FROM edges e
                          WHERE e.etype = 'invalidates' AND e.dst = n.id)
        UNION ALL
        SELECT 'decision', 3, n.id, n.content, n.attr, n.score
        FROM nodes n WHERE n.ntype = 'decision'
        UNION ALL
        SELECT 'entity', 5, n.id, n.content, n.attr, n.score
        FROM nodes n WHERE n.ntype = 'entity'),
      ranked AS (
        SELECT section, lim,
               ROW_NUMBER() OVER (PARTITION BY section
                 ORDER BY CAST(regexp_extract(id, '([0-9]+)$$', 1)
                               AS BIGINT) DESC, id) AS pos,
               id, content, attr, score
        FROM sec)
      SELECT section, pos, id, content, attr, score
      FROM ranked WHERE pos <= lim
      ORDER BY section, pos"""))

  override val queries: Seq[Q] =
    Seq(b1, b2, b3, b4, b5, b6, b7, b8, b9, b10, b11, b12, b13, b14, b15,
      b16, b17, b18, b19, b20, b21, b22, b23, b24, b25, b26, b27, b28,
      b29, b30)
}
