package graft.graph

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.util.Barriers.BarrierOps

import graft.model.Tables

/** Spark-native re-expression of mie's memory graph
  * (/root/reference/docs/architecture.md "Data model";
  * /root/reference/pkg/memory/schema.go): typed nodes and edges are
  * DataFrames, every traversal is a join, and multi-hop walks are
  * iterative joins — so the whole surface scales horizontally instead
  * of walking pointers row-at-a-time like the reference's CozoDB
  * backend.
  *
  * Normalized node schema: (id, ntype, content, attr, score)
  *   - fact     → content=text,        attr=category
  *   - decision → content=title,       attr=status
  *   - entity   → content=name,        attr=kind
  *   - event    → content=title,       attr=event_date
  *   - topic    → content=name,        attr='segment'
  * Edge schema: (etype, src, dst, prop) — prop carries
  * decision_entity.role / invalidates.reason
  * (schema.go:102-140 edge tables).
  *
  * At cluster scale `nodes`/`edges` would be bucketed by id/src so
  * traversal joins co-locate; point lookups prune on the id-prefix
  * partition (ntype) first.
  */
final class MemoryGraph(val nodes: DataFrame, val edges: DataFrame) {

  /** GetNodeByID with prefix dispatch
    * (reader.go:309 GetNodeByID): the ntype filter prunes before the
    * id equality, mirroring the reference's prefix→table dispatch. */
  def node(id: String): DataFrame = {
    val nt = id.split(":", 2)(0) match {
      case "fact" => "fact"; case "dec" => "decision"; case "ent" => "entity"
      case "evt" => "event"; case "topic" => "topic"; case _ => ""
    }
    nodes.where(col("ntype") === nt && col("id") === id)
  }

  /** ListNodes: filter + sort + paginate + total_count
    * (reader.go:187 ListNodes / countNodes). Scale shape: the page is
    * fetched with orderBy+limit (TakeOrderedAndProject — a per-
    * partition bounded heap + driver merge, never a global sort or a
    * single-partition window over the full table); only the
    * (offset+limit)-row slice is ranked. total_count is the
    * reference's second scan, joined in as a broadcast scalar. */
  def list(ntype: String, attrEq: Option[String], sortBy: Column,
           limit: Int, offset: Int, validOnly: Boolean = false): DataFrame = {
    val filtered = attrEq.foldLeft(nodes.where(col("ntype") === ntype))(
      (df, a) => df.where(col("attr") === a))
    val base = if (validOnly) notInvalidated(filtered) else filtered
    val total = broadcast(base.agg(count(lit(1)).as("total_count")))
    val page = base.orderBy(sortBy, col("id")).limit(offset + limit)
    // rank only the k-row page; ntype is constant under the filter, so
    // partitioning by it is semantically global but avoids the
    // empty-partition-spec window path (a literal would be folded away
    // by EliminateWindowPartitions)
    val w = Window.partitionBy(col("ntype")).orderBy(sortBy, col("id"))
    page
      .withColumn("pos", row_number().over(w))
      .where(col("pos") > offset)
      .crossJoin(total)
      .select(col("pos"), col("id"), col("content"), col("attr"),
        col("score"), col("total_count"))
  }

  /** ExactSearch: substring match with a per-type limit
    * (reader.go:122 ExactSearch). */
  def exactSearch(q: String, ntypes: Seq[String], perType: Int): DataFrame = {
    val w = Window.partitionBy(col("ntype")).orderBy(col("id"))
    nodes
      .where(col("ntype").isin(ntypes: _*))
      .where(instr(col("content"), q) > 0)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= perType)
      .select(col("ntype"), col("rk"), col("id"), col("content"), col("attr"))
  }

  /** SemanticSearch across node types (reader.go:38-119): the
    * reference queries one HNSW table per node type and merges the
    * ranked heads into a single globally re-ranked result. Here each
    * type's content is embedded with the deterministic mock provider
    * (embedding.go:113 — swap in a real provider column at will),
    * ranked per type (the row_number window is rewritten to the
    * bounded-heap TopKPerKey by the optimizer rule), and the per-type
    * heads are merged and re-ranked globally by similarity.
    *
    * Exact: one scan of the pruned ntype partitions, no shuffle beyond
    * the per-type top-k, linear per query. */
  def semanticSearch(queryText: String, ntypes: Seq[String], perType: Int,
                     k: Int, dim: Int = 16): DataFrame = {
    import graft.functions.{TextOps, VectorOps}
    def emb(c: Column) = transform(
      VectorOps.mockEmbedding(TextOps.polyHash(c), dim), _.cast("float"))
    val w = Window.partitionBy(col("ntype"))
      .orderBy(col("sim").desc, col("id"))
    nodes.where(col("ntype").isin(ntypes: _*))
      .withColumn("emb", emb(col("content")))
      .withColumn("sim", VectorOps.cosine6(col("emb"), emb(lit(queryText))))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= perType)
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
      .select(col("ntype"), col("id"), col("sim"))
  }

  /** Batch ingestion (batcher.go:19-188 / bulk_store.go): append a
    * whole DataFrame of nodes and/or edges in ONE union each — the
    * plan grows by one branch per BATCH, not per row, and at cluster
    * scale the batch is an appended partition compacted on write-out.
    * Columns are aligned by name to the graph schema. */
  def storeAll(newNodes: DataFrame, newEdges: DataFrame): MemoryGraph = {
    val n = if (newNodes == null) nodes else nodes.unionAll(
      newNodes.select(col("id"), col("ntype"), col("content"), col("attr"),
        col("score").cast("double")))
    val e = if (newEdges == null) edges else edges.unionAll(
      newEdges.select(col("etype"), col("src"), col("dst"), col("prop")))
    new MemoryGraph(n, e)
  }

  /** FindEntityByName (reader.go:385): case-insensitive exact name
    * match, first by id. */
  def findByName(ntype: String, name: String): DataFrame =
    nodes.where(col("ntype") === ntype &&
        lower(col("content")) === name.toLowerCase)
      .orderBy(col("id")).limit(1)

  /** FindFactByContent / FindDecisionByTitle (reader.go:412,438):
    * substring point lookups over one node type. The reference's
    * `:limit 1` is made deterministic as the min-id match; the ntype
    * equality prunes to ONE partition of the persisted layout before
    * any content is read, and the limit plans as
    * TakeOrderedAndProject — a point read, not a ranked scan. */
  def findFactByContent(q: String): DataFrame = firstMatch("fact", q)

  def findDecisionByTitle(q: String): DataFrame = firstMatch("decision", q)

  private def firstMatch(nt: String, q: String): DataFrame =
    nodes.where(col("ntype") === nt && instr(col("content"), q) > 0)
      .orderBy(col("id")).limit(1)

  /** 1-hop traversal src→dst over one edge type, returning dst nodes
    * (reader.go:464-614 GetRelatedEntities / GetFactsAboutEntity /
    * GetDecisionEntities / GetEntityDecisions — all are this join with
    * src/dst swapped as needed). */
  def outNeighbors(fromId: String, etype: String): DataFrame =
    edges.where(col("etype") === etype && col("src") === fromId)
      .join(nodes, col("dst") === col("id"))
      .select(col("id"), col("ntype"), col("content"), col("attr"),
        col("score"), col("prop"))

  def inNeighbors(toId: String, etype: String): DataFrame =
    edges.where(col("etype") === etype && col("dst") === toId)
      .join(nodes, col("src") === col("id"))
      .select(col("id"), col("ntype"), col("content"), col("attr"),
        col("score"), col("prop"))

  /** Multi-hop walk along one edge type from a start node
    * (reader.go:548 GetInvalidationChain generalized to arbitrary
    * depth). Emits every edge whose `src` lies at shortest distance
    * `d < maxHops` from the start as `(step = d + 1, src, dst, prop)`,
    * duplicates included, matching the recursive-CTE oracle on the
    * (single-path) invalidates chains. An edge with a null `src` is
    * never emitted; one with a null `dst` is emitted when its `src` is
    * reached, and the null is never expanded (the join semantics).
    *
    * `edgeFilter` restricts the edge relation before anything else: a
    * caller that knows its chains live inside a property slice (the
    * invalidation chain of an event never leaves its event_type,
    * exactly as mie's revision chain never leaves its fact lineage)
    * should pass that slice.
    *
    * The physical shape is chosen from the size of that sliced stride
    * relation, read once as `limit(WalkDriverCap + 1)`, one SQL
    * execution:
    *   - at most `WalkDriverCap` rows: a BFS on the driver that stops
    *     at `maxHops`, returned as a local relation;
    *   - above it: pointer doubling ([[walkByDoubling]]) from a barrier
    *     of the same relation.
    * The cap's measurement is on `MemoryGraph.WalkDriverCap`. */
  def walk(startId: String, etype: String, maxHops: Int,
           edgeFilter: Option[Column] = None): DataFrame = {
    val e1 = strideRelation(etype, edgeFilter)
    val head = e1.limit(MemoryGraph.WalkDriverCap + 1).collect()
    if (head.length <= MemoryGraph.WalkDriverCap)
      walkOnDriver(head, e1.schema, startId, maxHops)
    else doubling(e1.barrier(true), startId, maxHops)
  }

  /** [[walk]]'s shape above its driver cap, callable at any slice size.
    * Pointer doubling: level k composes stride-2^k edges with
    * themselves, so a depth-n chain needs O(log n) materialized rounds
    * instead of n sequential joins; each level runs an eager barrier, a
    * count and a stride self-join barrier. The doubling composes
    * strides for every node in the relation: restricting it to the
    * *reached* set instead would be wrong, since doubling needs strides
    * from nodes ahead of the frontier. */
  private[graft] def walkByDoubling(startId: String, etype: String,
      maxHops: Int, edgeFilter: Option[Column] = None): DataFrame =
    doubling(strideRelation(etype, edgeFilter).barrier(true), startId,
      maxHops)

  private def strideRelation(etype: String,
                             edgeFilter: Option[Column]): DataFrame =
    edgeFilter.foldLeft(edges.where(col("etype") === etype))(_ where _)
      .select(col("src"), col("dst"), col("prop"))

  private def walkOnDriver(rows: Array[Row], schema: StructType,
                           startId: String, maxHops: Int): DataFrame = {
    val out = rows.filterNot(_.isNullAt(0)).groupBy(_.get(0))
    val dist = scala.collection.mutable.HashMap[Any, Int](startId -> 0)
    var frontier: Seq[Any] = Seq(startId)
    var d = 0
    // only nodes at distance < maxHops emit edges, so expand no further
    while (frontier.nonEmpty && d + 1 < maxHops) {
      d += 1
      frontier = frontier.flatMap(u => out.getOrElse(u, Array.empty[Row]))
        .filterNot(_.isNullAt(1)).map(_.get(1)).distinct
        .filterNot(dist.contains)
      dist ++= frontier.map(_ -> d)
    }
    val walked = rows.iterator.filterNot(_.isNullAt(0))
      .flatMap(r => dist.get(r.get(0)).filter(_ < maxHops)
        .map(k => Row(k + 1, r.get(0), r.get(1), r.get(2))))
      .toSeq
    nodes.sparkSession.createDataFrame(walked.asJava,
      StructType(StructField("step", IntegerType, nullable = false) +:
        schema.fields))
  }

  private def doubling(e1: DataFrame, startId: String,
                       maxHops: Int): DataFrame = {
    val spark = nodes.sparkSession
    var dist = spark.range(1)
      .select(lit(startId).as("node"), lit(0L).as("d"))
    var stride = e1.select(col("src").as("s"), col("dst").as("t"),
      lit(1L).as("len"))
    var span = 1L
    var grown = true
    var reached = 1L
    while (span < maxHops && grown) {
      val nd = dist.join(stride, col("node") === col("s"))
        .select(col("t").as("node"), (col("d") + col("len")).as("d"))
      dist = dist.unionAll(nd).groupBy(col("node"))
        .agg(min(col("d")).as("d")).barrier(true)
      val now = dist.count()
      grown = now > reached
      reached = now
      span *= 2
      if (span < maxHops && grown) {
        stride = stride.alias("x")
          .join(stride.alias("y"), col("x.t") === col("y.s"))
          .select(col("x.s").as("s"), col("y.t").as("t"),
            (col("x.len") + col("y.len")).as("len"))
          .barrier(true)
      }
    }
    e1.join(dist.where(col("d") < maxHops), col("src") === col("node"))
      .select((col("d") + 1L).cast("int").as("step"), col("src"),
        col("dst"), col("prop"))
      .where(col("step") <= maxHops)
  }

  /** Connected components over one edge type (undirected) — see
    * [[GraphAlgo.connectedComponents]] for the algorithm. Returns
    * (node, component) for every node incident to an edge of the
    * type; component id = smallest member node id. */
  def connectedComponents(etype: String, maxIter: Int = 20): DataFrame =
    GraphAlgo.connectedComponents(
      edges.where(col("etype") === etype).select(col("src"), col("dst")),
      maxIter)

  /** GetStats (reader.go:617): one row per node/edge-type metric. */
  def stats(): DataFrame = {
    val n = nodes.groupBy(col("ntype")).agg(count(lit(1)).as("n"))
      .select(concat(lit("nodes_"), col("ntype")).as("metric"), col("n"))
    val e = edges.groupBy(col("etype")).agg(count(lit(1)).as("n"))
      .select(concat(lit("edges_"), col("etype")).as("metric"), col("n"))
    n.unionAll(e).orderBy(col("metric"))
  }

  /** ExportGraph (reader.go:707): the full typed dump, stably ordered. */
  def export(): DataFrame =
    nodes.orderBy(col("ntype"), col("id"))

  /** Filtered export (export.go's per-type export options): only the
    * requested node types — on the persisted layout this prunes to
    * the matching ntype partitions instead of scanning everything. */
  def export(ntypes: Seq[String]): DataFrame =
    nodes.where(col("ntype").isin(ntypes: _*))
      .orderBy(col("ntype"), col("id"))

  // --- writer surface (pure transformations) ------------------------
  // mie's writer (writer.go:35 StoreFact … :230 InvalidateFact, :264
  // AddRelationship, :365 UpdateStatus) mutates CozoDB in place; the
  // Spark-native shape is snapshot semantics: every write returns a new
  // MemoryGraph over an amended plan. At scale the amendments are
  // appended partitions, compacted on write-out.

  private def one(row: (String, String, String, String, Double)): DataFrame =
    nodes.sparkSession.range(1).select(
      lit(row._1).as("id"), lit(row._2).as("ntype"), lit(row._3).as("content"),
      lit(row._4).as("attr"), lit(row._5).as("score"))

  /** StoreX (writer.go:35-229): append a typed node. */
  def store(id: String, ntype: String, content: String, attr: String,
            score: Double): MemoryGraph =
    new MemoryGraph(nodes.unionAll(one((id, ntype, content, attr, score))), edges)

  /** AddRelationship (writer.go:264): append an edge. */
  def addEdge(etype: String, src: String, dst: String, prop: String): MemoryGraph =
    new MemoryGraph(nodes, edges.unionAll(
      nodes.sparkSession.range(1).select(lit(etype).as("etype"),
        lit(src).as("src"), lit(dst).as("dst"), lit(prop).as("prop"))))

  /** InvalidateFact (writer.go:230): the new fact invalidates the old
    * one. Validity is derived, not stored: a fact is invalid iff an
    * `invalidates` edge points at it (see [[validNodes]]) — no
    * in-place `valid` flip needed. */
  def invalidate(oldId: String, newId: String, reason: String): MemoryGraph =
    addEdge("invalidates", newId, oldId, reason)

  /** UpdateStatus/UpdateDescription (writer.go:313,365): rewrite one
    * node's attr (status/kind/category slot). */
  def updateAttr(id: String, newAttr: String): MemoryGraph =
    new MemoryGraph(
      nodes.withColumn("attr",
        when(col("id") === id, lit(newAttr)).otherwise(col("attr"))),
      edges)

  /** Anti join against the invalidated set — the `valid = true`
    * condition the reference folds into every listing query
    * (reader.go:240-259). Broadcast-able edge side, no node shuffle. */
  private def notInvalidated(df: DataFrame): DataFrame = {
    val invalidated = edges.where(col("etype") === "invalidates")
      .select(col("dst"))
    df.join(invalidated, col("id") === col("dst"), "left_anti")
  }

  /** Nodes of a type with no incoming `invalidates` edge — the
    * `valid = true` view (anti join, no shuffle of the edge side
    * needed when broadcast). */
  def validNodes(ntype: String): DataFrame =
    notInvalidated(nodes.where(col("ntype") === ntype))

  /** The `mie://context/recent` preflight resource
    * (cmd/mie/mcp.go:988 buildRecentContext): latest VALID facts
    * (limit 5), latest decisions (3) and latest entities (5), each
    * section ranked newest-first — the reference sorts on created_at;
    * here creation order is the id's numeric suffix (ids are minted
    * sequentially in this mapping), ties to the smaller id. Three
    * ntype-pruned orderBy+limit heads (TakeOrderedAndProject each —
    * bounded heaps, never a global sort) unioned into one frame; the
    * markdown rendering around it is presentation, not query surface. */
  def recentContext(nFacts: Int = 5, nDecisions: Int = 3,
                    nEntities: Int = 5): DataFrame = {
    def section(ntype: String, k: Int, validOnly: Boolean): DataFrame = {
      val base0 = nodes.where(col("ntype") === ntype)
      val base = if (validOnly) notInvalidated(base0) else base0
      val num = regexp_extract(col("id"), "([0-9]+)$", 1).cast("long")
      // rank only the k-row head; partitioning by the constant ntype
      // keeps the window off the empty-partition-spec path (the
      // `list` trick above)
      val w = Window.partitionBy(col("ntype"))
        .orderBy(num.desc, col("id"))
      base.orderBy(num.desc, col("id")).limit(k)
        .withColumn("pos", row_number().over(w))
        .select(lit(ntype).as("section"), col("pos"), col("id"),
          col("content"), col("attr"), col("score"))
    }
    section("fact", nFacts, validOnly = true)
      .unionAll(section("decision", nDecisions, validOnly = false))
      .unionAll(section("entity", nEntities, validOnly = false))
  }
}

object MemoryGraph {

  /** Bump when [[fromTables]]' node/edge derivation changes — the
    * on-disk graph cache and the views derived from it are keyed by
    * this, so stale layouts from an older code version can never be
    * read back. */
  private val CacheVersion = "v3"

  /** The largest stride relation [[MemoryGraph.walk]] walks on the
    * driver; above it, pointer doubling. Measured on 4 cores (CHANGES.md
    * has the table): the driver BFS beats doubling from 3.6k rows
    * (0.14 s vs 1.1 s) to 2.25M (2.7 s vs 3.6 s), and the read holds
    * about 210 bytes a row on the driver (157 MB at 750k rows). 200k
    * rows keeps that near 40 MB, and bounds the read a slice over the
    * cap wastes before it falls back to doubling. */
  private val WalkDriverCap = 200000

  /** The parquet tables [[fromTables]] derives the graph from. */
  private val SourceTables = Seq("customer", "supplier", "part", "orders",
    "lineitem", "documents", "events")

  /** The graph materialized ONCE per (session, sf dir) as parquet
    * partitioned by ntype/etype, then read back as pruned scans. This
    * is the reference's storage layout re-expressed for Spark
    * (reader.go:309's per-type tables with id indexes): a point lookup
    * or single-etype traversal touches one partition directory instead
    * of re-unioning 9 table scans per query. At cluster scale this is
    * the bucketed/partitioned table the graph would live in anyway.
    *
    * A [[graft.util.DiskCache]] entry fingerprinted on the seven source
    * tables, so regenerated data rebuilds it and concurrent JVMs (sbt
    * test + Bench) read either their own or the winner's full copy. */
  def persisted(s: SparkSession, dir: String): MemoryGraph = {
    val sources = SourceTables.map(t =>
      java.nio.file.Paths.get(dir, s"$t.parquet").toAbsolutePath
        .normalize.toString)
    graft.util.DiskCache.cached(s, "graph-cache", CacheVersion, sources,
      dir, Seq("nodes", "edges")) { tmp =>
      val g = fromTables(s, dir)
      g.nodes.write.mode("overwrite").partitionBy("ntype")
        .parquet(s"$tmp/nodes")
      g.edges.write.mode("overwrite").partitionBy("etype")
        .parquet(s"$tmp/edges")
    } { base =>
      new MemoryGraph(
        s.read.parquet(s"$base/nodes")
          .select(col("id"), col("ntype"), col("content"), col("attr"),
            col("score")),
        s.read.parquet(s"$base/edges")
          .select(col("etype"), col("src"), col("dst"), col("prop")))
    }
  }

  /** Undirected simple-graph edge view (a < b, loops dropped,
    * parallel/reverse edges collapsed) of the persisted graph —
    * persisted alongside the graph layout the way the dedup corpus
    * keeps its band index: a graph store maintains this view as an
    * index, so the whole-graph analytics family (triangle count,
    * k-core, node similarity) reads it instead of re-deriving the
    * distinct per query. Keyed on the same source fingerprint as the
    * graph cache — a regenerated corpus never serves a stale view. */
  def undirectedView(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.util.DiskCache.cached(s, "graph-und", CacheVersion,
      Seq(dir), "und", Seq("und")) { tmp =>
      graft.graph.GraphAlgo.undirectedSimple(persisted(s, dir).edges)
        .write.mode("overwrite").parquet(s"$tmp/und")
    } { base => s.read.parquet(s"$base/und") }

  /** Bind the memory graph to the driver-generated tables:
    * fact≈documents, decision≈orders, entity≈customer∪supplier∪part,
    * event≈events, topic≈distinct mktsegment; edges from the FKs plus
    * two deterministic modular links (fact_entity, event_decision) and
    * the lag-derived `invalidates` chain (successive events of the
    * same (user, type) — newest invalidates previous, like mie's fact
    * revisions, schema.go:104 mie_invalidates). */
  def fromTables(s: SparkSession, dir: String): MemoryGraph = {
    def str(c: Column) = c.cast("string")
    val cust = Tables.customer(s, dir)
    val supp = Tables.supplier(s, dir)
    val part = Tables.part(s, dir)
    val ord = Tables.orders(s, dir)
    val doc = Tables.documents(s, dir)
    val ev = Tables.events(s, dir)

    val nodes =
      doc.select(concat(lit("fact:"), str(col("doc_id"))).as("id"),
          lit("fact").as("ntype"), col("text").as("content"),
          col("lang").as("attr"), col("n_chars").cast("double").as("score"))
      .unionAll(ord.select(concat(lit("dec:"), str(col("o_orderkey"))).as("id"),
          lit("decision").as("ntype"), col("o_orderpriority").as("content"),
          col("o_orderstatus").as("attr"), col("o_totalprice").as("score")))
      .unionAll(cust.select(concat(lit("ent:c:"), str(col("c_custkey"))).as("id"),
          lit("entity").as("ntype"), col("c_name").as("content"),
          lit("customer").as("attr"), col("c_acctbal").as("score")))
      .unionAll(supp.select(concat(lit("ent:s:"), str(col("s_suppkey"))).as("id"),
          lit("entity").as("ntype"), col("s_name").as("content"),
          lit("supplier").as("attr"), col("s_acctbal").as("score")))
      .unionAll(part.select(concat(lit("ent:p:"), str(col("p_partkey"))).as("id"),
          lit("entity").as("ntype"), col("p_name").as("content"),
          lit("part").as("attr"), col("p_retailprice").as("score")))
      .unionAll(ev.select(concat(lit("evt:"), str(col("event_id"))).as("id"),
          lit("event").as("ntype"), col("event_type").as("content"),
          date_format(col("ts"), "yyyy-MM-dd").as("attr"),
          col("value").as("score")))
      .unionAll(cust.select(col("c_mktsegment")).distinct()
        .select(concat(lit("topic:"), col("c_mktsegment")).as("id"),
          lit("topic").as("ntype"), col("c_mktsegment").as("content"),
          lit("segment").as("attr"), lit(0.0).as("score")))

    val nCust = broadcast(cust.agg(count(lit(1)).as("n_cust")))
    val nOrd = broadcast(ord.agg(count(lit(1)).as("n_ord")))
    val lagW = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))

    val edges =
      ord.select(lit("decision_entity").as("etype"),
          concat(lit("dec:"), str(col("o_orderkey"))).as("src"),
          concat(lit("ent:c:"), str(col("o_custkey"))).as("dst"),
          lit("customer").as("prop"))
      .unionAll(Tables.lineitem(s, dir)
        .select(lit("decision_entity").as("etype"),
          concat(lit("dec:"), str(col("l_orderkey"))).as("src"),
          concat(lit("ent:p:"), str(col("l_partkey"))).as("dst"),
          lit("part").as("prop")))
      .unionAll(cust.select(lit("entity_topic").as("etype"),
          concat(lit("ent:c:"), str(col("c_custkey"))).as("src"),
          concat(lit("topic:"), col("c_mktsegment")).as("dst"),
          lit("").as("prop")))
      .unionAll(doc.crossJoin(nCust)
        .select(lit("fact_entity").as("etype"),
          concat(lit("fact:"), str(col("doc_id"))).as("src"),
          concat(lit("ent:c:"), str(col("doc_id") % col("n_cust"))).as("dst"),
          lit("").as("prop")))
      .unionAll(ev.crossJoin(nOrd)
        .select(lit("event_decision").as("etype"),
          concat(lit("evt:"), str(col("event_id"))).as("src"),
          concat(lit("dec:"), str(col("event_id") % col("n_ord"))).as("dst"),
          lit("").as("prop")))
      .unionAll(ev
        .withColumn("prev_id", lag(col("event_id"), 1).over(lagW))
        .where(col("prev_id").isNotNull)
        .select(lit("invalidates").as("etype"),
          concat(lit("evt:"), str(col("event_id"))).as("src"),
          concat(lit("evt:"), str(col("prev_id"))).as("dst"),
          col("event_type").as("prop")))

    new MemoryGraph(nodes, edges)
  }

  /** Oracle-side mirrors of the node/edge construction, for embedding
    * in GraphSuite oracle SQL (DuckDB dialect). Kept adjacent to
    * fromTables so the two stay in lockstep. */
  object Sql {
    val nodes: String = """
      SELECT 'fact:' || CAST(doc_id AS VARCHAR) AS id, 'fact' AS ntype,
             text AS content, lang AS attr, CAST(n_chars AS DOUBLE) AS score
      FROM documents
      UNION ALL
      SELECT 'dec:' || CAST(o_orderkey AS VARCHAR), 'decision',
             o_orderpriority, o_orderstatus, o_totalprice FROM orders
      UNION ALL
      SELECT 'ent:c:' || CAST(c_custkey AS VARCHAR), 'entity',
             c_name, 'customer', c_acctbal FROM customer
      UNION ALL
      SELECT 'ent:s:' || CAST(s_suppkey AS VARCHAR), 'entity',
             s_name, 'supplier', s_acctbal FROM supplier
      UNION ALL
      SELECT 'ent:p:' || CAST(p_partkey AS VARCHAR), 'entity',
             p_name, 'part', p_retailprice FROM part
      UNION ALL
      SELECT 'evt:' || CAST(event_id AS VARCHAR), 'event',
             event_type, strftime(ts, '%Y-%m-%d'), value FROM events
      UNION ALL
      SELECT DISTINCT 'topic:' || c_mktsegment, 'topic',
             c_mktsegment, 'segment', 0.0 FROM customer"""

    val edges: String = """
      SELECT 'decision_entity' AS etype,
             'dec:' || CAST(o_orderkey AS VARCHAR) AS src,
             'ent:c:' || CAST(o_custkey AS VARCHAR) AS dst,
             'customer' AS prop
      FROM orders
      UNION ALL
      SELECT 'decision_entity', 'dec:' || CAST(l_orderkey AS VARCHAR),
             'ent:p:' || CAST(l_partkey AS VARCHAR), 'part' FROM lineitem
      UNION ALL
      SELECT 'entity_topic', 'ent:c:' || CAST(c_custkey AS VARCHAR),
             'topic:' || c_mktsegment, '' FROM customer
      UNION ALL
      SELECT 'fact_entity', 'fact:' || CAST(doc_id AS VARCHAR),
             'ent:c:' || CAST(doc_id % (SELECT COUNT(*) FROM customer) AS VARCHAR),
             '' FROM documents
      UNION ALL
      SELECT 'event_decision', 'evt:' || CAST(event_id AS VARCHAR),
             'dec:' || CAST(event_id % (SELECT COUNT(*) FROM orders) AS VARCHAR),
             '' FROM events
      UNION ALL
      SELECT 'invalidates', 'evt:' || CAST(event_id AS VARCHAR),
             'evt:' || CAST(prev_id AS VARCHAR), event_type
      FROM (SELECT event_id, event_type,
              LAG(event_id) OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS prev_id
            FROM events) t
      WHERE prev_id IS NOT NULL"""
  }
}
