package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.graph.MemoryGraph
import graft.model.Tables

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private lazy val g = MemoryGraph.fromTables(spark, sf)

  test("node lookup dispatches on prefix and returns exactly one row") {
    assert(g.node("ent:c:0").count() === 1)
    assert(g.node("fact:0").select($"ntype").as[String].head() === "fact")
    assert(g.node("nope:0").isEmpty)
  }

  test("list paginates with a stable total_count") {
    val page = g.list("entity", Some("part"), col("score").desc, 10, 5).cache()
    assert(page.count() === 10)
    val parts = Tables.part(spark, sf).count()
    assert(page.select($"total_count").distinct().as[Long].head() === parts)
  }

  test("walk follows the invalidates chain to its end") {
    val start = Tables.events(spark, sf)
      .where($"user_id" === 7 && $"event_type" === "view")
      .agg(max($"event_id")).as[Long].head()
    val chainLen = Tables.events(spark, sf)
      .where($"user_id" === 7 && $"event_type" === "view").count() - 1
    assert(g.walk(s"evt:$start", "invalidates", 200).count() === chainLen)
  }

  test("walk truncates at maxHops") {
    val start = Tables.events(spark, sf)
      .where($"user_id" === 7 && $"event_type" === "view")
      .agg(max($"event_id")).as[Long].head()
    val truncated = g.walk(s"evt:$start", "invalidates", maxHops = 4)
    assert(truncated.count() === 4)
    assert(truncated.agg(max($"step")).as[Int].head() === 4)
  }

  test("walk from a node with no edges is empty") {
    assert(g.walk("fact:0", "invalidates", 5).isEmpty)
  }

  test("walk at maxHops = 0 and from a start whose slice is empty returns the doubling shape's rows") {
    val start = Tables.events(spark, sf)
      .where($"user_id" === 7 && $"event_type" === "view")
      .agg(max($"event_id")).as[Long].head()
    def both(maxHops: Int, filter: Option[Column]) =
      (g.walk(s"evt:$start", "invalidates", maxHops, edgeFilter = filter),
        g.walkByDoubling(s"evt:$start", "invalidates", maxHops,
          edgeFilter = filter))
    val (w0, d0) = both(0, None)
    assert(w0.isEmpty && d0.isEmpty)
    val (wEmpty, dEmpty) = both(5, Some($"prop" === "no-such-event-type"))
    assert(wEmpty.isEmpty && dEmpty.isEmpty)
    val (w, d) = both(5, Some($"prop" === "view"))
    assert(w.count() === 5 && w.exceptAll(d).isEmpty && d.exceptAll(w).isEmpty)
  }

  test("findByName is case-insensitive and returns one row") {
    val name = g.node("ent:c:3").select($"content").as[String].head()
    val found = g.findByName("entity", name.toUpperCase())
    assert(found.count() === 1)
    assert(found.select($"id").as[String].head() === "ent:c:3")
  }

  test("stats covers every node and edge type") {
    val metrics = g.stats().select($"metric").as[String].collect().toSet
    assert(metrics.contains("nodes_fact") && metrics.contains("nodes_topic"))
    assert(metrics.contains("edges_invalidates") &&
      metrics.contains("edges_decision_entity"))
  }

  test("connected components: one component per (user, type) chain") {
    val cc = g.connectedComponents("invalidates").cache()
    val nComponents = cc.select($"component").distinct().count()
    val nChains = Tables.events(spark, sf)
      .groupBy($"user_id", $"event_type").count()
      .where($"count" >= 2).count()
    assert(nComponents === nChains)
    // every component id is a member of its own component
    assert(cc.where($"node" === $"component").count() === nComponents)
  }

  test("connectedComponents: a 500-spoke hub star and a 10-node ring") {
    import graft.graph.GraphAlgo
    val hub = ((1 to 500).map(i => ("hub", s"n$i")) ++
      (1 to 10).map(i => (s"r$i", s"r${i % 10 + 1}"))).toDF("src", "dst")
    val w = GraphAlgo.connectedComponents(hub)
      .as[(String, String)].collect().toSet
    // exactly two components: the 501-node hub star and the 10-node
    // ring, each labeled by its smallest member
    assert(w.map(_._2) === Set("hub", "r1"))
    assert(w.size === 511)
  }

  test("connectedComponents: a round's window exchanges keep the " +
    "loopParts width under AQE and are never coalesced") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
      ShuffleExchangeExec}
    import graft.graph.GraphAlgo
    // 400 chains of 100 nodes: 2|E| = 79,200 rows per round
    val edges = spark.range(40000).where(col("id") % 100 =!= 99)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val n = GraphAlgo.loopParts(2L * edges.count(),
      spark.sessionState.conf.numShufflePartitions,
      GraphAlgo.SortLoopRowsPerTask)
    assert(n > 1)
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => all(q.plan)
      case _ => p.children.flatMap(all)
    })
    def byNum(p: SparkPlan) = all(p).collect {
      case s: ShuffleExchangeExec if s.shuffleOrigin == REPARTITION_BY_NUM => s
    }
    val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (byNum(qe.executedPlan).nonEmpty) plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the listener bus delivers the round's plan after the action
    val round = try {
      GraphAlgo.connectedComponents(edges, maxIter = 1).count()
      plans.poll(30, java.util.concurrent.TimeUnit.SECONDS)
    } finally spark.listenerManager.unregister(listener)
    assert(round != null, "no CC round plan was captured")
    // large-star's window on c and small-star's window on u
    assert(byNum(round).map(_.outputPartitioning.numPartitions) === Seq(n, n))
    val readOrigins = all(round).collect { case r: AQEShuffleReadExec =>
      r.child }.collect { case q: ShuffleQueryStageExec => q.shuffle.shuffleOrigin }
    assert(!readOrigins.contains(REPARTITION_BY_NUM),
      s"a window exchange was read through an AQE shuffle read:\n$round")
  }

  test("recentContext: newest-first per-section heads with the " +
      "reference's 5/3/5 limits") {
    val rows = g.recentContext().collect()
      .map(r => (r.getAs[String]("section"), r.getAs[Int]("pos"),
        r.getAs[String]("id"))).toSeq
    val bySec = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(bySec("fact").size === 5 && bySec("decision").size === 3 &&
      bySec("entity").size === 5)
    // newest-first: the top fact is the max doc_id
    val maxDoc = Tables.documents(spark, sf)
      .agg(max($"doc_id")).as[Long].head()
    assert(bySec("fact").head._3 === s"fact:$maxDoc")
    // ranks are 1..k and ids strictly decrease numerically per section
    bySec.values.foreach { s =>
      assert(s.map(_._2) === (1 to s.size))
      val nums = s.map(_._3.split(":").last.toLong)
      assert(nums === nums.sorted.reverse)
    }
  }

  test("export is the full node set") {
    assert(g.export().count() === g.nodes.count())
  }

  test("pageRank: fixed-point sanity on a known 3-node chain") {
    import graft.graph.GraphAlgo
    // a -> b -> c: after enough iterations rank(c) > rank(b) > rank(a)
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r = GraphAlgo.pageRank(e, iters = 10)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // fixed-point arithmetic at scale 1e12: r(a) = (1-d) exactly;
    // r(b) = base + (base*85 div 100), computed in scaled integers
    assert(r("a") === 150000000000L / 1e12)
    assert(r("b") === (150000000000L + 150000000000L * 85 / 100) / 1e12)
    assert(r("c") > r("b") && r("b") > r("a"))
    // determinism: a second run is bit-identical
    val r2 = GraphAlgo.pageRank(e, iters = 10)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r === r2)
  }

  test("triangleCount: known counts, direction/parallel/loop-insensitive") {
    import graft.graph.GraphAlgo
    def count(edges: Seq[(String, String)]): Long =
      GraphAlgo.triangleCount(edges.toDF("src", "dst"))
        .collect()(0).getLong(0)
    // K4 has 4 triangles
    val k4 = for {
      x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d")
      if x < y
    } yield (x, y)
    assert(count(k4) === 4L)
    // triangle + pendant edge = 1; reversed/parallel edges and loops
    // must not change the count
    val tri = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
    assert(count(tri) === 1L)
    assert(count(tri ++ Seq(("b", "a"), ("a", "b"), ("a", "a"))) === 1L)
    // square (4-cycle) has none
    assert(count(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))) === 0L)
  }

  test("kCore: peels pendant chains, keeps the dense core") {
    import graft.graph.GraphAlgo
    // K4 core + a pendant chain hanging off it
    val k4 = for {
      x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d")
      if x < y
    } yield (x, y)
    val edges = k4 ++ Seq(("d", "e"), ("e", "f"))
    val out = GraphAlgo.kCore(edges.toDF("src", "dst"), k = 3, rounds = 3)
      .orderBy($"node").collect()
    // chain peels off within 2 rounds; K4 survives with deg 3 each
    assert(out.map(_.getAs[String]("node")).toSeq ==
      Seq("a", "b", "c", "d"))
    assert(out.forall(_.getAs[Long]("deg") == 3L))
    // k above the max degree empties the graph
    assert(GraphAlgo.kCore(edges.toDF("src", "dst"), k = 9, rounds = 2)
      .count() == 0L)
    // early exit preserves the fixed-round contract: the peel above
    // converges by round 2, so a much deeper round budget must give
    // the identical result (identity rounds, exited early)
    val deep = GraphAlgo.kCore(edges.toDF("src", "dst"), k = 3, rounds = 30)
      .orderBy($"node").collect()
    assert(deep.map(r => (r.getAs[String]("node"), r.getAs[Long]("deg")))
      .toSeq == out.map(r => (r.getAs[String]("node"), r.getAs[Long]("deg")))
      .toSeq)
  }

  test("nodeSimilarity: exact Jaccard on a known graph, hub cap honored") {
    import graft.graph.GraphAlgo
    // p and q share neighbors {x, y}; p also has z, q also has w:
    // J(p,q) = 2 / (3 + 3 - 2) = 0.5
    val edges = Seq(("p", "x"), ("p", "y"), ("p", "z"),
      ("q", "x"), ("q", "y"), ("q", "w"))
    val out = GraphAlgo.nodeSimilarity(edges.toDF("src", "dst"),
      maxCenterDeg = 256, topN = 5).collect()
    val pq = out.find(r => r.getAs[String]("p") == "p"
      && r.getAs[String]("q") == "q").get
    assert(pq.getAs[Long]("n_common") == 2L)
    assert(pq.getAs[Double]("jaccard") == 0.5)
    // with the cap below the shared-neighbor degree (x,y have deg 2),
    // no wedge survives and the pair disappears
    val capped = GraphAlgo.nodeSimilarity(edges.toDF("src", "dst"),
      maxCenterDeg = 1, topN = 5).collect()
    assert(!capped.exists(r => r.getAs[String]("p") == "p"
      && r.getAs[String]("q") == "q"))
  }

  test("labelPropagation: two cliques bridged by one edge keep separate labels") {
    import graft.graph.GraphAlgo
    // clique {a1,a2,a3} — bridge a3-b1 — clique {b1,b2,b3}: within a
    // clique the minority bridge vote never outweighs the clique
    // majority, so after any number of synchronous rounds the two
    // cliques keep distinct labels (community structure CC cannot
    // see: b14 would report ONE component)
    val edges = Seq(("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
      ("b1", "b2"), ("b2", "b3"), ("b1", "b3"), ("a3", "b1"))
    val und = GraphAlgo.undirectedSimple(edges.toDF("src", "dst"))
    val out = GraphAlgo.labelPropagationUnd(und, rounds = 3)
      .collect().map(r => r.getAs[String]("node") ->
        r.getAs[String]("label")).toMap
    assert(out.keySet === Set("a1", "a2", "a3", "b1", "b2", "b3"))
    assert(Set("a1", "a2", "a3").map(out).size === 1, s"a-clique: $out")
    assert(Set("b2", "b3").map(out).size === 1, s"b-clique: $out")
    assert(out("a1") !== out("b2"), s"communities must differ: $out")
    // determinism: a rerun is bit-identical
    val again = GraphAlgo.labelPropagationUnd(und, rounds = 3)
      .collect().map(r => r.getAs[String]("node") ->
        r.getAs[String]("label")).toMap
    assert(again === out)
  }
}
