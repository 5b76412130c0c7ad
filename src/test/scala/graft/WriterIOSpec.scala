package graft

import org.apache.spark.sql.functions._
import graft.graph.MemoryGraph
import graft.sources.GraphIO

/** Writer surface (store / invalidate / updateAttr / validNodes) and
  * JSONL round-trip. */
class WriterIOSpec extends SparkSpec {
  import spark.implicits._

  private def g = MemoryGraph.fromTables(spark, sf)

  test("store appends a typed node visible to lookup") {
    val g2 = g.store("fact:999999", "fact", "a brand new fact", "en", 1.0)
    assert(g2.node("fact:999999").count() === 1)
    assert(g.node("fact:999999").isEmpty, "original snapshot unchanged")
  }

  test("invalidate removes the old fact from the valid view only") {
    val g2 = g
      .store("fact:999998", "fact", "corrected fact", "en", 1.0)
      .invalidate("fact:0", "fact:999998", "superseded by correction")
    val valid = g2.validNodes("fact")
    assert(valid.where($"id" === "fact:0").isEmpty)
    assert(valid.where($"id" === "fact:999998").count() === 1)
    // the node itself still exists (history preserved), only validity changed
    assert(g2.node("fact:0").count() === 1)
    // and the invalidation chain is walkable
    assert(g2.walk("fact:999998", "invalidates", 5).count() === 1)
  }

  test("walk on an amended snapshot returns the doubling shape's rows") {
    val g2 = g
      .store("fact:999996", "fact", "first correction", "en", 1.0)
      .store("fact:999997", "fact", "second correction", "en", 1.0)
      .invalidate("fact:0", "fact:999996", "superseded")
      .invalidate("fact:999996", "fact:999997", "superseded again")
      .addEdge("invalidates", "fact:0", "fact:1", "older")
    val walked = g2.walk("fact:999997", "invalidates", 5)
      .orderBy($"step").as[(Int, String, String, String)].collect().toSeq
    assert(walked === Seq(
      (1, "fact:999997", "fact:999996", "superseded again"),
      (2, "fact:999996", "fact:0", "superseded"),
      (3, "fact:0", "fact:1", "older")))
    val doubled = g2.walkByDoubling("fact:999997", "invalidates", 5)
      .orderBy($"step").as[(Int, String, String, String)].collect().toSeq
    assert(doubled === walked)
  }

  test("updateAttr rewrites exactly one node's attr") {
    val g2 = g.updateAttr("dec:0", "reversed")
    assert(g2.node("dec:0").select($"attr").as[String].head() === "reversed")
    assert(g2.nodes.where($"attr" === "reversed").count() === 1)
  }

  test("JSONL export/import round-trips the graph") {
    val dir = java.nio.file.Files.createTempDirectory("graphio").toString
    GraphIO.exportJson(g, dir)
    val back = GraphIO.importJson(spark, dir)
    assert(back.nodes.count() === g.nodes.count())
    assert(back.edges.count() === g.edges.count())
    // spot-check content equality through a node lookup
    assert(back.node("ent:c:42").select($"content").as[String].head() ===
      g.node("ent:c:42").select($"content").as[String].head())
    // full set equality on nodes
    assert(back.nodes.exceptAll(g.nodes).isEmpty)
  }

  test("datalog rendering produces one :put line per node and per edge") {
    val dl = GraphIO.toDatalog(g)
    assert(dl.count() === g.nodes.count() + g.edges.count())
    val line = dl.where($"rel" === "entity" && $"datalog".contains("'ent:c:42'"))
      .select($"datalog").as[String].head()
    assert(line.startsWith("?[id, content, attr, score] <- [["))
    assert(line.contains(":put graft_entity"))
    val eline = dl.where($"rel" === "decision_entity")
      .select($"datalog").as[String].head()
    assert(eline.startsWith("?[src, dst, prop] <- [["))
    assert(eline.contains(":put graft_decision_entity"))
  }

  test("datalog export/import round-trips the graph (the reference's " +
      "`mie import` .dl path, cmd/mie/import.go:209)") {
    // adversarial strings first: quotes (the \' escape), commas,
    // brackets and the :put keyword inside quoted fields must all
    // survive the render → parse inversion exactly
    val nodes = Seq(
      ("n1", "fact", "it's 'quoted', [a, b]] :put trap", "attr' x", 0.5),
      ("n2", "entity", "plain", "a", -1.25),
      ("n3", "decision", "", "", 123.456789)
    ).toDF("id", "ntype", "content", "attr", "score")
    val edges = Seq(
      ("fact_entity", "n1", "n2", "p'1"),
      ("decision_entity", "n3", "n2", "")
    ).toDF("etype", "src", "dst", "prop")
    val g0 = new MemoryGraph(nodes, edges)
    val back = GraphIO.fromDatalog(GraphIO.toDatalog(g0))
    // scores render as fixed-6-decimal text, so values with <= 6
    // decimals round-trip bit-exactly
    assert(back.nodes.exceptAll(nodes).isEmpty &&
      nodes.exceptAll(back.nodes).isEmpty)
    assert(back.edges.exceptAll(edges).isEmpty &&
      edges.exceptAll(back.edges).isEmpty)
    // the full graph: every line parses back into the right relation
    val big = GraphIO.fromDatalog(GraphIO.toDatalog(g))
    assert(big.nodes.count() === g.nodes.count())
    assert(big.edges.count() === g.edges.count())
    assert(big.nodes.select($"id", $"ntype")
      .exceptAll(g.nodes.select($"id", $"ntype")).isEmpty)
    assert(big.edges.exceptAll(g.edges).isEmpty)
    // a capped dump imports its kept prefix: markers drop, lines parse
    val cappedBack = GraphIO.fromDatalog(
      GraphIO.toDatalogCapped(g0, maxBytes = 100L * 1000 * 1000))
    assert(cappedBack.nodes.count() === 3 && cappedBack.edges.count() === 2)
  }

  test("capped datalog truncates per relation with a byte-count trailer") {
    val full = GraphIO.toDatalog(g)
    // generous cap: identity, no markers
    val uncapped = GraphIO.toDatalogCapped(g, maxBytes = 100L * 1000 * 1000)
    assert(uncapped.count() === full.count())
    assert(uncapped.where($"datalog".startsWith("// ...")).isEmpty)
    // tiny cap: every relation truncates to the lines that fit, plus
    // one reference-style trailer carrying the full byte count
    val cap = 500L
    val capped = GraphIO.toDatalogCapped(g, maxBytes = cap)
    val rels = full.select($"rel").distinct().as[String].collect()
    val markers = capped.where($"datalog".startsWith(
      "// ... (output truncated, export is "))
    assert(markers.count() > 0)
    val perRel = capped.where(!$"datalog".startsWith("// ..."))
      .groupBy($"rel")
      .agg(sum(octet_length($"datalog") + 1).as("bytes"))
      .where($"bytes" > cap)
    assert(perRel.isEmpty, "kept lines exceed the cap in some relation")
    // marker byte counts equal the relation's full rendered size
    val fullBytes = full.groupBy($"rel")
      .agg(sum(octet_length($"datalog") + 1).as("b"))
      .as[(String, Long)].collect().toMap
    markers.select($"rel", $"datalog").as[(String, String)].collect()
      .foreach { case (rel, m) =>
        assert(m.contains(s"is ${fullBytes(rel)} bytes"), s"$rel: $m")
      }
    assert(rels.nonEmpty)
  }

  test("storeAll appends node and edge batches as one union branch each") {
    val batch = spark.range(100).select(
      concat(lit("fact:b:"), $"id").as("id"), lit("fact").as("ntype"),
      lit("bulk fact").as("content"), lit("bulk").as("attr"),
      lit(1.0).as("score"))
    val eb = spark.range(100).select(lit("fact_entity").as("etype"),
      concat(lit("fact:b:"), $"id").as("src"), lit("ent:c:1").as("dst"),
      lit("bulk").as("prop"))
    val g2 = g.storeAll(batch, eb)
    assert(g2.nodes.where($"attr" === "bulk").count() === 100)
    assert(g2.edges.where($"prop" === "bulk").count() === 100)
    // plan grows by one leaf per BATCH, not one per row
    assert(g2.nodes.queryExecution.logical.collectLeaves().size ===
      g.nodes.queryExecution.logical.collectLeaves().size + 1)
  }

  test("semanticSearch merges per-type heads into a global rank") {
    val r = g.semanticSearch("correlated telemetry",
      Seq("fact", "entity", "decision"), perType = 5, k = 10).collect()
    assert(r.length === 10)
    val sims = r.map(_.getDouble(2))
    assert(sims.sameElements(sims.sorted.reverse), "globally sorted by sim")
    // each type contributes at most perType=5, so 10 results must mix types
    assert(r.map(_.getString(0)).distinct.length >= 2)
  }
}
