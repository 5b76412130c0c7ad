package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import graft.graph.MemoryGraph
import graft.WritePropertySpec._

/** Property check of the writer surface (`store`, `addEdge`,
  * `invalidate`, `updateAttr`) against a driver-side model of the
  * graph. The model keeps every node and edge row and derives
  * validity: a node is valid iff no `invalidates` edge, base or
  * written, points at its id. Stored ids are fresh, so that rule and
  * the graph's (stored flag for the base, delta filter for the writes)
  * must agree. Each case writes two branches from one base, which must
  * never see each other's writes, and compares `nodes`, `edges`,
  * `validNodes` per type, `list(validOnly)` pages with their
  * `total_count`, and `stats`. Runs on a small graph built from frames
  * and on the spec SF's persisted layout.
  */
class WritePropertySpec extends SparkSpec {
  import spark.implicits._

  private val Prefix = Map("fact" -> "fact", "event" -> "evt", "decision" -> "dec")
  private val Types = Seq("fact", "event", "decision")

  /** Up to `n` write seeds; [[writes]] turns them into writes whose ids
    * come from the base's and from the earlier stored ids. */
  private def seeds(n: Int): Gen[Seq[WriteSeed]] = Gen.choose(1, n).flatMap(
    Gen.listOfN(_, for {
      kind <- Gen.frequency(4 -> 0, 2 -> 1, 2 -> 2, 2 -> 3)
      a <- Gen.choose(0, 1 << 20); b <- Gen.choose(0, 1 << 20)
      c <- Gen.choose(0, 8000000)
    } yield WriteSeed(kind, a, b, c)))

  private def writes(base: IndexedSeq[String], tag: String,
                     ss: Seq[WriteSeed]): Vector[W] = {
    var stored = Vector.empty[String]
    ss.zipWithIndex.map { case (s, i) =>
      // half the picks go to the ids stored so far, when there are any
      def pick(r: Int) =
        if (r % 2 == 1 && stored.nonEmpty) stored(r / 2 % stored.size)
        else base(r / 2 % base.size)
      s.kind match {
        case 0 =>
          val t = Types(s.a % Types.size)
          val id = s"${Prefix(t)}:$tag$i"
          stored :+= id
          Store(id, t, s"w$i", Seq("en", "x", "y")(s.b % 3), s.c / 8.0)
        case 1 => AddEdge(Seq("fact_entity", "invalidates")(s.c % 2),
          pick(s.a), pick(s.b), s"p$i")
        case 2 => Invalidate(pick(s.a), pick(s.b), s"r$i")
        case _ => UpdateAttr(pick(s.a), Seq("x", "y", "z")(s.c % 3))
      }
    }.toVector
  }

  private def apply(g: MemoryGraph, ws: Seq[W]): MemoryGraph =
    ws.foldLeft(g) {
      case (h, Store(id, t, c, a, s)) => h.store(id, t, c, a, s)
      case (h, AddEdge(e, s, d, p)) => h.addEdge(e, s, d, p)
      case (h, Invalidate(o, n, r)) => h.invalidate(o, n, r)
      case (h, UpdateAttr(id, a)) => h.updateAttr(id, a)
    }

  private def applyModel(m: Model, ws: Seq[W]): Model = ws.foldLeft(m) {
    case (m, Store(id, t, c, a, s)) => m.copy(nodes = m.nodes :+ Seq(id, t, c, a, s))
    case (m, AddEdge(e, s, d, p)) => m.copy(edges = m.edges :+ Seq(e, s, d, p))
    case (m, Invalidate(o, n, r)) =>
      m.copy(edges = m.edges :+ Seq("invalidates", n, o, r))
    case (m, UpdateAttr(id, a)) => m.copy(nodes = m.nodes.map(r =>
      if (r(0) == id) r.updated(3, a) else r))
  }

  private def bag(rows: Seq[Seq[Any]]): Map[Seq[Any], Int] =
    rows.groupBy(identity).map { case (k, v) => k -> v.size }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  // the list pages checked: (ntype, attrEq, sort, limit, offset)
  private val Pages = Seq(("fact", None, "score", 10, 0),
    ("fact", Some("x"), "id", 5, 0), ("event", None, "id", 5, 2))

  private def modelPage(m: Model, p: (String, Option[String], String, Int, Int)) = {
    val (t, attr, sort, limit, offset) = p
    val v = m.valid(t).filter(r => attr.forall(_ == r(3)))
    val sorted =
      if (sort == "score") v.sortBy(r => (-r(4).asInstanceOf[Double], r(0).toString))
      else v.sortBy(_(0).toString)(Ordering[String].reverse)
    sorted.slice(offset, offset + limit).zipWithIndex.map { case (r, i) =>
      Seq(offset + i + 1, r(0), r(2), r(3), r(4), v.size.toLong)
    }
  }

  /** Every check of `g` against `m`, as (what, graph, model) triples. */
  private def compare(g: MemoryGraph, m: Model): Seq[(String, Any, Any)] = {
    val pages = Pages.map { case p@(t, attr, sort, limit, offset) =>
      val by = if (sort == "score") col("score").desc else col("id").desc
      (s"list $p", rows(g.list(t, attr, by, limit, offset, validOnly = true)),
        modelPage(m, p))
    }
    Seq(("nodes", bag(rows(g.nodes)), bag(m.nodes)),
      ("edges", bag(rows(g.edges)), bag(m.edges))) ++
    Types.map(t => (s"validNodes $t", bag(rows(g.validNodes(t))), bag(m.valid(t)))) ++
    pages :+ ("stats", rows(g.stats()).toSet, m.stats)
  }

  private def sample(nodes: Seq[Seq[Any]]): IndexedSeq[String] =
    nodes.groupBy(_(1).toString).toIndexedSeq.sortBy(_._1)
      .flatMap(_._2.map(_(0).toString).sorted.take(3))

  private def check(name: String, g: MemoryGraph, cases: Int,
                    seed: Long): Unit = {
    val base = Model(rows(g.nodes).toVector, rows(g.edges).toVector)
    // every node id the writes may refer to: three of each type, four
    // that base edges invalidate, and one that is in no base row
    val ids = (sample(base.nodes) ++ base.edges.filter(_(0) == "invalidates")
      .collect { case r if r(2) != null => r(2).toString }.sorted.take(4) :+
      "fact:none").toIndexedSeq
    var wrote = 0
    val prop = Prop.forAllNoShrink(seeds(12), seeds(6)) { (sa, sb) =>
      val (wa, wb) = (writes(ids, "a", sa), writes(ids, "b", sb))
      wrote += wa.size + wb.size
      val diffs = Seq(wa, wb).flatMap { ws =>
        compare(apply(g, ws), applyModel(base, ws))
          .filter { case (_, got, want) => got != want }
          .map { case (what, got, want) => s"$what\n    got:  $got\n    want: $want" }
      }
      diffs.isEmpty :| s"$name\n  a: $wa\n  b: $wb\n  ${diffs.mkString("\n  ")}"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(cases).withInitialSeed(Seed(seed)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(wrote > cases * 2, "the generator wrote almost nothing")
    // the base never sees a branch's writes
    assert(compare(g, base).forall { case (_, got, want) => got == want })
  }

  /** Facts, events and an entity; invalidates chains among facts and
    * events, one with a null target, and a self-invalidating event. */
  private def small: MemoryGraph = new MemoryGraph(
    Seq(("fact:1", "fact", "f1", "en", 3.0), ("fact:2", "fact", "f2", "x", 1.0),
      ("fact:3", "fact", "f3", null, 2.0), ("fact:4", "fact", "f4", "en", 5.0),
      ("evt:1", "event", "e1", "2024-01-01", 0.5),
      ("evt:2", "event", "e2", "2024-01-02", 0.5),
      ("evt:3", "event", "e3", "2024-01-03", 0.25),
      ("dec:1", "decision", "d1", "O", 10.0),
      ("ent:c:1", "entity", "c1", "customer", 0.0))
      .toDF("id", "ntype", "content", "attr", "score"),
    Seq(("invalidates", "fact:2", "fact:1", "r"),
      ("invalidates", "evt:2", "evt:1", "view"),
      ("invalidates", "evt:3", "evt:2", "view"),
      ("invalidates", "evt:3", "evt:3", "loop"),
      ("invalidates", "fact:4", null, "dangling"),
      ("fact_entity", "fact:1", "ent:c:1", ""))
      .toDF("etype", "src", "dst", "prop"))

  test("writes on a graph built from frames match the driver-side model") {
    check("frames", small, cases = 12, seed = 20261020L)
  }

  test("writes on the persisted layout match the driver-side model") {
    check("persisted", MemoryGraph.persisted(spark, sf), cases = 8,
      seed = 20261021L)
  }

  test("50 single writes give the same graph as one storeAll batch") {
    val g = MemoryGraph.persisted(spark, sf)
    val base = Model(rows(g.nodes).toVector, rows(g.edges).toVector)
    val ids = sample(base.nodes)
    // stores and edges only: a batch carries rows, not attr updates
    val gen = Gen.listOfN(50, seeds(1).map(_.head))
      .map(ss => writes(ids, "s", ss.map(s => s.copy(kind = s.kind % 3))))
    val prop = Prop.forAllNoShrink(gen) { ws =>
      val batchNodes = ws.collect { case Store(id, t, c, a, s) => (id, t, c, a, s) }
        .toDF("id", "ntype", "content", "attr", "score")
      val batchEdges = ws.collect {
        case AddEdge(e, s, d, p) => (e, s, d, p)
        case Invalidate(o, n, r) => ("invalidates", n, o, r)
      }.toDF("etype", "src", "dst", "prop")
      val single = compare(apply(g, ws), applyModel(base, ws))
      val batch = compare(g.storeAll(batchNodes, batchEdges), applyModel(base, ws))
      val diffs = single.zip(batch).collect {
        case ((what, one, _), (_, all, _)) if one != all =>
          s"$what\n    single: $one\n    batch:  $all"
      }
      (diffs.isEmpty && single.forall { case (_, got, want) => got == want }) :|
        s"$ws\n  ${diffs.mkString("\n  ")}"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(3).withInitialSeed(Seed(20261022L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}

object WritePropertySpec {
  final case class WriteSeed(kind: Int, a: Int, b: Int, c: Int)

  sealed trait W
  final case class Store(id: String, ntype: String, content: String,
                         attr: String, score: Double) extends W
  final case class AddEdge(etype: String, src: String, dst: String,
                           prop: String) extends W
  final case class Invalidate(oldId: String, newId: String,
                              reason: String) extends W
  final case class UpdateAttr(id: String, attr: String) extends W

  /** The graph as rows, validity derived: a node is valid iff no
    * `invalidates` edge points at its id. */
  final case class Model(nodes: Vector[Seq[Any]], edges: Vector[Seq[Any]]) {
    private lazy val invalidated =
      edges.filter(_(0) == "invalidates").map(_(2)).toSet
    def valid(t: String): Vector[Seq[Any]] =
      nodes.filter(r => r(1) == t && !invalidated.contains(r(0)))
    def stats: Set[Seq[Any]] =
      (nodes.groupBy(_(1)).map { case (t, rs) => Seq(s"nodes_$t", rs.size.toLong) } ++
        edges.groupBy(_(0)).map { case (t, rs) => Seq(s"edges_$t", rs.size.toLong) })
        .toSet
  }
}
