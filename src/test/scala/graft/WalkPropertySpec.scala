package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import graft.graph.MemoryGraph
import graft.WalkPropertySpec.WalkCase

/** Property check of [[MemoryGraph.walk]] and of its pointer-doubling
  * shape ([[MemoryGraph.walkByDoubling]], which `walk` takes only above
  * its driver cap) against a plain driver-side BFS: on generated edge
  * lists of at most 12 nodes — chains, branching DAGs, cycles,
  * self-loops, parallel edges and starts with no out-edges — both must
  * emit exactly the edges whose `src` lies at shortest distance
  * `d < maxHops` from the start, each with `step = d + 1`, duplicates
  * included. Rows of the walked type with a null `src` (never emitted)
  * or a null `dst` (emitted when the `src` is reached, never expanded)
  * and edges of a second type ride along. Runs under both barrier
  * modes.
  */
class WalkPropertySpec extends SparkSpec {
  import spark.implicits._

  private val Hops = Seq(0, 1, 2, 5, 9)

  private def props(es: Seq[(Int, Int)]): Gen[Seq[(Int, Int, String)]] =
    Gen.listOfN(es.size, Gen.oneOf("a", "b"))
      .map(ps => es.zip(ps).map { case ((a, b), p) => (a, b, p) })

  private def chainOf(n: Int) = (0 until n - 1).map(i => (i, i + 1))

  private val shapes: Gen[(String, Int, Seq[(Int, Int)])] = Gen.oneOf(
    Gen.choose(1, 12).map(n => ("chain", n, chainOf(n))),
    for {
      n <- Gen.choose(2, 12)
      m <- Gen.choose(0, 2 * n)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 2); b <- Gen.choose(a + 1, n - 1)
      } yield (a, b))
    } yield ("dag", n, es),
    for {
      n <- Gen.choose(1, 12); back <- Gen.choose(0, n - 1)
    } yield ("cycle", n, chainOf(n) :+ (n - 1 -> back)),
    for {
      n <- Gen.choose(1, 12)
      loops <- Gen.someOf(0 until n)
      dup <- Gen.choose(0, n - 1)
    } yield ("loops+parallel", n,
      chainOf(n) ++ chainOf(n).take(dup) ++ loops.map(i => (i, i))),
    for {
      n <- Gen.choose(1, 12)
      m <- Gen.choose(0, 3 * n)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield ("random", n, es))

  // rows of the walked type with one endpoint null
  private def dangling(n: Int): Gen[Seq[(Option[Int], Option[Int], String)]] =
    Gen.choose(0, 2).flatMap(Gen.listOfN(_, for {
      a <- Gen.choose(0, n - 1); srcNull <- Gen.oneOf(true, false)
    } yield if (srcNull) (None, Some(a), "a") else (Some(a), None, "a")))

  // start == n names a node no edge touches
  private val cases: Gen[WalkCase] = for {
    (shape, n, es) <- shapes
    edges <- props(es)
    nulls <- dangling(n)
    noise <- Gen.listOfN(n, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    start <- Gen.choose(0, n)
    maxHops <- Gen.oneOf(Hops)
  } yield WalkCase(shape, n,
    edges.map { case (a, b, p) => (Some(a), Some(b), p) } ++ nulls,
    noise, start, maxHops)

  private type Walked = Seq[(Int, String, Option[String], String)]

  private def id(i: Int) = s"n$i"

  private def bfs(c: WalkCase): Walked = {
    val out = c.edges.collect { case (Some(a), Some(b), _) => (a, b) }
      .groupBy(_._1)
    var dist = Map(c.start -> 0)
    var frontier = Seq(c.start)
    var d = 0
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(u => out.getOrElse(u, Nil).map(_._2))
        .distinct.filterNot(dist.contains)
      dist ++= frontier.map(_ -> d)
    }
    c.edges.collect {
      case (Some(a), b, p) if dist.get(a).exists(_ < c.maxHops) =>
        (dist(a) + 1, id(a), b.map(id), p)
    }.sorted
  }

  private def walked(c: WalkCase): (Walked, Walked) = {
    val edges = (c.edges.map { case (a, b, p) =>
        ("rel", a.map(id), b.map(id), p) } ++
      c.noise.map { case (a, b) => ("other", Some(id(b)), Some(id(a)), "x") })
      .toDF("etype", "src", "dst", "prop")
    val nodes = (0 to c.n).map(i => (id(i), "entity", "", "", 0.0))
      .toDF("id", "ntype", "content", "attr", "score")
    val g = new MemoryGraph(nodes, edges)
    def rows(df: org.apache.spark.sql.DataFrame): Walked =
      df.as[(Int, String, Option[String], String)].collect().toSeq.sorted
    (rows(g.walk(id(c.start), "rel", c.maxHops)),
      rows(g.walkByDoubling(id(c.start), "rel", c.maxHops)))
  }

  private def check(): Unit = {
    val seen = scala.collection.mutable.Set.empty[(String, Int)]
    var nullDstEmitted = 0
    val prop = Prop.forAllNoShrink(cases) { c =>
      seen += c.shape -> c.maxHops
      val ((got, doubled), want) = (walked(c), bfs(c))
      nullDstEmitted += want.count(_._3.isEmpty)
      (got == want && doubled == want) :|
        s"$c\n  walk:     $got\n  doubling: $doubled\n  bfs:      $want"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(40).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(seen.map(_._1).size === 5 && seen.map(_._2) === Hops.toSet,
      s"generator missed a shape or a maxHops value: $seen")
    assert(nullDstEmitted > 0, "no case reached a row with a null dst")
  }

  test("walk equals a driver-side BFS on generated edge lists") {
    check()
  }

  test("walk equals a driver-side BFS under reliable barriers") {
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    spark.conf.set("spark.graft.checkpoint.dir",
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    try check()
    finally spark.conf.unset("spark.graft.checkpoint.reliable")
  }
}

object WalkPropertySpec {
  final case class WalkCase(shape: String, n: Int,
                            edges: Seq[(Option[Int], Option[Int], String)],
                            noise: Seq[(Int, Int)],
                            start: Int, maxHops: Int)
}
