package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.graph.MemoryGraph

/** One benchmark run in one JVM:
  *
  *   perfbench.Main <workload> <dataDir> <outDir> <seconds> <minRounds> <trace 0|1>
  *
  * The JVM's working directory is a fresh directory, so graft's on-disk
  * layout and every DiskCache artifact are built cold during set-up.
  * The op list comes from `<outDir>/ops.tsv` (written by run.py from the
  * seed). Results go to `<outDir>/measure.json`, every operation's
  * answer to `<outDir>/answers*`, and with tracing on the spans to
  * `<outDir>/spans.jsonl`. Nothing is printed on stdout.
  */
object Main {

  final case class Op(round: Int, f: Array[String]) {
    def name: String = f(0)
  }

  def main(args: Array[String]): Unit = {
    // exit explicitly: a lingering non-daemon thread must not keep the
    // JVM (and the run) alive after the results are written
    val code = try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDirS, secondsS, minRoundsS, traceS) = args
    val outDir = Paths.get(outDirS)
    val seconds = secondsS.toDouble
    val rt = ManagementFactory.getRuntimeMXBean
    val jvmStartMs = rt.getStartTime
    val ops = Files.readAllLines(outDir.resolve("ops.tsv"), UTF_8).asScala
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1)
        Op(f(0).toInt, f.drop(1))
      }.toVector
    val tracer = new Tracer(traceS == "1")
    val m = new Measure(jvmStartMs)

    val spark = tracer.span("setup.session", "setup") { Session.build() }
    m.setup("session_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    tracer.attach(spark)

    val w: Workload = workload match {
      case "agent" => new Agent(spark, dataDir, outDir, tracer)
      case "analytics" => new Batch(spark, dataDir, outDir, tracer)
      case other => sys.error(s"unknown workload $other")
    }
    // op-list round 0 is the warm-up; the timed phase cycles through the rest
    val rounds = ops.groupBy(_.round).toVector.sortBy(_._1).map(_._2)
    val (warmup, timed) = (rounds.head, rounds.tail)
    try {
      w.setup(warmup, m)
      m.firstCallMs = System.currentTimeMillis()
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      var r = 0
      // whole rounds only, at least minRounds: every run attempts the
      // same ops per round, and each op's position is timed more than once
      while (r < minRoundsS.toInt || (System.nanoTime() - t0) / 1e9 < seconds) {
        val round = timed(r % timed.size)
        tracer.span(s"round.$r", "harness") { w.runRound(r, round, m) }
        m.rounds += 1
        r += 1
      }
      m.timedS = (System.nanoTime() - t0) / 1e9 - m.untimedS
      m.gcS = gcSeconds() - gc0
      w.finish(m)
    } catch {
      case e: Throwable =>
        m.errors += s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    m.diskCacheBytes = dirBytes(Paths.get(sys.props("user.dir"), "target"))
    tracer.drain(spark)
    m.heapLiveMb = heapAfterGc()
    m.write(outDir.resolve("measure.json"))
    tracer.write(outDir.resolve("spans.jsonl"))
    spark.stop()
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap in use after a full GC, the least of three: between them the
    * ContextCleaner frees what the previous collection unreferenced. */
  def heapAfterGc(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }.min

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def blockMemMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, rem) => max - rem }.sum / 1048576.0
}

/** The session graft.Bench times, sized to this machine's cores. */
object Session {
  def build(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.locality.wait", "0s")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.cleaner.periodicGC.interval", "15s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Raw figures of one run; run.py turns them into the reported metrics. */
final class Measure(val jvmStartMs: Long) {
  val setup = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var firstCallMs = 0L
  var timedS = 0.0
  var untimedS = 0.0 // reads made in the timed phase only for the checks
  var gcS = 0.0
  var rounds = 0
  var heapLiveMb = 0.0
  var diskCacheBytes = 0L
  var blockMemMaxMb = 0.0
  val ops = ArrayBuffer.empty[String]
  val errors = ArrayBuffer.empty[String]

  def op(round: Int, idx: Int, name: String, ms: Double, ok: Boolean,
         extra: (String, Double)*): Unit = {
    val ex = extra.map { case (k, v) => s""","${Json.esc(k)}":$v""" }.mkString
    ops += s"""{"round":$round,"i":$idx,"op":"${Json.esc(name)}","ms":$ms,"ok":$ok$ex}"""
  }

  def write(p: Path): Unit = {
    val st = setup.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val s =
      s"""{"setup":$st,"setup_s":${(firstCallMs - jvmStartMs) / 1e3},""" +
      s""""timed_s":$timedS,"gc_s":$gcS,"rounds":$rounds,""" +
      s""""heap_live_mb":$heapLiveMb,"disk_cache_bytes":$diskCacheBytes,""" +
      s""""block_mem_max_mb":$blockMemMaxMb,""" +
      s""""errors":${errors.map(e => "\"" + Json.esc(e) + "\"").mkString("[", ",", "]")},""" +
      s""""ops":${ops.mkString("[", ",\n", "]")}}"""
    Files.write(p, s.getBytes(UTF_8))
  }
}

object Json {
  def esc(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '"' => b.append("\\\""); case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n"); case '\t' => b.append("\\t")
      case '\r' => b.append("\\r")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }

  def rows(rs: Seq[Row]): String = rs.map(value).mkString("[", ",", "]")
}

trait Workload {
  def setup(warmup: Seq[Main.Op], m: Measure): Unit
  def runRound(r: Int, ops: Seq[Main.Op], m: Measure): Unit
  def finish(m: Measure): Unit = ()
}

/** agent: one mie agent session per round on the persisted graph (built
  * cold in set-up). A round is a seeded mix of read calls, then a write
  * session: each step writes (store + addEdge, sometimes invalidate or
  * updateAttr) and reads back through the amended snapshot. Every
  * round's write session starts again from the persisted base graph. */
final class Agent(spark: SparkSession, dataDir: String, outDir: Path,
                  tracer: Tracer) extends Workload {
  private var g: MemoryGraph = _
  private val answers = Files.newBufferedWriter(outDir.resolve("answers.jsonl"), UTF_8)

  /** `round` is the timed round (-1 for the warm-up), `opRound` the
    * op-list round its calls come from. */
  private def answer(kind: String, round: Int, opRound: Int, idx: Int,
                     f: Array[String], rows: Seq[Row]): Unit = {
    answers.write(s"""{"kind":"$kind","round":$round,"op_round":$opRound,"i":$idx,"op":${
      Json.value(f.toSeq)},"rows":${Json.rows(rows)}}""")
    answers.newLine()
  }

  private def sortCol(s: String): Column = s match {
    case "score_desc" => col("score").desc
    case other => col(other)
  }

  private def read(f: Array[String]): DataFrame = f(0) match {
    case "node" => g.node(f(1))
    case "findByName" => g.findByName(f(1), f(2))
    case "findFactByContent" => g.findFactByContent(f(1))
    case "list" => g.list(f(1), Option(f(2)).filter(_ != "-"), sortCol(f(3)),
      f(4).toInt, f(5).toInt, validOnly = f(6) == "1")
    case "exactSearch" => g.exactSearch(f(1), f(2).split(","), f(3).toInt)
    case "semanticSearch" =>
      g.semanticSearch(f(1), f(2).split(","), f(3).toInt, f(4).toInt)
    case "outNeighbors" => g.outNeighbors(f(1), f(2))
    case "inNeighbors" => g.inNeighbors(f(1), f(2))
    case "walk" =>
      // the invalidation chain of one event: chains never leave their
      // event type, so the stride relation is sliced to it
      g.walk(f(1), "invalidates", f(3).toInt,
        edgeFilter = Some(col("prop") === f(2)))
    case "recentContext" => g.recentContext()
    case "stats" => g.stats()
    case other => sys.error(s"unknown read op $other")
  }

  // step: "step" idx newId content attr score edgeDst invalidateOld updId updAttr
  private def write(g0: MemoryGraph, f: Array[String]): MemoryGraph = {
    var h = g0.store(f(2), "fact", f(3), f(4), f(5).toDouble)
      .addEdge("fact_entity", f(2), f(6), "")
    if (f(7) != "-") h = h.invalidate(f(7), f(2), "superseded")
    if (f(8) != "-") h = h.updateAttr(f(8), f(9))
    h
  }

  private def readBack(h: MemoryGraph, f: Array[String]): (Seq[Row], Seq[Row]) =
    (h.node(f(2)).collect().toSeq,
      h.list("fact", None, col("score").desc, 10, 0, validOnly = true)
        .collect().toSeq)

  private def sweep(): Unit = graft.util.Barriers.sweepTransient(spark.sparkContext)

  def setup(warmup: Seq[Main.Op], m: Measure): Unit = {
    val t0 = System.nanoTime()
    g = tracer.span("setup.graph_layout", "setup") {
      MemoryGraph.persisted(spark, dataDir)
    }
    val t1 = System.nanoTime()
    // warm-up: one whole round, untimed; its answers are checked too
    tracer.span("setup.warmup", "setup") { session(-1, warmup, None) }
    m.setup("graph_layout_s") = (t1 - t0) / 1e9
    m.setup("warmup_s") = (System.nanoTime() - t1) / 1e9
  }

  def runRound(r: Int, ops: Seq[Main.Op], m: Measure): Unit = session(r, ops, Some(m))

  /** One round: the reads, then the write session. Timed rounds record
    * each op in `m` and count a failed call; the warm-up (no `m`) fails
    * the run on any error. */
  private def session(r: Int, ops: Seq[Main.Op], m: Option[Measure]): Unit = {
    var h = g
    val opRound = ops.head.round
    ops.zipWithIndex.foreach { case (op, i) =>
      if (m.nonEmpty) tracer.tagOp(s"$r.$i")
      val f = op.f
      try {
        if (op.name == "step") {
          val t0 = System.nanoTime()
          h = tracer.span("memory_graph.write", "memory_graph") { write(h, f) }
          val t1 = System.nanoTime()
          val (node, page) = tracer.span("memory_graph.readback", "memory_graph") {
            readBack(h, f)
          }
          val t2 = System.nanoTime()
          m.foreach(_.op(r, i, "step", (t2 - t0) / 1e6, ok = true,
            "write_ms" -> (t1 - t0) / 1e6, "readback_ms" -> (t2 - t1) / 1e6))
          answer("node", r, opRound, i, f, node)
          answer("page", r, opRound, i, f, page)
        } else {
          val t0 = System.nanoTime()
          val rows = tracer.span(s"memory_graph.${op.name}", "memory_graph") {
            read(f).collect().toSeq
          }
          m.foreach(_.op(r, i, op.name, (System.nanoTime() - t0) / 1e6, ok = true))
          answer("read", r, opRound, i, f, rows)
        }
      } catch {
        case e: Exception if m.nonEmpty =>
          m.get.op(r, i, op.name, 0.0, ok = false)
          m.get.errors += s"${op.name} $i: ${e.getMessage}"
      }
      if (m.nonEmpty) tracer.tagOp(null)
      sweep()
      m.foreach(x => x.blockMemMaxMb = x.blockMemMaxMb.max(Main.blockMemMb(spark)))
    }
    // end-of-session reads for the read-your-writes checks, kept out of
    // the timed phase
    val t0 = System.nanoTime()
    val steps = ops.filter(_.name == "step").map(_.f)
    val invalidated = steps.map(_(7)).filter(_ != "-")
    answer("stats", r, opRound, -1, Array("stats"), h.stats().collect().toSeq)
    answer("invalid_visible", r, opRound, -1, Array("validNodes"),
      h.validNodes("fact").where(col("id").isin(invalidated: _*))
        .select(col("id")).collect().toSeq)
    steps.filter(_(8) != "-").foreach { f =>
      answer("updated", r, opRound, -1, Array("node", f(8), f(9)), h.node(f(8)).collect().toSeq)
    }
    m.foreach(_.untimedS += (System.nanoTime() - t0) / 1e9)
  }

  override def finish(m: Measure): Unit = answers.close()
}

/** analytics: graft's SparkEntry queries (graph loops, corpus operators), each
  * run to a parquet answer, one round = every query once. Every run of a
  * query, the warm-up's too, writes its own `answers/<query>/<run>`. */
final class Batch(spark: SparkSession, dataDir: String, outDir: Path,
                  tracer: Tracer) extends Workload {
  private val queries = graft.SparkEntry.queries
  private val layer = (q: String) => if (q.startsWith("b")) "graph_algo" else "operators"

  private def runQuery(q: String, run: String): Unit = {
    val df = tracer.span(s"${layer(q)}.$q.plan", layer(q)) {
      queries(q)(spark, dataDir)
    }
    tracer.span(s"${layer(q)}.$q.sink", layer(q)) {
      df.write.parquet(outDir.resolve("answers").resolve(q).resolve(run).toString)
    }
  }

  def setup(warmup: Seq[Main.Op], m: Measure): Unit = {
    val names = warmup.map(_.f(0))
    val oracle = graft.SparkEntry.oracleSql
    Files.write(outDir.resolve("oracle_sql.json"),
      names.map(q => s"${Json.value(q)}:${Json.value(oracle.getOrElse(q, null))}")
        .mkString("{", ",\n", "}").getBytes(UTF_8))
    // the graph layout is what every b-query reads first
    if (names.exists(_.startsWith("b"))) {
      val t0 = System.nanoTime()
      tracer.span("setup.graph_layout", "setup") {
        MemoryGraph.persisted(spark, dataDir)
      }
      m.setup("graph_layout_s") = (System.nanoTime() - t0) / 1e9
    }
    // cold round: builds every DiskCache artifact the queries use
    val t0 = System.nanoTime()
    tracer.span("setup.warmup", "setup") {
      names.foreach { q => runQuery(q, "warmup"); graft.util.Barriers.sweepTransient(spark.sparkContext) }
    }
    m.setup("warmup_s") = (System.nanoTime() - t0) / 1e9
  }

  def runRound(r: Int, ops: Seq[Main.Op], m: Measure): Unit =
    ops.zipWithIndex.foreach { case (op, i) =>
      val q = op.f(0)
      tracer.tagOp(s"$r.$i")
      val t0 = System.nanoTime()
      val ok =
        try { tracer.span(s"${layer(q)}.$q", layer(q)) { runQuery(q, s"r$r") }; true }
        catch { case e: Exception => m.errors += s"$q: ${e.getMessage}"; false }
      m.op(r, i, q, (System.nanoTime() - t0) / 1e6, ok)
      tracer.tagOp(null)
      m.blockMemMaxMb = m.blockMemMaxMb.max(Main.blockMemMb(spark))
      graft.util.Barriers.sweepTransient(spark.sparkContext)
    }
}
