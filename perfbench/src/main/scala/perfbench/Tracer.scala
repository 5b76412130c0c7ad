package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans for the traced run. With tracing off every method is a no-op
  * and no listener is registered.
  *
  * Harness spans (`h<n>`) wrap each call into a graft layer; Spark's
  * listener events become child spans: SQL executions (`q<id>`), jobs
  * (`j<id>`, parent = their SQL execution) and stages (`s<id>.<attempt>`,
  * parent = their job). Jobs carry the op tag set with [[tagOp]]; SQL
  * executions and plan records (`p<n>`: planning phases, analyzed plan
  * size, graft rewrite nodes executed) are placed under harness spans by
  * time when the spans are read back. Everything stays in memory until [[write]]. */
final class Tracer(val on: Boolean) {
  private val out = new ConcurrentLinkedQueue[String]()
  private val ids = new AtomicLong(0)
  private var stack: List[Long] = Nil
  @volatile private var opTag: String = null
  private var spark: SparkSession = _
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
  private def q(s: String): String = if (s == null) "null" else "\"" + Json.esc(s) + "\""

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.map(p => s"h$p").orNull
      stack = id :: stack
      val t0 = nowMs
      try body
      finally {
        stack = stack.tail
        out.add(s"""{"id":"h$id","parent":${q(parent)},"name":${q(name)},""" +
          s""""layer":${q(layer)},"start":$t0,"end":$nowMs,"op":${q(opTag)}}""")
      }
    }

  def tagOp(tag: String): Unit = if (on) {
    opTag = tag
    spark.sparkContext.setLocalProperty("perfbench.op", tag)
  }

  private val jobs = TrieMap.empty[Int, (Long, String, String)]
  private val stageJob = TrieMap.empty[Int, Int]
  private val sqlStart = TrieMap.empty[Long, Long]
  @volatile private var drainJobSeen = false
  @volatile private var drainSqlSeen = false
  @volatile private var drainQueryId = -1L

  private object Plans extends AdaptiveSparkPlanHelper

  def attach(s: SparkSession): Unit = {
    spark = s
    if (!on) return
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val sql = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).orNull
        val tag = p.flatMap(x => Option(x.getProperty("perfbench.op"))).orNull
        jobs(e.jobId) = (e.time, sql, tag)
        e.stageIds.foreach(st => stageJob.putIfAbsent(st, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.remove(e.jobId).foreach { case (t0, sql, tag) =>
          if (tag == "__drain__") drainJobSeen = true
          else out.add(s"""{"id":"j${e.jobId}","parent":${
            q(Option(sql).map("q" + _).orNull)},"name":"job","layer":"spark.job",""" +
            s""""start":$t0,"end":${e.time},"op":${q(tag)}}""")
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val job = stageJob.get(i.stageId).map("j" + _).orNull
        val (cpu, run, sr, sw, spill) =
          if (m == null) (0L, 0L, 0L, 0L, 0L)
          else (m.executorCpuTime, m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled)
        out.add(s"""{"id":"s${i.stageId}.${i.attemptNumber()}","parent":${q(job)},""" +
          s""""name":"stage","layer":"spark.stage",""" +
          s""""start":${i.submissionTime.getOrElse(0L)},"end":${i.completionTime.getOrElse(0L)},""" +
          s""""tasks":${i.numTasks},"cpu_ns":$cpu,"run_ms":$run,""" +
          s""""shuffle_read_bytes":$sr,"shuffle_write_bytes":$sw,"spill_bytes":$spill}""")
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sqlStart(s.executionId) = s.time
        case x: SparkListenerSQLExecutionEnd =>
          sqlStart.remove(x.executionId).foreach { t0 =>
            out.add(s"""{"id":"q${x.executionId}","parent":null,"name":"sql",""" +
              s""""layer":"spark.sql","start":$t0,"end":${x.time}}""")
          }
        case _ =>
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      private def plan(qe: QueryExecution): Unit = {
        if (qe.id == drainQueryId) drainSqlSeen = true
        else {
          val phases = qe.tracker.phases.values
          val rewrites = Plans.collectWithSubqueries(qe.executedPlan) {
            case p if p.getClass.getName.startsWith("graft.") => p
          }.size
          out.add(s"""{"id":"p${qe.id}","name":"plan","layer":"plans",""" +
            s""""start":${phases.map(_.startTimeMs).min},""" +
            s""""end":${phases.map(_.endTimeMs).max},""" +
            s""""planning_ms":${phases.map(_.durationMs).sum},""" +
            s""""analyzed_nodes":${qe.analyzed.collect { case n => n }.size},""" +
            s""""rewrites":$rewrites}""")
        }
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plan(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
    })
  }

  /** Waits until the listener bus has delivered every earlier event: one
    * marker job and one marker query, then polls for both. */
  def drain(s: SparkSession): Unit = if (on) {
    tagOp("__drain__")
    val marker = s.range(0, 1, 1, 1)
    drainQueryId = marker.queryExecution.id
    marker.collect()
    tagOp(null)
    val deadline = System.currentTimeMillis() + 20000
    while (!(drainJobSeen && drainSqlSeen) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  def write(p: Path): Unit = if (on) {
    val w = Files.newBufferedWriter(p, UTF_8)
    try out.asScala.foreach { l => w.write(l); w.newLine() }
    finally w.close()
  }
}
