package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Plan audit: prints the formatted physical plan of selected queries
  * (default: a scan-pushdown, a broadcast join, and the star join) so
  * pushdown/broadcast/codegen can be eyeballed, on Bench's session.
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  *
  * SPARK_GRAFT_EXPLAIN_EXEC=1 executes each query (noop sink) first and
  * prints the FINAL adaptive plan with its live SQL metrics (rows,
  * durations, shuffle bytes, spill) — runtime ReusedExchange / AQE
  * join demotions and per-operator cost the static explain can't show.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("a2_filter_project", "a3_broadcast_join", "a4_star_join")
    // honor SPARK_GRAFT_CPUS (r17): the r16 plan dumps were captured
    // at the default 4, where loop partition sizing clamps to 4 and a
    // 32-core fan-out regression is invisible in the dump.
    val spark = GraftSession.local(GraftSession.envCpus)
    val exec = sys.env.get("SPARK_GRAFT_EXPLAIN_EXEC").contains("1")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (exec) {
        df.write.format("noop").mode("overwrite").save()
        printMetrics(df.queryExecution.executedPlan, 0)
      } else df.explain("formatted")
    }
    spark.stop()
  }

  private val shownMetrics = Set("numOutputRows", "duration",
    "shuffleBytesWritten", "dataSize", "collectTime", "buildTime",
    "aggTime", "sortTime", "fetchWaitTime", "shuffleWriteTime",
    "numFiles", "spillSize")

  /** One line per operator with its non-zero shown metrics, descending
    * into adaptive plans and query stages. */
  private def printMetrics(p: SparkPlan, depth: Int): Unit = {
    def fmt(v: Long): String =
      if (v >= 10000000L) s"${v / 1000000}M" else v.toString
    val m = p.metrics.collect {
      case (k, v) if shownMetrics(k) && v.value > 0 => s"$k=${fmt(v.value)}"
    }.mkString(" ")
    println("  " * depth + p.nodeName + "  " + m)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      case _ => p.children
    }
    kids.foreach(printMetrics(_, depth + 1))
  }
}
