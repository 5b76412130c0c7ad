package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.graph.{GraphAlgo, MemoryGraph}
import graft.model.Tables

/** Graph loops size their rounds inside their own plans and never write
  * the session's conf, so two queries on one session can run at the
  * same time without changing each other's plans or results. */
class SessionConcurrencySpec extends SparkSpec {

  private val watched = Seq("spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.enabled")

  test("CC, triangle count and a relational query run together on one " +
    "session from parallel threads without touching its conf") {
    val g = MemoryGraph.persisted(spark, sf)
    val und = MemoryGraph.undirectedView(spark, sf)
    def cc() = g.connectedComponents("invalidates")
      .collect().map(_.toString).toSet
    def triangles() = GraphAlgo.triangleCountUnd(und).head().getLong(0)
    def relational() = { // (rows, the executed plan is adaptive)
      val df = Tables.lineitem(spark, sf).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      (df.collect().map(_.toString).toSet,
        df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    }
    val (ccSeq, triSeq, (relSeq, _)) = (cc(), triangles(), relational())
    assert(ccSeq.nonEmpty && relSeq.nonEmpty)

    val before = watched.map(k => k -> spark.conf.getOption(k)).toMap
    val pool = Executors.newFixedThreadPool(4)
    try {
      val start = new CountDownLatch(1)
      val graphsDone = new CountDownLatch(2)
      def submit[T](body: => T) =
        pool.submit(new Callable[T] { def call(): T = { start.await(); body } })
      val ccPar = submit { try cc() finally graphsDone.countDown() }
      val triPar = submit { try triangles() finally graphsDone.countDown() }
      // the relational query keeps running for as long as the loops do
      val relPar = submit {
        val runs = scala.collection.mutable.ArrayBuffer(relational())
        while (graphsDone.getCount > 0) runs += relational()
        runs.toSeq
      }
      // polls the watched keys until both loops are done
      val changed = submit {
        val seen = scala.collection.mutable.LinkedHashSet.empty[String]
        while (graphsDone.getCount > 0) {
          watched.foreach { k => val v = spark.conf.getOption(k)
            if (v != before(k)) seen += s"$k=$v" }
          Thread.sleep(1)
        }
        seen.toSeq
      }
      start.countDown()
      assert(changed.get() === Nil, "a concurrent query changed the session conf")
      assert(ccPar.get() === ccSeq)
      assert(triPar.get() === triSeq)
      assert(relPar.get().forall(_ == (relSeq, true)),
        "the relational query must keep its rows and adaptive plan")
    } finally pool.shutdownNow()
  }
}
