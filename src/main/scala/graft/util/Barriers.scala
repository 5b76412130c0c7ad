package graft.util

import org.apache.spark.sql.DataFrame

/** Materialization barriers for iterative algorithms (connected
  * components, PageRank, pointer-doubling walks, k-means, the LSH
  * two-step materializations).
  *
  * Default: `localCheckpoint` — blocks live on executors with NO
  * fault tolerance. That is the right call on local[N] (zero extra
  * I/O, one JVM, nothing to lose), but on a 1000-executor cluster a
  * single lost executor invalidates the blocks, and because the
  * barrier truncates lineage the job cannot recompute them: the run
  * dies mid-iteration.
  *
  * `spark.graft.checkpoint.reliable=true` switches every barrier to a
  * reliable `checkpoint` to the SparkContext checkpoint dir (HDFS/
  * object storage on a cluster — set it via
  * `spark.graft.checkpoint.dir` or `sc.setCheckpointDir`): executor
  * loss then costs a re-read, not the job. The flag changes only
  * WHERE the materialized blocks live, never their content — every
  * algorithm above is deterministic under both modes (spec-pinned in
  * BarrierSpec).
  */
object Barriers {

  /** RDD ids produced by [[barrier]] and not yet freed. [[free]]
    * only ever unpersists ids registered here, so a frame that did
    * not come straight out of [[barrier]] can never lose blocks to a
    * misdirected free. Ids are removed on free (double-free is a
    * no-op); the set holds bare ints, so a long session's residue is
    * bytes, not blocks. */
  private val owned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Materialize `df` and truncate its lineage, to local executor
    * blocks (default) or to the reliable checkpoint dir (see above).
    *
    * Keeps `df`'s hash partitioning under AQE, as Spark's checkpoint
    * does without it (under AQE it reports none, since the final stage
    * may read through AQE's coalescing): when the final stage has no
    * AQE shuffle read, its partitioning is the non-adaptive planner's.
    * So a loop's frames, repartitioned by their join key before the
    * barrier, stay co-partitioned from round to round. */
  def barrier(df: DataFrame, eager: Boolean = true): DataFrame = {
    val s = df.sparkSession
    val reliable = s.conf
      .getOption("spark.graft.checkpoint.reliable").contains("true")
    val cp =
      if (!reliable) df.localCheckpoint(eager)
      else {
        if (s.sparkContext.getCheckpointDir.isEmpty) {
          val dir = s.conf.getOption("spark.graft.checkpoint.dir")
            .getOrElse(sys.props("java.io.tmpdir") + "/graft-checkpoints")
          s.sparkContext.setCheckpointDir(dir)
        }
        df.checkpoint(eager)
      }
    val out = withFinalPartitioning(df, cp)
    out.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        owned.add(lr.rdd.id)
      case _ => () // defensive: checkpoint always yields a LogicalRDD
    }
    out
  }

  private def withFinalPartitioning(df: DataFrame,
                                    cp: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap}
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, PartitioningCollection}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec}
    (df.queryExecution.executedPlan, cp.queryExecution.analyzed) match {
      case (a: AdaptiveSparkPlanExec, lr: LogicalRDD) if a.isFinalPlan &&
          !a.executedPlan.exists(_.isInstanceOf[AQEShuffleReadExec]) =>
        val part = a.executedPlan.outputPartitioning match {
          case PartitioningCollection(ps) => ps.head
          case p => p
        }
        part match {
          case h: HashPartitioning
              if h.numPartitions == lr.rdd.getNumPartitions &&
                h.references.subsetOf(a.outputSet) =>
            val byPos = AttributeMap(a.output.zip(lr.output))
            val onCp = h.transform { case at: Attribute => byPos(at) }
            org.apache.spark.sql.graft.ColumnBridge.ofRows(cp.sparkSession,
              lr.makeCopy(Array(lr.output, lr.rdd, onCp, lr.outputOrdering,
                Boolean.box(lr.isStreaming), lr.stream)))
          case _ => cp
        }
      case _ => cp
    }
  }

  /** Free every owned barrier block — the QUERY-BOUNDARY
    * sweep (r15-verdict #1). A round-robin pass over the full 223-
    * query inventory accumulates every query's localCheckpoint blocks
    * in executor storage until ContextCleaner gets to them at GC
    * pressure; the graph tier's deep barrier chains were paying that
    * pressure as 2-4× in-suite medians over their own isolated
    * minima. After a query's output is materialized (noop sink /
    * parquet dump), all its transient barrier blocks are garbage BY
    * CONSTRUCTION — each query builds its plan from the raw tables
    * and at-rest artifacts, never from a previous query's frames —
    * so the harness frees them eagerly between queries (untimed),
    * exactly what a per-query session would have done. Every owned
    * block is freed, so no barrier frame may be scanned after the
    * sweep. Blocks already gone (GC'd, evicted, never materialized)
    * are skipped harmlessly. */
  def sweepTransient(sc: org.apache.spark.SparkContext): Int = {
    val persistent = sc.getPersistentRDDs
    var n = 0
    val it = owned.iterator()
    while (it.hasNext) {
      val id = it.next()
      persistent.get(id).foreach { r =>
        r.unpersist(blocking = false); n += 1 }
      it.remove()
    }
    n
  }

  /** Free the executor blocks behind a frame [[barrier]] produced,
    * for callers that hold LONG-LIVED barrier generations (the
    * streaming cumulative-state folds): once a new generation has
    * materialized eagerly, the previous generation's blocks are dead
    * weight that ContextCleaner only reclaims at GC pressure — on a
    * long stream that lag grows with corpus size.
    *
    * Strictly guarded (r14-advice low): the frame's WHOLE analyzed
    * plan must be the single LogicalRDD node a [[barrier]] call
    * returned, and that RDD's id must still be in the ownership
    * registry. A derived frame (a union over generations, a filter
    * on top of a barrier) is left untouched — freeing through it
    * would kill blocks still backing other live DataFrames, with no
    * lineage to recompute them from. Double-free is a no-op. The
    * freed frame must never be scanned again. */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if owned.remove(lr.rdd.id) =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Suffix form: `df.barrier(true)` reads like the localCheckpoint
    * call it replaces. */
  implicit class BarrierOps(private val df: DataFrame) extends AnyVal {
    def barrier(eager: Boolean = true): DataFrame =
      Barriers.barrier(df, eager)
  }
}
