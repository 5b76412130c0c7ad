package graft

import org.apache.spark.sql.SparkSession

/** The one local session graft builds: Bench times it, Verify dumps the
  * oracle outputs from it, Explain prints its plans and the specs run on
  * it, so all four see the same physical plans. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the testdata's timestamp encoding has drifted between INT64
      // nanos and naive micros: read nanos as long and never infer
      // TIMESTAMP_NTZ; Tables.load normalizes what is left
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // local-mode scheduling: no locality waits, larger broadcast
      // threshold so sf0.1 dims broadcast instead of shuffling
      .config("spark.locality.wait", "0s")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // ContextCleaner starvation fix (r17, guide §5): shuffle files,
      // broadcasts and RDD state are cleaned only when the DRIVER GC
      // collects their weak references, and a multi-query session
      // with an 8 GiB heap can run entire suites without one Full GC
      // — per-pass b25 samples climbed 6.8 → 21.2 s monotonically as
      // dead shuffle state piled up. periodicGC.interval (Spark's
      // knob for exactly this; default 30 min) puts a bounded driver
      // GC inside the run: measured b25 med 12.0 → 4.2 s, floor
      // 4.7 → 3.7, with the GC pauses paid inside timed queries.
      // SPARK_GRAFT_PERIODIC_GC overrides it for interval sweeps.
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC", "15s"))
      .getOrCreate()
    // ERROR, not WARN: the query-boundary sweep unpersists
    // localCheckpointed RDDs, which logs a WARN per frame — hundreds
    // of stderr lines that could displace Bench's final JSON line from
    // the driver's bounded output tail.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
