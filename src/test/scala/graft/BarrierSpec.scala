package graft

import org.apache.spark.sql.functions._
import graft.model.Tables

/** The `spark.graft.checkpoint.reliable` flag swaps every iterative
  * algorithm's materialization barrier from executor-local blocks
  * (fast, no fault tolerance — right for local[N]) to a reliable
  * checkpoint (survives executor loss — required at cluster scale,
  * where a lost executor plus truncated lineage would otherwise kill
  * the job mid-iteration). The flag must change WHERE blocks live and
  * nothing else: these tests pin bit-identical results across modes
  * for each family of barrier users.
  */
class BarrierSpec extends SparkSpec {
  import spark.implicits._

  private def withReliable[A](f: => A): A = {
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    spark.conf.set("spark.graft.checkpoint.dir",
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    try f
    finally spark.conf.unset("spark.graft.checkpoint.reliable")
  }

  test("reliable barriers leave connected components bit-identical") {
    def run() = graft.graph.GraphAlgo
      .connectedComponents(
        Tables.events(spark, sf).select(
          ($"event_id" % 50).as("src"), ($"event_id" % 97).as("dst")))
      .orderBy($"node").collect().toSeq
    val local = run()
    val reliable = withReliable(run())
    assert(local === reliable)
  }

  test("reliable barriers leave pageRank bit-identical") {
    def run() = graft.graph.GraphAlgo
      .pageRank(Tables.events(spark, sf).select(
        ($"event_id" % 50).as("src"), ($"event_id" % 97).as("dst")),
        iters = 3)
      .orderBy($"id").collect().toSeq
    val local = run()
    val reliable = withReliable(run())
    assert(local === reliable)
  }

  test("Barriers.free unpersists only frames barrier() itself " +
    "produced — derived unions and foreign checkpoints are untouched") {
    import graft.util.Barriers
    import graft.util.Barriers.BarrierOps
    def blocksOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
        case other => fail(s"expected LogicalRDD, got $other")
      }
    val a = spark.range(100).toDF("n").barrier(true)
    val b = spark.range(100, 200).toDF("n").barrier(true)
    // a derived frame over live generations must NOT lose its blocks
    val union = a.unionByName(b)
    Barriers.free(union)
    assert(blocksOf(a).getStorageLevel.useMemory ||
      blocksOf(a).getStorageLevel.useDisk,
      "free(union) must not unpersist a generation backing the union")
    assert(union.count() === 200)
    // a frame NOT produced by barrier (raw localCheckpoint) is foreign
    val foreign = spark.range(10).toDF("n").localCheckpoint(true)
    Barriers.free(foreign)
    assert(blocksOf(foreign).getStorageLevel.useMemory ||
      blocksOf(foreign).getStorageLevel.useDisk,
      "free must not unpersist a checkpoint it does not own")
    // the owned generations themselves DO free, exactly once
    Barriers.free(a)
    Barriers.free(b)
    assert(blocksOf(a).getStorageLevel ===
      org.apache.spark.storage.StorageLevel.NONE)
    assert(blocksOf(b).getStorageLevel ===
      org.apache.spark.storage.StorageLevel.NONE)
    Barriers.free(a) // double-free: no-op, no throw
  }

  test("DiskCache fails loudly when the artifact rename loses with " +
    "no complete winner present") {
    import java.nio.file.{Files, Paths}
    val kind = "testcache-" + System.nanoTime()
    val src = Files.createTempDirectory("graft-dc-src")
    Files.writeString(src.resolve("x.txt"), "hello")
    val fp = graft.util.DiskCache.fingerprint(Seq(src.toString))
    // pre-create a NON-empty target without _SUCCESS: the atomic move
    // must fail (DirectoryNotEmptyException) and ready stays false →
    // the seam must throw, not fall through to an opaque read error.
    val basePath = Paths.get(sys.props("user.dir"), "target", kind,
      "v1", "t-" + fp)
    Files.createDirectories(basePath.resolve("junk"))
    Files.writeString(basePath.resolve("junk/partial"), "stale")
    val e = intercept[IllegalStateException] {
      graft.util.DiskCache.cached(spark, kind, "v1",
        Seq(src.toString), "t", Seq("sub")) { tmp =>
        spark.range(3).toDF("n").write.parquet(tmp + "/sub")
      } { base => spark.read.parquet(base + "/sub").count() }
    }
    assert(e.getMessage.contains("no complete winner"))
  }

  test("sweepTransient frees every owned barrier block") {
    import graft.util.Barriers
    import org.apache.spark.storage.StorageLevel
    val a = spark.range(100).toDF("n")
    val transient0 = Barriers.barrier(a.select(($"n" * 2).as("m")))
    val freed = Barriers.sweepTransient(spark.sparkContext)
    assert(freed >= 1, "sweep freed nothing")
    def level(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
        .rdd.getStorageLevel
    assert(level(transient0) === StorageLevel.NONE,
      "barrier blocks survived the sweep")
    // swept ids leave the registry: a second sweep is a no-op
    assert(Barriers.sweepTransient(spark.sparkContext) === 0)
  }

  test("DiskCache fingerprints name, size and mtime: a size change " +
      "rebuilds, a same-size rewrite with the mtime kept does not") {
    import java.nio.file.{Files, Paths}
    import graft.util.DiskCache
    val kind = "testcache-fp-" + System.nanoTime()
    val src = Files.createTempDirectory("graft-dc-fpsrc")
    val f = src.resolve("x.txt")
    Files.writeString(f, "hello")
    var builds = 0
    def serve(s: org.apache.spark.sql.SparkSession): String =
      DiskCache.cached(s, kind, "v1", Seq(src.toString), "t", Seq("sub")) {
        tmp =>
          builds += 1
          Seq(Files.readString(f)).toDF("s").write.parquet(tmp + "/sub")
      } { base => s.read.parquet(base + "/sub").head().getString(0) }
    assert(serve(spark) === "hello" && builds === 1)
    val fp0 = DiskCache.fingerprint(Seq(src.toString))
    // a rewrite that changes the size: new fingerprint, rebuilt entry
    Files.writeString(f, "hello, world")
    val fp1 = DiskCache.fingerprint(Seq(src.toString))
    assert(fp1 !== fp0)
    assert(serve(spark) === "hello, world" && builds === 2)
    // the documented limit: same size, mtime restored → same
    // fingerprint, and a fresh session is served the old entry
    val mtime = Files.getLastModifiedTime(f)
    Files.writeString(f, "HELLO, WORLD")
    Files.setLastModifiedTime(f, mtime)
    assert(DiskCache.fingerprint(Seq(src.toString)) === fp1)
    assert(serve(spark.newSession()) === "hello, world" && builds === 2)
  }

  test("DiskCache params key entries mechanically and a tampered " +
      "manifest fails the read") {
    import java.nio.file.{Files, Paths}
    val kind = "testcache-p-" + System.nanoTime()
    val src = Files.createTempDirectory("graft-dc-psrc")
    Files.writeString(src.resolve("x.txt"), "hello")
    def build(n: Long)(tmp: String): Unit =
      spark.range(n).toDF("n").write.parquet(tmp + "/sub")
    def readCnt(base: String): Long =
      spark.read.parquet(base + "/sub").count()
    // same caller tag, different params → DISTINCT artifacts (the
    // r15-advice reused-tag hazard can no longer collide)
    val c3 = graft.util.DiskCache.cached(spark, kind, "v1",
      Seq(src.toString), "t", Seq("sub"),
      params = Seq("n" -> "3"))(build(3))(readCnt)
    val c5 = graft.util.DiskCache.cached(spark, kind, "v1",
      Seq(src.toString), "t", Seq("sub"),
      params = Seq("n" -> "5"))(build(5))(readCnt)
    assert(c3 === 3L && c5 === 5L)
    // tamper the n=3 entry's manifest to claim it was built with n=9:
    // a fresh-memo read (new session) must fail loudly at the seam
    val fp = graft.util.DiskCache.fingerprint(Seq(src.toString))
    val dir = Paths.get(sys.props("user.dir"), "target", kind, "v1",
      "t-" + fp + graft.util.DiskCache.paramsSuffix(Seq("n" -> "3")))
    val mf = dir.resolve("_graft_manifest.json")
    Files.writeString(mf,
      Files.readString(mf).replace("\"n\":\"3\"", "\"n\":\"9\""))
    val s2 = spark.newSession()
    val e = intercept[IllegalStateException] {
      graft.util.DiskCache.cached(s2, kind, "v1",
        Seq(src.toString), "t", Seq("sub"),
        params = Seq("n" -> "3"))(build(3))(readCnt)
    }
    assert(e.getMessage.contains("built with params"))
  }

  test("reliable barriers leave deduplicate and kmeans bit-identical") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    def dedup() = graft.operators.Dedup
      .deduplicate(docs, "doc_id", "text", 0.5)
      .orderBy($"doc_id").collect().toSeq
    def kmeans() = graft.operators.Ann
      .kmeansFit(emb, "vec_id", "embedding", k = 4, iters = 1)
      .select($"vec_id", $"embedding".cast("string"))
      .orderBy($"vec_id").collect().toSeq
    val (d1, k1) = (dedup(), kmeans())
    val (d2, k2) = withReliable((dedup(), kmeans()))
    assert(d1 === d2)
    assert(k1 === k2)
  }

  test("a barrier keeps its frame's hash partitioning under AQE " +
    "unless the final stage reads through an AQE shuffle read") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import graft.util.Barriers.BarrierOps
    val base = spark.range(20000).select(($"id" % 1000).as("k"), $"id")
    def part(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.outputPartitioning
    val kept = base.repartition(3, $"k").barrier(true)
    assert(part(kept) match {
      case h: HashPartitioning =>
        h.numPartitions == 3 && h.references.map(_.name).toSet == Set("k")
      case _ => false
    }, part(kept))
    // AQE coalesces this tiny aggregate's shuffle read: nothing is kept
    assert(!part(base.groupBy($"k").count().barrier(true))
      .isInstanceOf[HashPartitioning])
    // a join on the key over two kept frames gives the unbarriered rows
    val other = base.select($"k", ($"id" * 2).as("v")).repartition(3, $"k")
    def joined(l: org.apache.spark.sql.DataFrame,
               r: org.apache.spark.sql.DataFrame) =
      l.join(r.hint("shuffle_hash"), "k")
        .agg(count(lit(1)), sum($"v"), sum($"id")).head()
    assert(joined(kept, other.barrier(true)) === joined(base, other))
  }
}
