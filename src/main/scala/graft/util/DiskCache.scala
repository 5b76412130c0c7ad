package graft.util

import org.apache.spark.sql.SparkSession

/** Build-once / read-back parquet caches keyed by a metadata
  * fingerprint of their source files — the layout pattern behind
  * [[graft.graph.MemoryGraph.persisted]] and the dedup index: derive
  * an expensive artifact from raw tables ONCE, persist it
  * partitioned the way downstream joins want it, and serve every
  * later session from disk.
  *
  * Safety properties:
  *   - fingerprint = source file names + sizes + mtimes, never their
  *     contents → a regenerated corpus (new sizes or mtimes) never
  *     serves a stale index. The limit: a rewrite that keeps every
  *     file's size and mtime is not detected and serves the old
  *     entry (pinned in BarrierSpec);
  *   - creation writes to a tmp dir and atomic-renames into place →
  *     no torn reads, and a lost creation race falls back to the
  *     winner's complete copy;
  *   - per-session weak memo → one read per (session, key), no leak
  *     across session shutdowns.
  */
object DiskCache {

  private val memo = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[String, Any]]()

  /** Metadata fingerprint of a set of source files/directories: the
    * relative name, size and mtime of every regular file under each
    * source. Contents are not read, so a same-size rewrite with the
    * mtime restored keeps the fingerprint. */
  def fingerprint(sources: Seq[String]): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val parts = sources.flatMap { src =>
      val p = Paths.get(src)
      if (!Files.exists(p)) Seq(s"$src:absent")
      else {
        val walk = Files.walk(p)
        try walk.iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(f => s"${p.relativize(f)}:${Files.size(f)}:${
            Files.getLastModifiedTime(f).toMillis}")
          .toList.sorted
        finally walk.close()
      }
    }
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update((sources.mkString(",") + "\n" + parts.mkString("\n"))
      .getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toList.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** One line of the on-disk `_graft_manifest.json` every cache entry
    * carries (r15-advice low): the parameters that went into the
    * build, written at build time and VALIDATED on every read — a
    * reused tag with different params now fails loudly at the seam
    * instead of silently serving the wrong artifact. */
  private def paramsJson(kind: String, version: String, tag: String,
                         fp: String, sources: Seq[String],
                         params: Seq[(String, String)]): String = {
    def esc(v: String) = v.replace("\\", "\\\\").replace("\"", "\\\"")
    val ps = params.map { case (k, v) =>
      s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    val ss = sources.map(x => s""""${esc(x)}"""").mkString("[", ",", "]")
    s"""{"kind":"${esc(kind)}","version":"${esc(version)}",""" +
      s""""tag":"${esc(tag)}","fingerprint":"$fp",""" +
      s""""sources":$ss,"params":$ps,""" +
      s""""built_at_ms":${System.currentTimeMillis()}}"""
  }

  /** The mechanical params key component: two `cached` calls
    * differing in any param value resolve to different directories
    * regardless of what tag the caller typed. */
  def paramsSuffix(params: Seq[(String, String)]): String =
    if (params.isEmpty) "" else {
      val md = java.security.MessageDigest.getInstance("SHA-1")
      md.update(params.map { case (k, v) => s"$k=$v" }.mkString(";")
        .getBytes("UTF-8"))
      "-p" + md.digest().map("%02x".format(_)).mkString.take(8)
    }

  /** Serve `read(base)` over a cache at
    * target/<kind>/<version>/<tag>-<fingerprint(sources)>[-p<h>],
    * building it first via `build(tmpBase)` if any `subs` subdir
    * lacks _SUCCESS. `build` must write each listed sub as parquet
    * under the tmp base it is given.
    *
    * `params` (r15-advice low): the build parameters beyond the
    * source files — split expression descriptor, thresholds, dims.
    * They key the entry MECHANICALLY (a hash suffix on the directory
    * name, so two calls differing only in params can never collide)
    * AND are persisted in the entry's manifest, which every read
    * validates — belt and braces against a caller-typed tag reusing
    * an entry built under different parameters. */
  def cached[T](s: SparkSession, kind: String, version: String,
                sources: Seq[String], tag: String, subs: Seq[String],
                params: Seq[(String, String)] = Nil)
               (build: String => Unit)(read: String => T): T = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val perSession = memo.synchronized {
      var m = memo.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, Any]
        memo.put(s, m)
      }
      m
    }
    val fp = fingerprint(sources)
    val pSuffix = paramsSuffix(params)
    val key = s"$kind/$version/$tag-$fp$pSuffix"
    perSession.getOrElseUpdate(key, {
      val basePath = Paths.get(sys.props("user.dir"), "target", kind,
        version,
        tag.replaceAll("[^A-Za-z0-9.]", "_") + "-" + fp + pSuffix)
      val base = basePath.toString
      def ready = subs.forall(sub =>
        Files.exists(Paths.get(base, sub, "_SUCCESS")))
      if (!ready) {
        val tmp = base + ".tmp-" +
          java.util.UUID.randomUUID().toString.take(8)
        build(tmp)
        Files.write(Paths.get(tmp, "_graft_manifest.json"),
          paramsJson(kind, version, tag, fp, sources, params)
            .getBytes("UTF-8"))
        try Files.move(Paths.get(tmp), basePath,
          StandardCopyOption.ATOMIC_MOVE)
        catch { case e: java.nio.file.FileSystemException =>
          deleteRecursively(Paths.get(tmp))
          // The move losing to a concurrent winner is fine — but ONLY
          // if the winner's complete copy is actually there. Any other
          // move failure (cross-device tmp, permissions, a stale
          // half-built target) must fail HERE at the seam, not later
          // as an opaque parquet path error from read(base).
          if (!ready) throw new IllegalStateException(
            s"DiskCache: failed to install built artifact at $base " +
              "and no complete winner is present (target exists but " +
              s"lacks ${subs.map(_ + "/_SUCCESS").mkString(", ")})", e)
        }
      }
      // Manifest validation (r15-advice low): an at-rest entry built
      // under DIFFERENT params than this read expects is a poisoned
      // artifact, not a cache hit — fail at the seam. Entries
      // predating the manifest (params empty, no file) pass through.
      val mf = Paths.get(base, "_graft_manifest.json")
      if (params.nonEmpty && Files.exists(mf)) {
        val expect = params.map { case (k, v) =>
          s""""$k":"${v.replace("\\", "\\\\").replace("\"", "\\\"")}""""
        }.mkString("{", ",", "}")
        val got = new String(Files.readAllBytes(mf), "UTF-8")
        val gotParams = got.split(""""params":""", 2) match {
          case Array(_, rest) => rest.takeWhile(_ != '}') + "}"
          case _ => ""
        }
        if (gotParams != expect) throw new IllegalStateException(
          s"DiskCache: artifact at $base was built with params " +
            s"$gotParams but this read expects $expect — the tag " +
            s"'$tag' is being reused across incompatible builds")
      }
      read(base)
    }).asInstanceOf[T]
  }
}
