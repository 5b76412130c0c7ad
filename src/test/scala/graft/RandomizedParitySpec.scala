package graft

import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Seeded randomized parity: the one-pass ShingleHashes3 combine
  * (h(a||b) = h(a)*31^len(b) + h(b) mod p) must equal hashing the
  * shingle strings, for arbitrary token shapes — not just the corpus'
  * single-space lowercase words. */
class RandomizedParitySpec extends SparkSpec {
  import spark.implicits._

  test("ShingleHashes3 equals per-shingle string hashing on 300 random docs") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    def token() = (1 to (1 + rnd.nextInt(12)))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val docs = (1 to 300).map { i =>
      val n = rnd.nextInt(40) // includes <3-token docs (empty shingles)
      (i, (1 to n).map(_ => token()).mkString(" "))
    }.toDF("id", "t")
    val diff = docs.select(
        $"id",
        array_sort(TextOps.shingleHashes($"t")).as("fast"),
        array_sort(transform(TextOps.shingles3(TextOps.tokens($"t")),
          s => TextOps.polyHashHof(s))).as("ref"))
      .where(not($"fast" === $"ref"))
    assert(diff.isEmpty, diff.limit(3).collect().mkString("\n"))
  }

  test("polyHash native equals HOF fold on random strings incl. empties") {
    val rnd = new scala.util.Random(7)
    val strs = ("" +: (1 to 200).map(_ =>
      (0 to rnd.nextInt(50)).map(_ => (32 + rnd.nextInt(95)).toChar).mkString))
      .zipWithIndex.map(_.swap)
    val df = strs.toDF("id", "t")
    val diff = df.select(TextOps.polyHash($"t").as("a"),
        TextOps.polyHashHof($"t").as("b"))
      .where($"a" =!= $"b")
    assert(diff.isEmpty)
  }

  test("ShingleHashes3 parity holds for trailing and consecutive spaces") {
    // Spark split(t, " ") keeps empty tokens (limit -1); the native
    // expression must tokenize identically — these shapes are exactly
    // what the corpus never contains and a seeded generator missed
    val docs = Seq(
      "a b c ", "a b c  ", " a b c", "a  b c", "a b  c d",
      "  ", "a ", " ", "a  b", "x y z w ").zipWithIndex.map(_.swap)
      .toDF("id", "t")
    val diff = docs.select(
        $"id",
        array_sort(TextOps.shingleHashes($"t")).as("fast"),
        array_sort(transform(TextOps.shingles3(TextOps.tokens($"t")),
          s => TextOps.polyHashHof(s))).as("ref"))
      .where(not($"fast" === $"ref"))
    assert(diff.isEmpty, diff.limit(5).collect().mkString("\n"))
  }

  test("tokenHashesSeq native equals transform(tokens, polyHash) on " +
      "random docs incl. empty/trailing/consecutive spaces") {
    val rnd = new scala.util.Random(19)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789#."
    def token() = (0 to rnd.nextInt(10))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val docs = ((1 to 250).map { i =>
      (i, (0 to rnd.nextInt(30)).map(_ => token()).mkString(" "))
    } ++ Seq((900, ""), (901, " "), (902, "a "), (903, " a"),
      (904, "a  b"), (905, "  "))).toDF("id", "t")
    val diff = docs.select($"id",
        TextOps.tokenHashesSeq($"t").as("fast"),
        transform(TextOps.tokens($"t"),
          tok => TextOps.polyHash(tok)).as("ref"))
      .where(not($"fast" === $"ref"))
    assert(diff.isEmpty, diff.limit(5).collect().mkString("\n"))
  }

  test("blockHashes native equals the transform+aggregate+slice " +
      "composition for every block width") {
    val rnd = new scala.util.Random(31)
    val docs = (1 to 200).map { i =>
      val n = rnd.nextInt(40) // includes < p docs (single partial block)
      (i, (1 to n).map(_ => s"t${rnd.nextInt(9)}").mkString(" "))
    }.toDF("id", "t")
    for (p <- Seq(1, 3, 16)) {
      val th = docs.select($"id", TextOps.tokenHashesSeq($"t").as("th"))
        .withColumn("nb",
          floor((size($"th") + lit(p - 1)) / lit(p)).cast("int"))
      val diff = th.select($"id",
          TextOps.blockHashes($"th", p).as("fast"),
          transform(sequence(lit(0), $"nb" - 1),
            b => aggregate(slice($"th", b * p + 1, lit(p)), lit(0L),
              (acc, x) => (acc * 31L + x) % lit(TextOps.P))).as("ref"))
        .where(not($"fast" === $"ref"))
      assert(diff.isEmpty, s"p=$p: " + diff.limit(3).collect().mkString("\n"))
    }
  }

  test("minHashSignature native equals the HOF composition, " +
      "including the k-nulls empty-set case") {
    val rnd = new scala.util.Random(47)
    val docs = ((1 to 150).map { i =>
      val n = rnd.nextInt(30) // includes <3-token docs (EMPTY shingles)
      (i, (1 to n).map(_ => s"w${rnd.nextInt(12)}").mkString(" "))
    } :+ (900, "a b")).toDF("id", "t") // guaranteed-empty shingle set
    for (k <- Seq(1, 8, 48)) {
      val sh = docs.select($"id", TextOps.shingleHashes($"t").as("shh"))
      val diff = sh.select($"id",
          TextOps.minHashSignature($"shh", k).as("fast"),
          TextOps.minHashSignatureHof($"shh", k).as("ref"))
        .where(not($"fast" <=> $"ref"))
      assert(diff.isEmpty, s"k=$k: " + diff.limit(3).collect().mkString("\n"))
      val empt = sh.where(size($"shh") === 0)
        .select(TextOps.minHashSignature($"shh", k).as("s")).collect()
      assert(empt.nonEmpty)
      empt.foreach { r =>
        val s = r.getSeq[Any](0)
        assert(s.size == k && s.forall(_ == null),
          s"k=$k empty set must give $k nulls")
      }
    }
  }

  test("simHash30 native equals the HOF composition, including the " +
      "all-bits-set empty case and majority ties") {
    val rnd = new scala.util.Random(53)
    val docs = ((1 to 200).map { i =>
      val n = rnd.nextInt(20) // includes empty docs
      (i, (1 to n).map(_ => s"v${rnd.nextInt(7)}").mkString(" "))
    } :+ (900, "")).toDF("id", "t")
    val sh = docs.select($"id", TextOps.tokenHashes($"t").as("shh"))
    val diff = sh.select($"id",
        TextOps.simHash30($"shh").as("fast"),
        TextOps.simHash30Hof($"shh").as("ref"))
      .where($"fast" =!= $"ref")
    assert(diff.isEmpty, diff.limit(5).collect().mkString("\n"))
    // empty token-hash set: every ±1 vote is the empty sum 0 >= 0,
    // so all 30 bits set (tokenHashes of "" is [hash("")] = [0], so
    // build a genuinely empty array directly)
    val empty = docs.sparkSession.sql(
      "SELECT CAST(array() AS ARRAY<BIGINT>) AS shh")
    val ev = empty.select(TextOps.simHash30($"shh").as("fast"),
      TextOps.simHash30Hof($"shh").as("ref")).collect()(0)
    assert(ev.getAs[Long]("fast") === (1L << 30) - 1L)
    assert(ev.getAs[Long]("fast") === ev.getAs[Long]("ref"))
  }

  test("ngramHashes equals a direct per-window fold on random docs") {
    val P = TextOps.P
    val rnd = new scala.util.Random(11)
    def refHash(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % P)
    val docs = (1 to 200).map { i =>
      val n = rnd.nextInt(24) // includes < w docs (guard path)
      (i.toLong, (1 to n).map(_ => s"t${rnd.nextInt(9)}").mkString(" "))
    }
    for (w <- Seq(2, 3, 8, 16)) {
      val expected = docs.map { case (id, t) =>
        val th = (if (t.isEmpty) Seq("") else t.split(" ", -1).toSeq)
          .map(refHash)
        val wins =
          if (th.length < w) Seq.empty[Long]
          else th.sliding(w).map(_.reduceLeft((a, b) => (a * 31 + b) % P))
            .toSeq
        id -> wins
      }.toMap
      val got = docs.toDF("id", "t")
        .select($"id", transform(TextOps.tokens($"t"),
          tok => TextOps.polyHash(tok)).as("th"))
        .select($"id", TextOps.ngramHashes($"th", w).as("g"))
        .collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Seq[Long]]("g")).toMap
      assert(got === expected, s"w=$w mismatch")
    }
  }

  test("substringPairs equals brute-force shared-window comparison") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(23)
    val w = 4
    // tiny alphabet so some docs genuinely share 4-token runs
    val docs = (1L to 40L).map { i =>
      (i, (1 to (w + rnd.nextInt(10))).map(_ => s"x${rnd.nextInt(4)}")
        .mkString(" "))
    }
    def windows(t: String): Set[Seq[String]] =
      t.split(" ", -1).toSeq.sliding(w).filter(_.length == w).toSet
    val expected = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      shared = windows(ta).intersect(windows(tb)) if shared.nonEmpty
    } yield (ia, ib, shared.size.toLong)).toSet
    val got = Dedup.substringPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", w = w, maxBucket = 1000)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_shared"))).toSet
    assert(expected.nonEmpty, "generator must produce shared runs")
    assert(got === expected)
  }

  test("float_dot is null for ragged arrays, matching the HOF composition") {
    import graft.functions.VectorOps
    val df = Seq(
      (Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)), // equal length
      (Seq(1f, 2f), Seq(4f, 5f, 6f)),     // ragged
      (Seq.empty[Float], Seq(1f))          // empty vs non-empty
    ).toDF("a", "b")
    val r = df.select(
      VectorOps.dot($"a", $"b").as("native"),
      VectorOps.dotHof($"a", $"b").as("hof")).collect()
    assert(!r(0).isNullAt(0) && r(0).getDouble(0) === r(0).getDouble(1))
    assert(r(1).isNullAt(0) && r(1).isNullAt(1))
    assert(r(2).isNullAt(0) && r(2).isNullAt(1))
  }
}
