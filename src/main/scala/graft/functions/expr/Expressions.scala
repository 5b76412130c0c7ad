package graft.functions.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot paths: whole-stage-codegen
  * loops instead of interpreted higher-order-function trees. Each is
  * semantically identical (bit-for-bit) to the builtin composition it
  * replaces — the compositions remain documented in
  * [[graft.functions.VectorOps]] / [[graft.functions.TextOps]] and the
  * DuckDB oracle mirrors are unchanged.
  */

/** dot(a, b) over array<float>: sequential double fold with 0.0 init —
  * identical to aggregate(zip_with(a,b,(x,y)->x*y), 0d, +) and to
  * DuckDB's list_reduce mirror, INCLUDING the null-on-length-mismatch
  * case (zip_with null-pads the shorter array and the null poisons the
  * sum). ~40x faster than the interpreted HOF tree (primitive loop
  * inside whole-stage codegen). */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $sum = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $sum += (double) $a.getFloat($i) * (double) $b.getFloat($i);
          }
          ${ev.value} = $sum;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Polynomial rolling hash h_{i+1} = (31*h_i + code_i) mod 1e9+7 over
  * the string's bytes (== characters for ASCII corpora; the DuckDB
  * mirror hashes codepoints, identical on ASCII). */
case class PolyHash(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override protected def nullSafeEval(input: Any): Any = {
    val bs = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bs.length) {
      h = (h * 31L + (bs(i) & 0xffL)) % 1000000007L
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bs = ctx.freshName("bs")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
        byte[] $bs = $s.getBytes();
        long $h = 0L;
        for (int $i = 0; $i < $bs.length; $i++) {
          $h = ($h * 31L + ($bs[$i] & 0xffL)) % 1000000007L;
        }
        ${ev.value} = $h;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** Distinct word-3-gram shingle hashes in one pass: tokenizes on
  * single spaces and combines per-token hashes with
  * h(a||b) = (h(a) * 31^len(b) + h(b)) mod p — identical values to
  * hashing the shingle strings (space = 32), with zero intermediate
  * string allocation. Consumers (min-hash, simhash, min/max) are
  * order-invariant, so distinct-set order does not matter.
  * Interpreted eval (CodegenFallback) — the loop itself is primitive.
  */
case class ShingleHashes3(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes3"

  private val P = 1000000007L

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // per-token (hash, 31^(len+1) mod p) — the +1 accounts for the
    // joining space appended when combining
    // limit -1 keeps trailing empty tokens, matching Spark's
    // split(text, " ") and DuckDB string_split exactly
    val tokens = s.split(" ", -1)
    val n = tokens.length
    if (n < 3) return new GenericArrayData(Array.empty[Long])
    val th = new Array[Long](n)
    val tp = new Array[Long](n) // 31^len(token) mod p
    var i = 0
    while (i < n) {
      val t = tokens(i)
      var h = 0L
      var p31 = 1L
      var j = 0
      while (j < t.length) {
        h = (h * 31L + t.charAt(j).toLong) % P
        p31 = (p31 * 31L) % P
        j += 1
      }
      th(i) = h; tp(i) = p31
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i <= n - 3) {
      // h("t1 t2 t3") built left to right: append space (code 32) then token
      var h = th(i)
      var k = 1
      while (k < 3) {
        h = (h * 31L + 32L) % P
        h = (h * tp(i + k) + th(i + k)) % P
        k += 1
      }
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes3 =
    copy(child = newChild)
}

/** Per-token poly hashes in one pass: split on single spaces (byte
  * 0x20 — never part of a UTF-8 multibyte sequence, so byte-level
  * split == Spark's split(text, " ") with trailing empties kept) and
  * hash each token's bytes with the [[PolyHash]] fold. Identical
  * values to transform(split(text, " "), t -> poly_hash(t)) with zero
  * per-token UTF8String materialization — and, being a native expr,
  * immune to the §8m lambda re-embedding class by construction.
  * Full doGenCode — the loop runs inside whole-stage codegen.
  */
case class TokenHashes(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_hashes"

  private val P = 1000000007L

  override protected def nullSafeEval(input: Any): Any = {
    val bs = input.asInstanceOf[UTF8String].getBytes
    var n = 1
    var i = 0
    while (i < bs.length) { if (bs(i) == 0x20) n += 1; i += 1 }
    val out = new Array[Long](n)
    var h = 0L
    var o = 0
    i = 0
    while (i < bs.length) {
      val b = bs(i)
      if (b == 0x20) { out(o) = h; o += 1; h = 0L }
      else h = (h * 31L + (b & 0xffL)) % P
      i += 1
    }
    out(o) = h
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bs = ctx.freshName("bs")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val h = ctx.freshName("h")
      val o = ctx.freshName("o")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      s"""
        byte[] $bs = $s.getBytes();
        int $n = 1;
        for (int $i = 0; $i < $bs.length; $i++)
          if ($bs[$i] == 0x20) $n++;
        long[] $out = new long[$n];
        long $h = 0L; int $o = 0;
        for (int $i = 0; $i < $bs.length; $i++) {
          byte $b = $bs[$i];
          if ($b == 0x20) { $out[$o++] = $h; $h = 0L; }
          else $h = ($h * 31L + ($b & 0xffL)) % ${P}L;
        }
        $out[$o] = $h;
        ${ev.value} =
          new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): TokenHashes =
    copy(child = newChild)
}

/** Rolling w-token window hashes over a token-hash array — identical
  * values to the oracle's per-window fold (acc*31 + next) % p
  * ([[graft.functions.TextOps.ngramHashesSql]]), computed with the
  * O(n) rolling update g' = ((g − t_first·31^(w−1))·31 + t_new) mod p instead of the
  * interpreted O(n·w) HOF tree (w element_at calls per window).
  * Arrays shorter than w yield the empty array, matching the
  * oracle's guard. Full doGenCode — the rolling loop runs inside
  * whole-stage codegen. */
case class NgramHashes(child: Expression, w: Int)
    extends UnaryExpression {

  require(w >= 1, "ngram width must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"

  private val P = 1000000007L
  // 31^(w-1) mod p, for popping the leading term
  private val pw: Long = {
    var r = 1L; var k = 1
    while (k < w) { r = (r * 31L) % P; k += 1 }
    r
  }

  override protected def nullSafeEval(input: Any): Any = {
    val th = input.asInstanceOf[ArrayData]
    val n = th.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n - w + 1)
    // first window: the HOF's fold — acc = t0 (already < p), then
    // (acc*31 + t_k) % p
    var g = th.getLong(0) % P
    var i = 1
    while (i < w) { g = (g * 31L + th.getLong(i)) % P; i += 1 }
    out(0) = g
    // rolling update for the rest
    var s = 0
    while (s + w < n) {
      val drop = (th.getLong(s) % P) * pw % P
      g = ((g - drop + P) % P * 31L + th.getLong(s + w)) % P
      s += 1
      out(s) = g
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val g = ctx.freshName("g")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val drop = ctx.freshName("drop")
      s"""
        int $n = $a.numElements();
        long[] $out;
        if ($n < $w) {
          $out = new long[0];
        } else {
          $out = new long[$n - $w + 1];
          long $g = $a.getLong(0) % ${P}L;
          for (int $i = 1; $i < $w; $i++)
            $g = ($g * 31L + $a.getLong($i)) % ${P}L;
          $out[0] = $g;
          int $s = 0;
          while ($s + $w < $n) {
            long $drop = ($a.getLong($s) % ${P}L) * ${pw}L % ${P}L;
            $g = (($g - $drop + ${P}L) % ${P}L * 31L
              + $a.getLong($s + $w)) % ${P}L;
            $s++;
            $out[$s] = $g;
          }
        }
        ${ev.value} =
          new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): NgramHashes =
    copy(child = newChild)
}

/** Non-overlapping p-token block hashes over a token-hash array
  * (trailing partial block included) — identical values to
  * transform(sequence(0, nb−1), b -> aggregate(slice(th, b*p+1, p),
  * 0L, (acc, x) -> (acc*31 + x) % P)) with one primitive pass and no
  * per-block slice allocation; nb = ceil(n/p), so an empty array
  * yields the empty array. Full doGenCode. */
case class BlockHashes(child: Expression, p: Int)
    extends UnaryExpression {

  require(p >= 1, "block width must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "block_hashes"

  private val P = 1000000007L

  override protected def nullSafeEval(input: Any): Any = {
    val th = input.asInstanceOf[ArrayData]
    val n = th.numElements()
    val nb = (n + p - 1) / p
    val out = new Array[Long](nb)
    var b = 0
    while (b < nb) {
      var acc = 0L
      var i = b * p
      val end = math.min(i + p, n)
      while (i < end) { acc = (acc * 31L + th.getLong(i)) % P; i += 1 }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val nb = ctx.freshName("nb")
      val out = ctx.freshName("out")
      val b = ctx.freshName("b")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val end = ctx.freshName("end")
      s"""
        int $n = $a.numElements();
        int $nb = ($n + ${p - 1}) / $p;
        long[] $out = new long[$nb];
        for (int $b = 0; $b < $nb; $b++) {
          long $acc = 0L;
          int $end = java.lang.Math.min($b * $p + $p, $n);
          for (int $i = $b * $p; $i < $end; $i++)
            $acc = ($acc * 31L + $a.getLong($i)) % ${P}L;
          $out[$b] = $acc;
        }
        ${ev.value} =
          new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): BlockHashes =
    copy(child = newChild)
}

/** K-element MinHash signature over a hash array in ONE pass —
  * identical values to
  * transform(sequence(1, k), kk -> array_min(transform(hashes,
  * h -> ((2kk+1)·h + 12345 + 7kk) mod p))), i.e. the
  * [[graft.functions.TextOps.minHashSignatureHof]] composition and
  * its DuckDB mirror, INCLUDING the empty-input case (array_min of
  * an empty list is null, so an empty hash set yields k nulls). The
  * HOF tree costs k interpreted array scans per row; this is one
  * primitive loop with k accumulators. All intermediates < 97·2^30
  * < 2^37 for k ≤ 48 — exact in 64-bit on both engines.
  * Full doGenCode. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, "signature length must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  private val P = 1000000007L

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0)
      return new GenericArrayData(Array.fill[Any](k)(null))
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var kk = 1
      while (kk <= k) {
        val v = ((2L * kk + 1L) * h + 12345L + 7L * kk) % P
        if (v < mins(kk - 1)) mins(kk - 1) = v
        kk += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val kk = ctx.freshName("kk")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
        int $n = $a.numElements();
        if ($n == 0) {
          ${ev.value} = new org.apache.spark.sql.catalyst.util
            .GenericArrayData(new Object[$k]);
        } else {
          long[] $mins = new long[$k];
          java.util.Arrays.fill($mins, java.lang.Long.MAX_VALUE);
          for (int $i = 0; $i < $n; $i++) {
            long $h = $a.getLong($i);
            for (int $kk = 1; $kk <= $k; $kk++) {
              long $v = ((2L * $kk + 1L) * $h + 12345L + 7L * $kk) % ${P}L;
              if ($v < $mins[$kk - 1]) $mins[$kk - 1] = $v;
            }
          }
          ${ev.value} =
            new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
        }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** 30-bit SimHash over a token-hash array in ONE pass — identical
  * values to the [[graft.functions.TextOps.simHash30Hof]]
  * composition and its DuckDB mirror: bit j set iff the ±1 majority
  * vote over bit j of the hashes is >= 0 (ties set the bit, and the
  * EMPTY set therefore hashes to 2^30−1 — both exactly as the HOF's
  * empty-aggregate 0 >= 0 behaves). The HOF costs 30 interpreted
  * array scans per row; this is one loop with 30 popcount
  * accumulators (vote_j = 2·count_j − n >= 0 ⇔ 2·count_j >= n).
  * Full doGenCode. */
case class SimHash30(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash30"

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val cnt = new Array[Long](30)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 30) {
        cnt(j) += (h >>> j) & 1L
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 30) {
      if (2L * cnt(j) >= n) out |= 1L << j
      j += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val res = ctx.freshName("res")
      s"""
        int $n = $a.numElements();
        long[] $cnt = new long[30];
        for (int $i = 0; $i < $n; $i++) {
          long $h = $a.getLong($i);
          for (int $j = 0; $j < 30; $j++)
            $cnt[$j] += ($h >>> $j) & 1L;
        }
        long $res = 0L;
        for (int $j = 0; $j < 30; $j++)
          if (2L * $cnt[$j] >= $n) $res |= 1L << $j;
        ${ev.value} = $res;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash30 =
    copy(child = newChild)
}

/** Winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD 2003)
  * over a token-hash array, in one native pass: kg-gram rolling
  * hashes ([[NgramHashes]] algebra), then the DISTINCT minima of
  * every w-window of consecutive grams via a monotonic deque —
  * O(n) total, map-side, no WindowExec and no distinct shuffle.
  * Identical print sets to the lead-chain + min-over-ROWS-frame
  * window plan it replaces (DedupAnnSpec brute-force parity): for
  * gcount >= w the selected windows start at p = 0..gcount−w; docs
  * with fewer than w grams winnow their single clipped window; docs
  * shorter than kg tokens have no grams and yield the empty array.
  * Ties inside a window pick the same MIN VALUE either way — the
  * fingerprint is the hash value, not the position, so tie order is
  * immaterial. Full doGenCode (raw JDK collections — Janino compiles
  * no generics). */
case class WinnowPrints(child: Expression, kg: Int, w: Int)
    extends UnaryExpression {

  require(kg >= 1 && w >= 1, "winnow widths must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_prints"

  private val P = 1000000007L
  private val pw: Long = {
    var r = 1L; var k = 1
    while (k < kg) { r = (r * 31L) % P; k += 1 }
    r
  }

  override protected def nullSafeEval(input: Any): Any = {
    val th = input.asInstanceOf[ArrayData]
    val n = th.numElements()
    if (n < kg) return new GenericArrayData(Array.empty[Long])
    val gc = n - kg + 1
    val g = new Array[Long](gc)
    var acc = th.getLong(0) % P
    var i = 1
    while (i < kg) { acc = (acc * 31L + th.getLong(i)) % P; i += 1 }
    g(0) = acc
    var s = 0
    while (s + kg < n) {
      val drop = (th.getLong(s) % P) * pw % P
      acc = ((acc - drop + P) % P * 31L + th.getLong(s + kg)) % P
      s += 1
      g(s) = acc
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (gc < w) {
      // single clipped window: the min over all grams
      var m = g(0); i = 1
      while (i < gc) { if (g(i) < m) m = g(i); i += 1 }
      seen.add(m)
    } else {
      // monotonic deque of gram indices, increasing g values
      val dq = new Array[Int](gc)
      var head = 0; var tail = 0 // [head, tail)
      i = 0
      while (i < gc) {
        while (tail > head && g(dq(tail - 1)) >= g(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) seen.add(g(dq(head)))
        i += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val gc = ctx.freshName("gc")
      val g = ctx.freshName("g")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val drop = ctx.freshName("drop")
      val seen = ctx.freshName("seen")
      val m = ctx.freshName("m")
      val dq = ctx.freshName("dq")
      val head = ctx.freshName("head")
      val tail = ctx.freshName("tail")
      val out = ctx.freshName("out")
      val o = ctx.freshName("o")
      val it = ctx.freshName("it")
      s"""
        int $n = $a.numElements();
        if ($n < $kg) {
          ${ev.value} = new org.apache.spark.sql.catalyst.util
            .GenericArrayData(new long[0]);
        } else {
          int $gc = $n - ${kg - 1};
          long[] $g = new long[$gc];
          long $acc = $a.getLong(0) % ${P}L;
          for (int $i = 1; $i < $kg; $i++)
            $acc = ($acc * 31L + $a.getLong($i)) % ${P}L;
          $g[0] = $acc;
          int $s = 0;
          while ($s + $kg < $n) {
            long $drop = ($a.getLong($s) % ${P}L) * ${pw}L % ${P}L;
            $acc = (($acc - $drop + ${P}L) % ${P}L * 31L
              + $a.getLong($s + $kg)) % ${P}L;
            $s++;
            $g[$s] = $acc;
          }
          java.util.LinkedHashSet $seen = new java.util.LinkedHashSet();
          if ($gc < $w) {
            long $m = $g[0];
            for (int $i = 1; $i < $gc; $i++)
              if ($g[$i] < $m) $m = $g[$i];
            $seen.add(java.lang.Long.valueOf($m));
          } else {
            int[] $dq = new int[$gc];
            int $head = 0; int $tail = 0;
            for (int $i = 0; $i < $gc; $i++) {
              while ($tail > $head && $g[$dq[$tail - 1]] >= $g[$i])
                $tail--;
              $dq[$tail++] = $i;
              if ($dq[$head] <= $i - $w) $head++;
              if ($i >= ${w - 1})
                $seen.add(java.lang.Long.valueOf($g[$dq[$head]]));
            }
          }
          long[] $out = new long[$seen.size()];
          int $o = 0;
          for (java.util.Iterator $it = $seen.iterator(); $it.hasNext();)
            $out[$o++] = ((java.lang.Long) $it.next()).longValue();
          ${ev.value} =
            new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): WinnowPrints =
    copy(child = newChild)
}
