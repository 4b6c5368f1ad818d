package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Java-callable text/hash kernels invoked from generated code. */
object HashKernels {

  /** Distinct xxhash64 (seed 42 — Spark's `xxhash64` default) of all
    * n-word shingles of `text`, word-split on `\s+`. Bit-identical to
    * `array_distinct(transform(sequence(0, size(words)-n),
    *    i -> xxhash64(concat_ws(' ', words[i], ..., words[i+n-1]))))`
    * over `split(text, '\\s+')`, but a single tight loop instead of an
    * interpreted higher-order-function chain (~20x on the documents scan).
    */
  def shingleHashes(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split("\\s+", -1)
    val m = words.length - n + 1
    if (m <= 0) return ArrayData.toArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long](m)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val s = UTF8String.fromString(sb.toString)
      seen.add(XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    ArrayData.toArrayData(out)
  }

  /** 64-bit SimHash of `text`'s word multiset (words split on `\s+`,
    * hashed with xxhash64 seed 42 — Spark's default): bit i of the code is
    * set iff the +1/-1 sum of bit i over all word hashes is positive.
    * Semantically identical to exploding the words into 64 scalar
    * bit-sum aggregates, but one tight per-row loop: no explode blow-up,
    * no 64-column aggregation, no shuffle for the signature at all.
    */
  def simhash64(text: UTF8String): Long = {
    val words = text.toString.split("\\s+", -1)
    val counts = new Array[Int](64)
    var w = 0
    while (w < words.length) {
      val s = UTF8String.fromString(words(w))
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      w += 1
    }
    var code = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0) code |= (1L << i)
      i += 1
    }
    code
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Sorted distinct md5-derived 60-bit hashes of all n-word shingles of
    * `text`. The hash is the first 15 hex chars of md5(shingle) parsed as
    * a long — a construction DuckDB reproduces exactly with
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`, which is what makes the
    * d08 fingerprint oracle-checkable (xxhash64 has no DuckDB twin).
    * Sorted ascending so downstream order-dependent folds are canonical.
    */
  def md5ShingleHashes(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split("\\s+", -1)
    val m = words.length - n + 1
    if (m <= 0) return ArrayData.toArrayData(Array.emptyLongArray)
    val md = md5Local.get()
    val seen = new java.util.TreeSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      md.reset()
      val dig = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars = 7 bytes + the high nibble of byte 7
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (dig(b) & 0xFF).toLong; b += 1 }
      v = (v << 4) | ((dig(7) >> 4) & 0xF).toLong
      seen.add(v)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    ArrayData.toArrayData(out)
  }

  /** Positional (index-aligned, NON-distinct) variant of
    * [[md5ShingleHashes]]: element k = the hash of the n-word span
    * starting at word k. d29 maps boilerplate spans back to the exact
    * word positions they cover, so order and multiplicity must survive
    * — the sorted-distinct form loses both. Same md5-60-bit fold, same
    * DuckDB twin.
    */
  def md5SpanHashes(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split("\\s+", -1)
    val m = words.length - n + 1
    if (m <= 0) return ArrayData.toArrayData(Array.emptyLongArray)
    val md = md5Local.get()
    val sb = new java.lang.StringBuilder(64)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      md.reset()
      val dig = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (dig(b) & 0xFF).toLong; b += 1 }
      v = (v << 4) | ((dig(7) >> 4) & 0xF).toLong
      out(i) = v
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** 1-based positions selected by winnowing over windows of `w`
    * consecutive hashes: per window the LEFTMOST minimum (the same
    * leftmost-on-ties rule as `array_position`), deduplicated —
    * ascending by construction, since a sliding window's min index
    * never moves left. O(n) amortized via the classic monotone deque
    * (each index enters and leaves the deque once) — the production
    * replacement for the O(n·w) slice-per-window SQL form. An array
    * shorter than `w` is one end-clamped window.
    */
  def winnowPositions(hs: ArrayData, w: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return ArrayData.toArrayData(Array.emptyIntArray)
    val deq = new Array[Int](n)
    var head = 0
    var tail = 0 // live deque slots: [head, tail)
    val out = new Array[Int](n)
    var m = 0
    var last = -1
    var end = 0
    while (end < n) {
      val v = hs.getLong(end)
      // strict pop keeps earlier EQUAL values, so the front stays the
      // leftmost minimum of the window
      while (tail > head && hs.getLong(deq(tail - 1)) > v) tail -= 1
      deq(tail) = end
      tail += 1
      if (deq(head) <= end - w) head += 1
      if (end >= w - 1 || end == n - 1) {
        val sel = deq(head)
        if (sel != last) { out(m) = sel + 1; m += 1; last = sel }
      }
      end += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** Positions of the n-word spans of `text` whose md5-60-bit span hash
    * occurs in `sorted` — [[md5SpanHashes]] + binary search FUSED in one
    * kernel call. The transform/filter higher-order wrapper this
    * replaces ran interpreted per row and measured ~6x the whole
    * join-path scrub at sf1 (bench/BENCH_boiler_probe_sf1_r10.json);
    * fusing makes the stream-side boiler probe one codegen'd call per
    * row again.
    */
  def spanHitStarts(text: UTF8String, n: Int, sorted: Array[Long]): ArrayData = {
    val hs = md5SpanHashes(text, n)
    val m = hs.numElements()
    val tmp = new Array[Int](m)
    var cnt = 0
    var i = 0
    while (i < m) {
      if (java.util.Arrays.binarySearch(sorted, hs.getLong(i)) >= 0) {
        tmp(cnt) = i; cnt += 1
      }
      i += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(tmp, cnt))
  }

  /** d43's per-document LM score as ONE kernel call: sum over `text`'s
    * char bigrams of the model's 6dp-rounded log-prob, in EXACT integer
    * micros (the long sum carries the same digits as the oracle's
    * DECIMAL(38,6) sum — no float order sensitivity by construction).
    * Model lookup is two-tier binary search over sorted key arrays
    * riding the closure (bigram key = c1<<16 | c2 over UTF-16 units;
    * context key = c1), falling to the unseen-context default. The
    * transform/aggregate HOF chain this replaces ran interpreted per
    * CHARACTER (the SpanHitStarts trap again) and measured 274 s at
    * sf10; this is one codegen'd call per row.
    */
  def lmNllMicros(text: UTF8String, bigramKeys: Array[Long],
      bigramMicros: Array[Long], ctxKeys: Array[Long],
      ctxMicros: Array[Long], dfltMicros: Long): Long = {
    val s = text.toString
    var sum = 0L
    var i = 0
    val n = s.length - 1
    while (i < n) {
      val key = (s.charAt(i).toLong << 16) | s.charAt(i + 1)
      val b = java.util.Arrays.binarySearch(bigramKeys, key)
      sum += (if (b >= 0) bigramMicros(b)
        else {
          val c = java.util.Arrays.binarySearch(ctxKeys, s.charAt(i).toLong)
          if (c >= 0) ctxMicros(c) else dfltMicros
        })
      i += 1
    }
    sum
  }

  /** 60-bit SimHash of `text`'s word multiset with the md5-60-bit word
    * hash (first 15 hex chars of md5(word) as a long — the same
    * construction as [[md5ShingleHashes]]): bit i of the code is set iff
    * the +1/-1 sum of bit i over all word hashes is positive. The
    * DuckDB-reproducible twin of [[simhash64]]: every stage (regex word
    * split, md5 prefix hash, per-bit sign sums) has an exact SQL
    * equivalent, which is what makes d03 hash-oracle-checkable. 60 bits
    * because `('0x' || 16 hex chars)::BIGINT` would overflow the sign
    * bit; the Hamming-radius banding only needs the block widths to sum
    * to the code width, not to be equal (pigeonhole is width-agnostic).
    */
  def simhash60Md5(text: UTF8String): Long = {
    val words = text.toString.split("\\s+", -1)
    val md = md5Local.get()
    val counts = new Array[Int](60)
    var w = 0
    while (w < words.length) {
      md.reset()
      val dig = md.digest(words(w).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (dig(b) & 0xFF).toLong; b += 1 }
      v = (v << 4) | ((dig(7) >> 4) & 0xF).toLong
      var i = 0
      while (i < 60) {
        if (((v >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      w += 1
    }
    var code = 0L
    var i = 0
    while (i < 60) {
      if (counts(i) > 0) code |= (1L << i)
      i += 1
    }
    code
  }

  /** Rolling polynomial hash over a long array:
    * fold(acc = (acc * 31 + pmod(h, 1000000007)) mod 1000000000000037).
    * Matches the SQL `aggregate(...)` form used before (same constants),
    * with explicit positive mods.
    */
  def polyHash(arr: ArrayData): Long = {
    val mod = 1000000000000037L
    val hmod = 1000000007L
    var acc = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      var h = arr.getLong(i) % hmod
      if (h < 0) h += hmod
      acc = (acc * 31 + h) % mod
      if (acc < 0) acc += mod
      i += 1
    }
    acc
  }

  /** Count of `arr` elements present in the SORTED `sorted` list (one
    * binary search per element) — the [[CountInSortedLongs]] kernel.
    */
  def countInSorted(arr: ArrayData, sorted: Array[Long]): Long = {
    var cnt = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (java.util.Arrays.binarySearch(sorted, arr.getLong(i)) >= 0) cnt += 1
      i += 1
    }
    cnt
  }

  /** One greedy left-to-right BPE merge of adjacent (a, b) over a symbol
    * array — bit-identical to the SQL fold it replaces (TextAnalysis.
    * bpeMergeOnce): the comparison is against the last EMITTED symbol,
    * so a symbol consumed by a merge can never start another one
    * ("aaa" under (a,a) → "aa","a"). In-place over one output buffer:
    * O(L) instead of the interpreted aggregate's O(L²) accumulator
    * copies.
    */
  def bpeMergeOnce(sym: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = sym.numElements()
    val out = new Array[AnyRef](n)
    var m = 0
    var i = 0
    while (i < n) {
      val t = sym.getUTF8String(i)
      if (m > 0 && a.equals(out(m - 1)) && b.equals(t))
        out(m - 1) = UTF8String.concat(a, b)
      else { out(m) = t; m += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (m == n) out else java.util.Arrays.copyOf(out, m))
  }

  /** The full K-merge BPE fold in rank order, one kernel call per word —
    * replaces K chained interpreted aggregates (the d35/s18 apply path).
    * Each round is [[bpeMergeOnce]]'s exact loop over the previous
    * round's buffer.
    */
  def bpeFold(sym: ArrayData, as: Array[UTF8String],
      bs: Array[UTF8String]): ArrayData = {
    var n = sym.numElements()
    var cur = new Array[AnyRef](n)
    var i = 0
    while (i < n) { cur(i) = sym.getUTF8String(i); i += 1 }
    var k = 0
    while (k < as.length) {
      val a = as(k)
      val b = bs(k)
      var m = 0
      i = 0
      while (i < n) {
        val t = cur(i)
        if (m > 0 && a.equals(cur(m - 1)) && b.equals(t)) {
          // safe in place: m - 1 < i always, and cur(i) was read first
          cur(m - 1) = UTF8String.concat(a, b)
        } else { cur(m) = t; m += 1 }
        i += 1
      }
      n = m
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(cur, n))
  }
}

/** Native shingle-hash expression: text -> array<long> of distinct n-word
  * shingle hashes. The unit of MinHash/Jaccard dedup; codegen'd as one
  * kernel call per row.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.strings(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.shingleHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HashKernels.shingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Native sorted md5-60-bit shingle hashes: text -> array<long>, the
  * DuckDB-reproducible twin of [[ShingleHashes]] (see
  * [[HashKernels.md5ShingleHashes]]).
  */
case class Md5ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_shingle_hashes"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.strings(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.md5ShingleHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HashKernels.md5ShingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Md5ShingleHashes =
    copy(child = newChild)
}

/** Native positional md5-60-bit span hashes: text -> array<long>,
  * element k = hash of the n-word span at word k (see
  * [[HashKernels.md5SpanHashes]]).
  */
case class Md5SpanHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_span_hashes"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.strings(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.md5SpanHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HashKernels.md5SpanHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Md5SpanHashes =
    copy(child = newChild)
}

/** Native winnowing position selection over an array of span hashes —
  * d37's window-min pass as ONE codegen'd O(n) kernel call per row
  * (see [[HashKernels.winnowPositions]]).
  */
case class WinnowPositions(child: Expression, w: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "winnow_positions"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName: argument must be ARRAY<BIGINT>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    HashKernels.winnowPositions(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HashKernels.winnowPositions($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowPositions =
    copy(child = newChild)
}

/** Fused boiler-span probe: text -> array<int> of the span starts whose
  * md5-60-bit span-n hash is in the SORTED list riding the closure (see
  * [[HashKernels.spanHitStarts]]). The scrub's per-row hit detection as
  * ONE codegen'd kernel call instead of an interpreted
  * transform+filter chain over [[Md5SpanHashes]] + a per-span binary
  * search.
  */
case class SpanHitStarts(child: Expression, n: Int, sorted: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "span_hit_starts"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.strings(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.spanHitStarts(input.asInstanceOf[UTF8String], n, sorted)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sorted", sorted, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HashKernels.spanHitStarts($c, $n, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): SpanHitStarts =
    copy(child = newChild)
}

/** Native 64-bit SimHash of a text column's word multiset. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.strings(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.simhash64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.HashKernels.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Native 60-bit md5-word-hash SimHash — [[SimHash64]]'s
  * DuckDB-reproducible twin (see [[HashKernels.simhash60Md5]]).
  */
case class SimHash60Md5(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60_md5"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.strings(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.simhash60Md5(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.HashKernels.simhash60Md5($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60Md5 =
    copy(child = newChild)
}

/** Rolling polynomial hash over an array<long> (document fingerprint). */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.longArrays(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.polyHash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.HashKernels.polyHash($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** How many elements of an array<long> occur in a SORTED long list —
  * a binary-search membership test FUSED with the count, so
  * a per-doc "shared shingles vs the benchmark set" tally is ONE
  * codegen'd kernel call per row instead of an interpreted
  * filter-lambda chain (the same HOF trap [[SpanHitStarts]] closed for
  * the boiler probe). Caller sorts; the Column builder
  * ([[GraftFunctions.countInSortedLongs]]) sorts defensively.
  */
case class CountInSortedLongs(child: Expression, sorted: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "count_in_sorted_longs"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.longArrays(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.countInSorted(input.asInstanceOf[ArrayData], sorted)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sorted", sorted, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HashKernels.countInSorted($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): CountInSortedLongs =
    copy(child = newChild)
}

/** d43/s24's per-document LM score: exact integer-micros NLL sum over
  * the text's char bigrams, model arrays riding the closure (see
  * [[HashKernels.lmNllMicros]]). One codegen'd call per row where the
  * HOF fold ran interpreted per character. Keys are UTF-16-unit pairs —
  * identical to code points for BMP text (the corpus is ASCII; the
  * oracle's substr is code-point, so supplementary-plane text would be
  * the one divergence, and it would fail LOUDLY at the hash gate).
  */
case class LmNllMicros(child: Expression, bigramKeys: Array[Long],
    bigramMicros: Array[Long], ctxKeys: Array[Long],
    ctxMicros: Array[Long], dfltMicros: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "lm_nll_micros"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.strings(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.lmNllMicros(input.asInstanceOf[UTF8String],
      bigramKeys, bigramMicros, ctxKeys, ctxMicros, dfltMicros)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bk = ctx.addReferenceObj("bk", bigramKeys, "long[]")
    val bv = ctx.addReferenceObj("bv", bigramMicros, "long[]")
    val ck = ctx.addReferenceObj("ck", ctxKeys, "long[]")
    val cv = ctx.addReferenceObj("cv", ctxMicros, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HashKernels.lmNllMicros($c, $bk, $bv, $ck, $cv, ${dfltMicros}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): LmNllMicros =
    copy(child = newChild)
}

/** Codegen'd Bloom-filter membership probe over a long column. The
  * filter (Spark's `org.apache.spark.util.sketch.BloomFilter`, the same
  * sketch the engine's own runtime row-group filters ship) rides the
  * closure as a reference object — ~1.2 bytes/key at 1% fp, so a
  * 10^9-key benchmark set probes from a ~1.2 GB broadcast instead of an
  * un-broadcastable multi-GB exact table. Bloom has NO false negatives:
  * a prefilter built from set S passes every true member of S, so
  * `prefilter -> exact verify` is bit-identical to `exact` while cutting
  * the verify join's probe side to true hits + the fp fraction.
  */
case class BloomContainsLong(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_contains_long"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName: argument must be BIGINT, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    bloom.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom,
      "org.apache.spark.util.sketch.BloomFilter")
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomContainsLong =
    copy(child = newChild)
}

/** Codegen'd single greedy BPE merge of adjacent (a, b) over an
  * array<string> symbol column — [[HashKernels.bpeMergeOnce]] bound to
  * the round's pair. Output type matches the SQL fold it replaces
  * (array<string>, containsNull = true from the fold's cast), so plans
  * and schemas are unchanged.
  */
case class BpeMergeOnce(child: Expression, a: UTF8String, b: UTF8String)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = true)
  override def prettyName: String = "bpe_merge_once"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName: argument must be ARRAY<STRING>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    HashKernels.bpeMergeOnce(input.asInstanceOf[ArrayData], a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ra = ctx.addReferenceObj("a", a, "org.apache.spark.unsafe.types.UTF8String")
    val rb = ctx.addReferenceObj("b", b, "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HashKernels.bpeMergeOnce($c, $ra, $rb)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeOnce =
    copy(child = newChild)
}

/** Codegen'd full BPE apply: the K trained merges folded in rank order in
  * ONE kernel call per word — replaces K chained interpreted aggregate()
  * lambdas on the tokenizer apply path (d35/s18). Merge semantics are
  * [[HashKernels.bpeMergeOnce]]'s exact loop per round.
  */
case class BpeFold(child: Expression, as: Array[UTF8String],
    bs: Array[UTF8String]) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = true)
  override def prettyName: String = "bpe_fold"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName: argument must be ARRAY<STRING>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    HashKernels.bpeFold(input.asInstanceOf[ArrayData], as, bs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ra = ctx.addReferenceObj("as", as,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val rb = ctx.addReferenceObj("bs", bs,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HashKernels.bpeFold($c, $ra, $rb)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeFold =
    copy(child = newChild)
}
