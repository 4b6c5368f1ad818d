package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

object LshKernels {

  val Dim = 64

  /** SplitMix64 finalizer — the ONE deterministic scramble behind every
    * derived constant (LSH planes, minhash coefficients). Keep single:
    * all uses must stay bit-identical across engines and rounds.
    */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def planes(numPlanes: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, Dim)((j, k) =>
      (mix(j.toLong * Dim + k) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0)

  /** Hyperplane sign code: bit j set iff dot(planes[j], vec) > 0. Each dot
    * is a sequential ascending-index fold in double — the same order and
    * widening as DuckDB's `list_dot_product(vec::DOUBLE[], [plane])`, so
    * bucket assignments are bit-identical to the SQL oracle's.
    */
  def signCode(vec: ArrayData, planes: Array[Array[Double]]): Int = {
    var code = 0
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      // a ragged embedding is data corruption: fail loudly (as the SQL
      // oracle would) instead of bucketing on a silent prefix
      if (vec.numElements() != p.length)
        throw new IllegalArgumentException(
          s"sign_code: embedding dim ${vec.numElements()} != plane dim ${p.length}")
      val n = p.length
      var dot = 0.0
      var i = 0
      while (i < n) { dot += vec.getFloat(i).toDouble * p(i); i += 1 }
      if (dot > 0) code |= 1 << j
      j += 1
    }
    code
  }

  /** Nearest anchor among the first `ncells` rows of a FLOAT plane
    * matrix, by epsilon-rounded cosine with ties to the lower cell —
    * exactly e04's `max_by(cell, named_struct('s', round(cosine_sim(
    * emb, anchor) + 1e-10, 6), 'c', -cell))` over a broadcast anchor
    * table, collapsed into ONE codegen'd per-row call. The explode-
    * and-aggregate formulation materialized corpus_n x ncells rows each
    * carrying an embedding copy (at 200k x 256 that was ~80 s of row
    * traffic for ~5 s of arithmetic); this loop touches each embedding
    * once.
    *
    * Semantics notes, each load-bearing for oracle hash-parity:
    *  - accumulation is VecMath.cosine's index-ascending double fold
    *    with the embedding as the FIRST argument (same order as the
    *    replaced plan and the DuckDB oracle's list_cosine_similarity);
    *  - rounding is Spark Round's BigDecimal.valueOf(x).setScale(6,
    *    HALF_UP) with the NaN/Infinity passthrough guard;
    *  - a strictly-greater comparison keeps the LOWEST cell on ties,
    *    and java.lang.Double.compare ranks NaN above every sim, both
    *    matching the struct ordering max_by used.
    */
  def nearestAnchor(vec: ArrayData, planes: Array[Array[Float]], ncells: Int): Int = {
    val n = math.min(ncells, planes.length)
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < n) {
      val p = planes(c)
      if (vec.numElements() != p.length)
        throw new IllegalArgumentException(
          s"nearest_anchor: embedding dim ${vec.numElements()} != anchor dim ${p.length}")
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < p.length) {
        val x = vec.getFloat(i).toDouble
        val y = p(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val raw = dot / (math.sqrt(na) * math.sqrt(nb)) + 1e-10
      val sim =
        if (raw.isNaN || raw.isInfinite) raw
        else java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      if (java.lang.Double.compare(sim, bestSim) > 0) { bestSim = sim; best = c }
      c += 1
    }
    best
  }

  /** Jaccard similarity of the DISTINCT code-point sets of two strings —
    * matches `len(list_intersect(a,b)) / len(list_distinct(a||b))` over
    * DuckDB's `string_split_regex(text,'')` (and Spark's `split(text,'')`),
    * both of which split into unicode code points.
    */
  def charJaccard(a: UTF8String, b: UTF8String): Double =
    // single implementation: the injected char_jaccard SQL function and
    // the codepoint_set + sorted_jaccard operator path must stay
    // bit-consistent (the d04 oracle depends on it)
    sortedJaccard(codepointSet(a), codepointSet(b))

  /** Distinct code points of a string, ascending, as longs — the per-doc
    * precompute for pairwise set Jaccard (compute once per document, not
    * once per candidate pair).
    */
  def codepointSet(s: UTF8String): ArrayData = {
    val set = new java.util.TreeSet[Integer]()
    val str = s.toString
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      set.add(cp)
      i += Character.charCount(cp)
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().toLong; k += 1 }
    ArrayData.toArrayData(out)
  }

  /** Jaccard of two SORTED-distinct long arrays via a single merge scan —
    * O(|a|+|b|), zero allocation per pair (vs hash-set building, which
    * dominates blocked near-dup joins at millions of candidate pairs).
    */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return Double.NaN // 0/0, as in SQL
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  // --- MinHash band keys ---------------------------------------------
  // The SAME Carter-Wegman affine family + polynomial band fold as the
  // batch path (graft.operators.Dedup.minhashBands): coefficients from
  // the one [[mix]] scramble, reduction mod p = 2^31 - 1, 8 bands x 4
  // rows folded mod PolyMod. ONE kernel pass per row replaces the 32
  // interpreted `transform` lambdas + 8 pmod chains the per-row column
  // formulation paid per arriving doc (guide §4). StreamIncrDedupSpec
  // pins the keys bit-identical to minhashBands'.
  private val MinHashes = 32
  private val MinBands = 8
  private val MinRows = MinHashes / MinBands
  private val P31 = 2147483647L // 2^31 - 1
  private val BandPolyMod = 1000000000000037L
  private val MinAs: Array[Long] =
    Array.tabulate(MinHashes)(i => (mix(2L * i) >>> 33) | 1L)
  private val MinBs: Array[Long] =
    Array.tabulate(MinHashes)(i => mix(2L * i + 1) >>> 33)

  private def pmod(x: Long, m: Long): Long = {
    val r = x % m
    if (r < 0) r + m else r
  }

  /** (band_id, band_sig) LSH keys for one shingle-hash set: array of
    * MinBands `struct<band_id int, band_sig long>`. An EMPTY input
    * yields null band signatures — exactly the column formulation's
    * `array_min(empty) = null` propagation, so such rows fall out of
    * the equality probe identically.
    */
  def bandKeys(mh: ArrayData): ArrayData = {
    val n = mh.numElements()
    val minh = new Array[Long](MinHashes)
    java.util.Arrays.fill(minh, Long.MaxValue)
    var i = 0
    while (i < n) {
      val hp = pmod(mh.getLong(i), P31)
      var k = 0
      while (k < MinHashes) {
        val v = pmod(MinAs(k) * hp + MinBs(k), P31)
        if (v < minh(k)) minh(k) = v
        k += 1
      }
      i += 1
    }
    val out = new Array[Any](MinBands)
    var b = 0
    while (b < MinBands) {
      if (n == 0)
        out(b) = org.apache.spark.sql.catalyst.InternalRow(b, null)
      else {
        var acc = 0L
        var r = 0
        while (r < MinRows) {
          acc = pmod(acc * 31L + minh(b * MinRows + r), BandPolyMod)
          r += 1
        }
        out(b) = org.apache.spark.sql.catalyst.InternalRow(b, acc)
      }
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The merge scan's intersection COUNT alone (exact integer — d41's
    * containment thresholds must not round-trip through a double).
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }
}

/** Codegen'd per-row LSH band keys over an `array<long>` shingle-hash
  * set — the streaming probe's (s10/d24 verdicts) band computation as
  * ONE native kernel call instead of 32 interpreted `transform` lambdas
  * per arriving document. Same (band_id, band_sig) family as the batch
  * index by construction ([[LshKernels.bandKeys]]).
  */
case class LshBandKeys(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("band_id", IntegerType, nullable = false),
      StructField("band_sig", LongType, nullable = true))),
    containsNull = false)
  override def prettyName: String = "lsh_band_keys"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.longArrays(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    LshKernels.bandKeys(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.LshKernels.bandKeys($c)")

  override protected def withNewChildInternal(newChild: Expression): LshBandKeys =
    copy(child = newChild)
}

/** Codegen'd merge-scan intersection COUNT over two sorted-distinct
  * long arrays — [[SortedSetJaccard]]'s integer core, for asymmetric
  * set measures (d41's containment = count / |left|).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.longArrays(prettyName, left, right)

  override def nullSafeEval(a: Any, b: Any): Any =
    LshKernels.sortedIntersectCount(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.LshKernels.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd hyperplane sign code over an `array<float>` embedding; the
  * plane matrix rides along as a referenced object in generated code.
  */
case class SignCode(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sign_code"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.floatArrays(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    LshKernels.signCode(input.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.LshKernels.signCode($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): SignCode =
    copy(child = newChild)
}

/** Codegen'd nearest-anchor cell assignment over an `array<float>`
  * embedding (see [[LshKernels.nearestAnchor]] for the semantics); the
  * float anchor matrix rides along as a referenced object, and the
  * active prefix length `ncells` is a runtime child (the count ladder
  * derives it from the data, so it cannot be bound at plan build).
  */
case class NearestAnchor(left: Expression, right: Expression,
    planes: Array[Array[Float]]) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_anchor"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val emb = GraftTypeChecks.floatArrays(prettyName, left)
    if (emb.isFailure) emb
    else if (right.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName: ncells must be INT, got ${right.dataType.simpleString}")
  }

  override def nullSafeEval(emb: Any, ncells: Any): Any =
    LshKernels.nearestAnchor(emb.asInstanceOf[ArrayData], planes,
      ncells.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "float[][]")
    defineCodeGen(ctx, ev, (emb, nc) =>
      s"graft.expressions.LshKernels.nearestAnchor($emb, $ref, $nc)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestAnchor =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd sorted-distinct code points of a string (array<long>). */
case class CodepointSet(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType,
      containsNull = false)
  override def prettyName: String = "codepoint_set"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.strings(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    LshKernels.codepointSet(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.LshKernels.codepointSet($c)")

  override protected def withNewChildInternal(newChild: Expression): CodepointSet =
    copy(child = newChild)
}

/** Codegen'd merge-scan Jaccard over two sorted-distinct long arrays. */
case class SortedSetJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.longArrays(prettyName, left, right)

  override def nullSafeEval(a: Any, b: Any): Any =
    LshKernels.sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.LshKernels.sortedJaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedSetJaccard =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd distinct-code-point Jaccard between two strings. */
case class CharSetJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_jaccard"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.strings(prettyName, left, right)

  override def nullSafeEval(a: Any, b: Any): Any =
    LshKernels.charJaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.LshKernels.charJaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharSetJaccard =
    copy(left = newLeft, right = newRight)
}
