package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Java-callable vector kernels (invoked from generated code). */
object VecMath {
  /** Cosine similarity of two float vectors, accumulated in double in
    * index order — the same element order and widening DuckDB's
    * `list_cosine_similarity(a::DOUBLE[], b::DOUBLE[])` uses, so results
    * are bit-comparable with the oracle.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    // 0/0 is NaN, matching DuckDB's list_cosine_similarity on a zero vector
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** Ragged vectors are data corruption — fail loudly, as the SQL oracle
    * does, instead of scoring a silent common prefix.
    */
  private def checkedDim(a: ArrayData, b: ArrayData): Int = {
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"cosine_sim: vector dims differ: ${a.numElements()} vs ${b.numElements()}")
    a.numElements()
  }
}

/** Native Catalyst expression for cosine similarity over `array<float>`
  * embeddings. A codegen'd tight loop over the unsafe array data — no UDF
  * boxing, no per-row allocation — so brute-force scoring stays inside
  * whole-stage codegen on the 100-TB path.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  // Inputs must be array<float>: ArrayData.getFloat on any other element
  // width would read garbage bytes silently, so reject at analysis time.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeChecks.floatArrays(prettyName, left, right)

  override def nullSafeEval(a: Any, b: Any): Any =
    VecMath.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.VecMath.cosine($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Analysis-time input checks shared by graft's native expressions
  * (`ExpectsInputTypes` is unusable here — `AbstractDataType` is
  * `private[sql]` in Spark 4 — so expressions override
  * `checkInputDataTypes` directly).
  */
object GraftTypeChecks {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types._

  private def check(name: String, ok: Boolean, exprs: Seq[Expression]): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name: unexpected input types ${exprs.map(_.dataType.simpleString).mkString(", ")}")

  def floatArrays(name: String, exprs: Expression*): TypeCheckResult =
    check(name, exprs.forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }), exprs)

  def longArrays(name: String, exprs: Expression*): TypeCheckResult =
    check(name, exprs.forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }), exprs)

  def strings(name: String, exprs: Expression*): TypeCheckResult =
    check(name, exprs.forall(_.dataType == StringType), exprs)
}

/** Column builders for graft's closure-bound kernels. Each binds a model
  * built on the driver (hyperplanes, centroids, a sorted hash list, a
  * Bloom filter, BPE merges, an LM) into its expression, so nothing is
  * installed in a function registry and two plans built at once can
  * never see each other's binding. The fixed kernels are SQL functions
  * injected by [[graft.GraftExtensions]].
  */
object GraftFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}
  import org.apache.spark.unsafe.types.UTF8String

  /** n-bit hyperplane sign code of a float vector — see [[SignCode]]. */
  def signCode(vec: Column, planes: Array[Array[Double]]): Column =
    column(SignCode(expression(vec), planes))

  /** Nearest of the first `ncells` rows of a FLOAT anchor matrix — the
    * cell quantizer of e04/e08/PQ (see [[LshKernels.nearestAnchor]]).
    */
  def nearestAnchor(vec: Column, ncells: Column,
      anchors: Array[Array[Float]]): Column =
    column(NearestAnchor(expression(vec), expression(ncells), anchors))

  /** BIGINT count of an array<long>'s elements present in `values`
    * (sorted defensively) — see [[CountInSortedLongs]].
    */
  def countInSortedLongs(arr: Column, values: Array[Long]): Column =
    column(CountInSortedLongs(expression(arr), values.clone().sorted))

  /** BOOLEAN might-contain of a BIGINT in a built Bloom filter — see
    * [[BloomContainsLong]].
    */
  def bloomContainsLong(v: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    column(BloomContainsLong(expression(v), bloom))

  /** array<int> of the span starts whose md5 span-n hash is in `values`
    * (sorted defensively) — see [[SpanHitStarts]].
    */
  def spanHitStarts(text: Column, values: Array[Long], n: Int = 8): Column =
    column(SpanHitStarts(expression(text), n, values.clone().sorted))

  /** One greedy BPE merge of adjacent (a, b) over array<string>. The
    * symbols bind through the constructor, never through SQL quoting.
    */
  def bpeMergeOnce(sym: Column, a: String, b: String): Column =
    column(BpeMergeOnce(expression(sym),
      UTF8String.fromString(a), UTF8String.fromString(b)))

  /** The full K-merge BPE fold bound to a trained merge list (rank
    * order): one codegen kernel call per word — see [[BpeFold]].
    */
  def bpeFold(sym: Column, merges: Seq[(String, String)]): Column =
    column(BpeFold(expression(sym),
      merges.map(m => UTF8String.fromString(m._1)).toArray,
      merges.map(m => UTF8String.fromString(m._2)).toArray))

  /** d43/s24's LM scorer: BIGINT exact NLL sum in integer micros — see
    * [[LmNllMicros]]. The caller passes PRE-SORTED parallel key/value
    * arrays (sorting here would break key-value alignment).
    */
  def lmNllMicros(text: Column, bigramKeys: Array[Long],
      bigramMicros: Array[Long], ctxKeys: Array[Long],
      ctxMicros: Array[Long], dfltMicros: Long): Column =
    column(LmNllMicros(expression(text), bigramKeys, bigramMicros,
      ctxKeys, ctxMicros, dfltMicros))
}
