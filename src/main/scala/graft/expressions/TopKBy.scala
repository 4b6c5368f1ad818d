package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import java.nio.ByteBuffer

/** Bounded top-k buffer: entries sorted by (score desc, id asc), length
  * <= k. Insertion keeps the order (k is small: linear shift).
  */
final class TopKBuffer(val k: Int) {
  var n: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)

  // Total order via Double.compare: NaN ranks GREATEST, matching both
  // Spark's sort and DuckDB's ORDER BY ... DESC (a raw `>` would rank NaN
  // last and diverge from the oracle on e.g. zero-embedding cosines).
  // Scores are canonicalized on insert (-0.0 -> +0.0, below) because
  // Double.compare orders +0.0 above -0.0 while Spark/DuckDB compare them
  // equal and fall through to the id tiebreak.
  private def beats(s: Double, id: Long, i: Int): Boolean = {
    val c = java.lang.Double.compare(s, scores(i))
    c > 0 || (c == 0 && id < ids(i))
  }

  def insert(score: Double, id: Long): Unit = {
    val s = if (score == 0.0) 0.0 else score // -0.0 == 0.0 is true: canonicalize
    if (n == k && !beats(s, id, n - 1)) return
    var i = if (n < k) n else n - 1 // position to place (drop last if full)
    if (n < k) n += 1
    while (i > 0 && beats(s, id, i - 1)) {
      scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1
    }
    scores(i) = s; ids(i) = id
  }

  def mergeFrom(o: TopKBuffer): Unit = {
    var i = 0
    while (i < o.n) { insert(o.scores(i), o.ids(i)); i += 1 }
  }
}

/** Custom Catalyst aggregate: top-k (score, id) pairs per group, ordered
  * by (score desc, id asc). The aggregation is partial by construction —
  * each map task keeps a k-entry buffer and only buffers shuffle — so a
  * brute-force k-NN over a 100-TB corpus never range-sorts or windows the
  * full scored set; the shuffle is k rows per (group, map task).
  *
  * Usage (injected by [[graft.GraftExtensions]] as `topk_by(score, id, k)`): returns
  * `array<struct<score double, id bigint>>` sorted best-first.
  */
case class TopKBy(
    score: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {

  require(k > 0, s"topk_by: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(score, id)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"topk_by expects (double, bigint, int), got " +
        s"(${score.dataType.simpleString}, ${id.dataType.simpleString})")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType, nullable = false),
                   StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "topk_by"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val rows = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      rows(i) = InternalRow(buf.scores(i), buf.ids(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.n * 16)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKBy =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKBy =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKBy =
    copy(score = newChildren(0), id = newChildren(1))
}
