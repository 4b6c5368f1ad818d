package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, StatefulOpClusteredDistribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Logical as-of join: for every left row, the single right row with the
  * same key and the greatest time <= the left row's time (inner: left rows
  * with no such right row are dropped). This is the whole-operator custom
  * plan path — LogicalPlan + Strategy + SparkPlan — for the case the
  * built-in operators can't express directly (the composed alternative is
  * the union+window pattern in q26; this node does the same work in one
  * co-partitioned merge sweep with no union materialization).
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTie: Option[Expression]) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] to [[AsOfJoinExec]]. Installed only by session
  * extensions ([[graft.GraftExtensions]]), so [[AsOf.join]] needs a
  * session built with them.
  */
object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tie) =>
      AsOfJoinExec(lk, rk, lt, rt, tie, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: both sides hash-partitioned on the key (pinned
  * partition count, so AQE cannot coalesce the sides apart) and sorted by
  * (key, time); one forward merge sweep per partition pairs each left row
  * with the latest right row <= its time. One shuffle per side, no per-row
  * probes, state = one buffered right row — scales like a sort-merge join.
  */
case class AsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTie: Option[Expression],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] = {
    val n = conf.numShufflePartitions
    Seq(StatefulOpClusteredDistribution(Seq(leftKey), n),
        StatefulOpClusteredDistribution(Seq(rightKey), n))
  }

  // the optional right-side tiebreaker makes the pick among equal
  // (key, time) right rows deterministic (the sweep keeps the LAST row in
  // sort order, i.e. the highest tiebreaker value)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
        Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
          rightTie.map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  // the merge preserves both children's hash partitioning on the key;
  // advertising it (as SortMergeJoin does) lets a downstream groupBy/join
  // on the same key skip a redundant shuffle
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection(
      Seq(left.outputPartitioning, right.outputPartitioning))

  /** Physical accessor reading a fixed-width integral column as a long —
    * non-null only for types whose internal representation is an integral
    * primitive. When both the key and the time are such types the sweep
    * takes a primitive fast path: codegen'd unsafe projections + long
    * compares instead of per-row interpreted `eval` + boxed orderings
    * (the typical as-of inputs — bigint keys, epoch-long or timestamp
    * times — all qualify).
    */
  private def longGetter(dt: org.apache.spark.sql.types.DataType): (InternalRow, Int) => Long = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | TimestampType | TimestampNTZType => (r, i) => r.getLong(i)
      case IntegerType | DateType => (r, i) => r.getInt(i).toLong
      case ShortType => (r, i) => r.getShort(i).toLong
      case ByteType => (r, i) => r.getByte(i).toLong
      case _ => null
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    // Both sweeps compare left values against right values directly, so the
    // exec itself owns this invariant (AsOf.join enforces it too, but an
    // exec constructed directly with, say, an Int key left and a Long key
    // right would otherwise read the wrong word width and silently
    // mis-join).
    require(leftKey.dataType == rightKey.dataType &&
        leftTime.dataType == rightTime.dataType,
      s"as-of join key/time types must match across sides: " +
        s"(${leftKey.dataType}, ${leftTime.dataType}) vs " +
        s"(${rightKey.dataType}, ${rightTime.dataType})")
    val lOut = left.output
    val rOut = right.output
    val keyGet = longGetter(leftKey.dataType)
    val timeGet = longGetter(leftTime.dataType)
    // same types on both sides (checked above), but derive the right-side
    // getters from the right-side expressions so the fast path stays
    // correct even if the invariant is ever relaxed
    val rKeyGet = longGetter(rightKey.dataType)
    val rTimeGet = longGetter(rightTime.dataType)
    if (keyGet != null && timeGet != null && rKeyGet != null && rTimeGet != null) {
      left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
        val lProj = UnsafeProjection.create(
          Seq(BindReferences.bindReference(leftKey, lOut),
              BindReferences.bindReference(leftTime, lOut)))
        val rProj = UnsafeProjection.create(
          Seq(BindReferences.bindReference(rightKey, rOut),
              BindReferences.bindReference(rightTime, rOut)))
        val joiner = new JoinedRow
        val project = UnsafeProjection.create(output, lOut ++ rOut)

        new Iterator[InternalRow] {
          private var rHead: InternalRow = _
          private var rHeadNull = false
          private var rHeadKey = 0L
          private var rHeadTime = 0L
          private def advanceRight(): Unit =
            if (rIter.hasNext) {
              rHead = rIter.next()
              val kt = rProj(rHead)
              rHeadNull = kt.isNullAt(0) || kt.isNullAt(1)
              if (!rHeadNull) { rHeadKey = rKeyGet(kt, 0); rHeadTime = rTimeGet(kt, 1) }
            } else rHead = null
          advanceRight()

          // latest right row whose (key, time) <= the current left cursor;
          // primitive key copy — no reused-buffer aliasing to defend against.
          // The child's sort iterator reuses its output row, so the
          // candidate must be detached before advancing — but EVERY
          // consumed right row becomes the candidate, so a per-row .copy()
          // would allocate right-side-cardinality byte arrays. copyFrom
          // reuses one grow-only buffer instead (zero steady-state alloc);
          // non-UnsafeRow children (rare) fall back to copy().
          private val candBuf = {
            val b = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(rOut.size)
            // copyFrom requires an existing byte[]-backed buffer (it grows
            // it as needed); start with a small one
            b.pointTo(new Array[Byte](64), 64)
            b
          }
          private var cand: InternalRow = _
          private var candKey = 0L
          private var candSet = false
          private def captureCand(): Unit = {
            rHead match {
              case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
                candBuf.copyFrom(u); cand = candBuf
              case other => cand = other.copy()
            }
            candKey = rHeadKey; candSet = true
          }

          private var nextOut: InternalRow = _

          private def computeNext(): Unit = {
            nextOut = null
            while (nextOut == null && lIter.hasNext) {
              val l = lIter.next()
              val kt = lProj(l)
              if (!kt.isNullAt(0) && !kt.isNullAt(1)) {
                val lk = keyGet(kt, 0)
                val lt = timeGet(kt, 1)
                while (rHead != null && (rHeadNull ||
                    rHeadKey < lk || (rHeadKey == lk && rHeadTime <= lt))) {
                  if (!rHeadNull) captureCand()
                  advanceRight()
                }
                if (candSet && candKey == lk)
                  nextOut = project(joiner(l, cand))
              }
            }
          }
          private var computed = false

          override def hasNext: Boolean = {
            if (!computed) { computeNext(); computed = true }
            nextOut != null
          }
          override def next(): InternalRow = {
            if (!computed) computeNext()
            computed = false
            nextOut
          }
        }
      }
    } else doExecuteGeneric()
  }

  /** Interpreted-ordering sweep for non-integral key/time types. */
  private def doExecuteGeneric(): RDD[InternalRow] = {
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val lOut = left.output
    val rOut = right.output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyEval = BindReferences.bindReference(leftKey, lOut)
      val lTimeEval = BindReferences.bindReference(leftTime, lOut)
      val rKeyEval = BindReferences.bindReference(rightKey, rOut)
      val rTimeEval = BindReferences.bindReference(rightTime, rOut)
      val joiner = new JoinedRow
      val project = UnsafeProjection.create(output, lOut ++ rOut)

      new Iterator[InternalRow] {
        private var rHead: InternalRow = _
        private var rHeadKey: Any = _
        private var rHeadTime: Any = _
        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            rHead = rIter.next()
            rHeadKey = rKeyEval.eval(rHead)
            rHeadTime = rTimeEval.eval(rHead)
          } else rHead = null
        advanceRight()

        // latest right row whose (key, time) <= the current left cursor
        private var cand: InternalRow = _
        private var candKey: Any = _

        // Computed LAZILY on hasNext/next: the projection reuses one
        // UnsafeRow buffer, so the next row must not be materialized until
        // the consumer is done with the current one (the standard SparkPlan
        // row-reuse contract — eager prefetch here corrupts emitted rows).
        private var nextOut: InternalRow = _

        private def computeNext(): Unit = {
          nextOut = null
          while (nextOut == null && lIter.hasNext) {
            val l = lIter.next()
            val lk = lKeyEval.eval(l)
            val lt = lTimeEval.eval(l)
            if (lk != null && lt != null) {
              // consume right rows at or before (lk, lt); null-keyed or
              // null-timed right rows never match (inner-join semantics)
              // and sort nulls-first, so they are skipped up front
              while (rHead != null && (rHeadKey == null || rHeadTime == null || {
                val c = keyOrd.compare(rHeadKey.asInstanceOf[AnyRef],
                                       lk.asInstanceOf[AnyRef])
                c < 0 || (c == 0 &&
                  timeOrd.compare(rHeadTime.asInstanceOf[AnyRef],
                                  lt.asInstanceOf[AnyRef]) <= 0)
              })) {
                if (rHeadKey != null && rHeadTime != null) {
                  // buffered rows are reused by the child iterator: copy
                  // the row AND re-evaluate the key from the copy (the
                  // evaluated key may point into the reused buffer for
                  // non-primitive types)
                  cand = rHead.copy()
                  candKey = rKeyEval.eval(cand)
                }
                advanceRight()
              }
              if (cand != null &&
                  keyOrd.compare(candKey.asInstanceOf[AnyRef],
                                 lk.asInstanceOf[AnyRef]) == 0)
                nextOut = project(joiner(l, cand))
            }
          }
        }
        private var computed = false

        override def hasNext: Boolean = {
          if (!computed) { computeNext(); computed = true }
          nextOut != null
        }
        override def next(): InternalRow = {
          if (!computed) computeNext()
          computed = false
          nextOut
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API: as-of join two DataFrames on a key and event-time column.
  * Column names must be disjoint between the two sides (rename first).
  */
object AsOf {
  def join(l: DataFrame, r: DataFrame,
           leftKey: String, rightKey: String,
           leftTime: String, rightTime: String,
           rightTieBreak: Option[String] = None): DataFrame = {
    val spark: SparkSession = l.sparkSession
    val overlap = l.columns.toSet.intersect(r.columns.toSet)
    require(overlap.isEmpty,
      s"as-of join requires disjoint column names between the two sides; " +
        s"rename before joining: ${overlap.mkString(", ")}")
    val lp = GraftSqlBridge.logicalPlan(l)
    val rp = GraftSqlBridge.logicalPlan(r)
    def res(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${p.output.map(_.name).mkString(",")}"))
    def sameType(what: String, a: Attribute, b: Attribute): Unit =
      require(a.dataType == b.dataType,
        s"as-of $what types differ: ${a.name}: ${a.dataType} vs ${b.name}: ${b.dataType}")
    sameType("key", res(lp, leftKey), res(rp, rightKey))
    sameType("time", res(lp, leftTime), res(rp, rightTime))
    GraftSqlBridge.ofRows(spark,
      AsOfJoin(lp, rp, res(lp, leftKey), res(rp, rightKey),
               res(lp, leftTime), res(rp, rightTime),
               rightTieBreak.map(res(rp, _))))
  }
}
