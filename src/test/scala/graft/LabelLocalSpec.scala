package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side union-find shortcut in propagateLabelsCounted must be
  * indistinguishable from the distributed fixpoint loop: same label table
  * (component minima over the same symmetric edge set) on the same graph,
  * with the conf'd edge bound deciding which path runs.
  */
class LabelLocalSpec extends AnyFunSuite with SparkFixture {
  import graft.operators.Dedup

  /** A graph with a chain, a star, a bridged pair of clusters and an
    * isolated edge — every shape the pair builders emit.
    */
  private def edges = {
    val sp = spark
    import sp.implicits._
    val fwd = Seq(
      // chain 10-11-12-13-14
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      // star centered far ABOVE its leaves (min is a leaf)
      (100L, 7L), (100L, 8L), (100L, 9L),
      // two clusters bridged by one edge
      (20L, 21L), (30L, 31L), (21L, 30L),
      // isolated pair
      (40L, 41L)).toDF("src", "dst")
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
  }

  private def truth: Map[Long, Long] = Map(
    10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
    7L -> 7L, 8L -> 7L, 9L -> 7L, 100L -> 7L,
    20L -> 20L, 21L -> 20L, 30L -> 20L, 31L -> 20L,
    40L -> 40L, 41L -> 40L)

  test("local union-find path: correct labels, zero distributed steps") {
    val (labels, steps) =
      Dedup.propagateLabelsCounted(spark, edges, "spec_lbl_local")
    assert(steps == 0, "a 22-edge graph must take the driver shortcut")
    val got = labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == truth)
  }

  test("distributed path (bound forced to 0) computes the same labels") {
    spark.conf.set("spark.graft.labels.localMaxEdges", "0")
    try {
      val (labels, steps) =
        Dedup.propagateLabelsCounted(spark, edges, "spec_lbl_dist")
      assert(steps > 0, "bound 0 must force the distributed loop")
      val got = labels.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == truth)
    } finally spark.conf.unset("spark.graft.labels.localMaxEdges")
  }

  test("distributed loop plans its joins under the caller's runtime conf") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    // every plan the loop runs (initial and adaptive re-plans) — the
    // loop's own columns (`nl1` seed, `nlbl` hops) pick them out
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => plans.add(x.physicalPlanDescription); ()
        case x: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(x.physicalPlanDescription); ()
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    spark.conf.set("spark.graft.labels.localMaxEdges", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val (labels, steps) =
        Dedup.propagateLabelsCounted(spark, edges, "spec_lbl_conf")
      assert(steps > 0, "bound 0 must force the distributed loop")
      assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == truth)
      org.apache.spark.ListenerBusAccess.drain(sc)
    } finally {
      sc.removeSparkListener(l)
      spark.conf.unset("spark.graft.labels.localMaxEdges")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    import scala.jdk.CollectionConverters._
    val loop = plans.asScala.toSeq.filter(p => p.contains("nlbl") || p.contains("nl1"))
    assert(loop.exists(_.contains("Join")), "no label-loop join plan was seen")
    assert(!loop.exists(_.contains("Broadcast")),
      "a label-loop join broadcast although the caller disabled broadcast joins")
  }

  test("empty edge table yields an empty label table on the local path") {
    val none = edges.filter(col("src") > 1000L)
    val (labels, steps) =
      Dedup.propagateLabelsCounted(spark, none, "spec_lbl_empty")
    assert(steps == 0)
    assert(labels.count() == 0L)
  }
}
