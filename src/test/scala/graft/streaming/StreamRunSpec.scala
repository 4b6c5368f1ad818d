package graft.streaming

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** The drain sizes its state shards on a session of its own: the
  * caller's session conf is never written, not even while the stream
  * runs, and the stateful operator still runs at the drain's count.
  */
class StreamRunSpec extends AnyFunSuite with SparkFixture {

  test("a drain runs at its own shuffle partition count without writing the caller's conf") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val key = "spark.sql.shuffle.partitions"
    assert(s.conf.get(key) == "4", "fixture default changed; the spec compares against it")

    val input = MemoryStream[Int]
    val streamed = input.toDF().groupBy((col("value") % 3).as("k")).count()

    // a listener on the caller's session must still see the drain's
    // query, once, and its state operator at the drain's count
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val stateParts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        started.incrementAndGet(); ()
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op => stateParts.add(op.numShufflePartitions))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    s.streams.addListener(listener)
    val out = try {
      val o = StreamRun.drain(s, streamed, "complete", "stream_run_spec",
        feeds = Seq(
          () => { seen.add(s.conf.get(key)); input.addData(1 to 10) },
          () => { seen.add(s.conf.get(key)); input.addData(11 to 20) }))
      ListenerBusAccess.drain(s.sparkContext)
      o
    } finally s.streams.removeListener(listener)

    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq == Seq("4", "4"),
      s"the caller's session saw the drain's partition count mid-drain: ${seen.asScala}")
    assert(s.conf.get(key) == "4")
    assert(started.get == 1, s"${started.get} query-started events for one drain")
    assert(stateParts.asScala.nonEmpty, "no state operator progress reported")
    assert(stateParts.asScala.forall(_ == 8L),
      s"state operator ran at ${stateParts.asScala.toSet} partitions, not the drain's 8")
    assert(out.sparkSession eq s, "the result is not bound to the caller's session")
    assert(out.collect().map(r => (r.getInt(0), r.getLong(1))).toMap ==
      Map(0 -> 6L, 1 -> 7L, 2 -> 7L))
  }

  test("drains leave no streaming listener bus behind") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val sc = s.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        started.incrementAndGet(); ()
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        ended.incrementAndGet(); ()
      }
    }
    s.streams.addListener(listener)
    val before = ListenerBusAccess.streamingBuses(sc)
    try (1 to 3).foreach { i =>
      val input = MemoryStream[Int]
      input.addData(1 to 10)
      StreamRun.drain(s, input.toDF().groupBy((col("value") % 2).as("k")).count(),
        "complete", s"stream_run_bus_$i")
      // the drain delivered its events before detaching: the caller's
      // listener has seen this query start and terminate already
      assert((started.get, ended.get) == ((i, i)),
        s"after drain $i the caller's listener saw ${started.get} starts, ${ended.get} ends")
    } finally s.streams.removeListener(listener)
    assert(ListenerBusAccess.streamingBuses(sc) == before,
      s"three drains left ${ListenerBusAccess.streamingBuses(sc) - before} listener buses behind")
  }
}
