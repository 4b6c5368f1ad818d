package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into a layer of the program. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long)

/** Spans around the benchmark's calls into the program, plus counters read
  * from Spark's public listener APIs and the JVM's management beans.
  *
  * Disabled (the untraced runs), `span` only runs its body. Enabled, every
  * span is kept in memory and written out when the run ends; the listeners
  * accumulate counters that the per-op metrics are differences of.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
  // The client thread's innermost open span: the parent of a span opened
  // on a thread Spark owns.
  @volatile private var clientTop = -1
  private val client = Thread.currentThread()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(clientTop)
      stack.set(id :: outer)
      if (Thread.currentThread() eq client) clientTop = id
      val t0 = System.nanoTime()
      try body
      finally {
        stack.set(outer)
        if (Thread.currentThread() eq client) clientTop = outer.headOption.getOrElse(-1)
        val sp = Span(id, parent, name, t0, System.nanoTime())
        spans.synchronized { spans += sp }
      }
    }

  def allSpans: Seq[Span] = spans.synchronized { spans.toSeq }

  /** Mean duration (s) of the spans called `name` that start in [lo, hi];
    * 0 when there is none (the workload does not call that layer). */
  def mean(name: String, lo: Long, hi: Long): Double = {
    val xs = allSpans.filter(s => s.name == name && s.startNs >= lo && s.startNs <= hi)
      .map(s => (s.endNs - s.startNs) / 1e9)
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }

  // ---- Spark listener counters (only installed when enabled) -------------

  /** Per-job interval on the System.nanoTime clock. */
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private def add(k: String, v: Long): Unit = counters.merge(k, v, _ + _)
  /** Phase durations (ms) of every streaming micro-batch that read input,
    * by batch id, from `StreamingQueryProgress.durationMs`. */
  val progress = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Long]]()
  /** Current value of every counter (stages, tasks, executor and catalyst
    * times, bytes); the per-op metrics are differences of two snapshots. */
  def snapshot(): Map[String, Long] = counters.asScala.toMap.withDefaultValue(0L)

  // Wall clock (ms) and nanoTime taken together, to map listener event
  // times (epoch ms) onto the span clock.
  private val wallBaseMs = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()
  private def toNs(epochMs: Long): Long = nanoBase + (epochMs - wallBaseMs) * 1000000L

  def install(s: SparkSession): Unit = if (enabled) {
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.put(e.jobId, toNs(e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = jobStart.remove(e.jobId)
        jobs.add((st, math.max(st, toNs(e.time))))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        add("stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        add("tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("exec_run_ms", m.executorRunTime)
          add("exec_cpu_ns", m.executorCpuTime)
          add("exec_gc_ms", m.jvmGCTime)
          add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
          add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
          add("spill", m.diskBytesSpilled + m.memoryBytesSpilled)
          add("input", m.inputMetrics.bytesRead)
          add("output", m.outputMetrics.bytesWritten)
        }
      }
    })
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          progress.put(e.progress.batchId, e.progress.durationMs.asScala.toMap
            .map { case (k, v) => k -> v.longValue })
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        addPhases(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        addPhases(qe)
    })
  }

  private def addPhases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val ns = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(p => p.durationMs * 1000000L).sum
    add("catalyst_ns", ns)
  }

  /** Length of the union of the intervals of the jobs that start in
    * [lo, hi], each taken whole (not clipped to the window). */
  def jobUnion(lo: Long, hi: Long): Long = {
    val iv = jobs.asScala.toSeq.filter { case (a, _) => a >= lo && a <= hi }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (curB < 0 || a > curB) {
        if (curB >= 0) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB >= 0) total += curB - curA
    total
  }

  def jobsIn(lo: Long, hi: Long): Int =
    jobs.asScala.count { case (a, _) => a >= lo && a <= hi }

  /** Waits (at most 10 s) until Spark's asynchronous listener buses have
    * delivered what they owe: no job is open and no counter has moved
    * for 200 ms. Counters read before that would miss late task ends. */
  def drain(): Unit = if (enabled) {
    val until = System.nanoTime() + 10000000000L
    var last = (snapshot(), jobs.size, progress.size)
    var quiet = false
    while (!quiet && System.nanoTime() < until) {
      Thread.sleep(200)
      val now = (snapshot(), jobs.size, progress.size)
      quiet = jobStart.isEmpty && now == last
      last = now
    }
  }
}

/** The JVM's own counters, read from the management beans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
  def cpuNs: Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  /** Heap in use after a full GC: the least of three GCs a little apart,
    * so blocks Spark is still releasing asynchronously are not counted. */
  def retainedHeapMb: Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}
