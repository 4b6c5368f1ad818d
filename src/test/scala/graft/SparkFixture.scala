package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Spark allows a single
  * context; getOrCreate makes every suite reuse it).
  */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val SfDir = "/root/testdata/sf0.001"
}

trait SparkFixture {
  def spark: SparkSession = SparkFixture.spark
  def sfDir: String = SparkFixture.SfDir

  /** `body`'s result and the number of Spark jobs started while it ran.
    * The listener bus is drained before the counting listener registers
    * and again before the count is read, since job events arrive
    * asynchronously; the count covers every job of the session, so run
    * nothing concurrently.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.ListenerBusAccess.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}
