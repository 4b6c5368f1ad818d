package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Schema-aware loaders for the driver-provided parquet tables.
  *
  * All loads are plain `spark.read.parquet` so Catalyst keeps full
  * pushdown/pruning freedom; nothing is cached or materialized here.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events.ts` has shifted physical encodings across driver testdata
    * generations — parquet TIMESTAMP(NANOS) (readable only via
    * `nanosAsLong`, as a raw Long of epoch nanoseconds; [[graft.GraftSession]]
    * sets it when the session is built) and plain
    * microsecond timestamps without the UTC flag (which Spark infers as
    * TIMESTAMP_NTZ). The engine's canonical lake shape is `ts` = epoch
    * NANOSECONDS as a Long: every loader normalizes to it so downstream
    * code (sentinel writers, the Kafka wire encoder, oracles) never
    * branches on the file's encoding. `ts_us` (epoch microseconds, floor
    * division — matches the oracles' `epoch_ns(ts)//1000`) rides along
    * for all bucketing/gap math.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    withTsUs(load(spark, dir, "events"))

  /** Epoch-nanos Column from whatever physical type the file carries.
    * The NTZ branch casts through TIMESTAMP under the session timezone —
    * pinned to UTC in [[graft.GraftSession]], so the wall-clock value IS
    * the epoch instant, exactly how DuckDB's `epoch_ns` reads the same
    * naive column.
    */
  private def tsNanos(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType         => col("ts")
    case TimestampNTZType => unix_micros(col("ts").cast(TimestampType)) * lit(1000L)
    case _                => unix_micros(col("ts")) * lit(1000L)
  }

  /** Rewrites `ts` to the canonical nanos-long shape (no-op when the file
    * already reads as Long).
    */
  def normalizeTs(df: DataFrame): DataFrame = df.withColumn("ts", tsNanos(df))

  /** The ts normalization + ts_us lifting, shared with the streaming
    * readers so batch twins, oracles, and streams all derive event time
    * identically.
    */
  def withTsUs(df: DataFrame): DataFrame =
    normalizeTs(df).withColumn("ts_us", expr("ts DIV 1000"))

  /** Content stamp for a table under `dir` — the cache key for every
    * train-once/probe-many memo (BPE model, dup-cluster labels). Digests
    * size + first/last 64 KiB of each data file (parquet footers live in
    * the tail, so a regenerated file of identical byte length still
    * changes the stamp — mtime granularity can't fool it), over the
    * sorted file list when the table is a directory. Missing tables fail
    * with a clear error instead of a raw FileNotFoundException. IO
    * routes through the Hadoop FileSystem resolved from the table's own
    * URI (the GraftTable discipline — `dir` may be any configured lake
    * scheme); FSDataInputStream.readFully owns the short-read loop a
    * positional read otherwise needs, and an unstable stamp would mean
    * spurious retrains / mismatched memo keys.
    */
  def stamp(dir: String, name: String): String = {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    val root = new HPath(s"$dir/$name.parquet")
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root))
      throw new IllegalArgumentException(
        s"table $name not found under $dir (expected $root)")
    val md = java.security.MessageDigest.getInstance("MD5")
    def digestFile(st: FileStatus): Unit = {
      val size = st.getLen
      md.update(st.getPath.getName.getBytes("UTF-8"))
      md.update(java.nio.ByteBuffer.allocate(8).putLong(size).array())
      val in = fs.open(st.getPath)
      try {
        val head = new Array[Byte](math.min(size, 65536L).toInt)
        in.readFully(0L, head); md.update(head)
        if (size > 65536L) {
          val pos = math.max(65536L, size - 65536L)
          val tail = new Array[Byte]((size - pos).toInt)
          in.readFully(pos, tail); md.update(tail)
        }
      } finally in.close()
    }
    val rootStatus = fs.getFileStatus(root)
    if (rootStatus.isDirectory)
      fs.listStatus(root).toSeq
        .filter(_.isFile)
        .filterNot(_.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName)
        .foreach(digestFile)
    else digestFile(rootStatus)
    s"$dir|$name|" + md.digest().map("%02x".format(_)).mkString
  }
}
