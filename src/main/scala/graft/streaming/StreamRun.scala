package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

import java.util.concurrent.atomic.AtomicInteger

/** The one memory-sink drain lifecycle, shared by the gate entries
  * ([[StreamQueries]]) and the parity harness ([[StreamParity]]): start
  * the query on a uniquely-named sink, apply each feed step and drain
  * between them, stop, and hand back the sink rows as a DataFrame that
  * outlives the dropped temp view (persisted + tracked under `name` so
  * repeated bench/verify invocations replace rather than accumulate).
  */
private[streaming] object StreamRun {

  private val runId = new AtomicInteger()

  /** The drain's private session and the streamed plan re-bound to it.
    *
    * Stateful streaming ops allocate one state store PER shuffle
    * partition per operator (a stream-stream join allocates four) and
    * pay their checkpoint/commit overhead per micro-batch; at the gate's
    * data sizes that fixed cost dwarfs the work, so the drain runs with
    * fewer partitions — but a BIG drain (sf10's 20M-event feeds) is the
    * opposite regime: the stateful phase is CPU-bound on per-row object
    * work and 8 state partitions cap it at 8 threads. Callers that know
    * their feed size pass `inputBytes` and the drain scales its state
    * shard count with the data (~one shard per 2 MB of feed, clamped to
    * [8, session default]) — the spill-aware sizing rule: partition
    * count follows data volume, and results are partition-count
    * invariant (keyed state and aggregates don't care how keys shard).
    *
    * The count is set on a CLONE of the caller's session (shared
    * context and caches; a copy of its runtime conf, so a state-store
    * provider the caller set still applies) that the query starts
    * from, so the caller's session never sees it: a concurrent plan
    * build or stream on the caller's session keeps its own value, and
    * nothing is restored while the stream thread may still be
    * capturing confs. The caller's streaming listeners are registered
    * on the clone too, so they still see the drain's progress. On a
    * real cluster this knob sizes state shards to executors as usual.
    */
  private def runSession(spark: SparkSession, streamed: DataFrame,
                         inputBytes: Long): (SparkSession, DataFrame) = {
    val key = "spark.sql.shuffle.partitions"
    val parts =
      if (inputBytes <= 0L) 8L
      else math.max(8L, math.min(spark.conf.get(key).toLong,
        inputBytes / (2L * 1024 * 1024)))
    val run = GraftSqlBridge.cloneSession(spark)
    run.conf.set(key, parts.toString)
    spark.streams.listListeners().foreach(run.streams.addListener)
    (run, GraftSqlBridge.ofRows(run, GraftSqlBridge.logicalPlan(streamed)))
  }

  /** [[drain]] for append-mode legs whose RESULT is large (sf10's
    * sessionization emits millions of sessions, the dedup leg re-emits
    * the whole feed): the memory sink appends every result row into one
    * driver-side buffer — a single-threaded collect that dwarfs the
    * operator at scale — so these legs sink to PARQUET instead (the s17
    * transport shape: transactional file sink + checkpoint) and hand
    * back a distributed scan of the committed files. Identical rows,
    * identical oracle hashes; the result never funnels through the
    * driver. `scratch` must be a per-(leg, corpus) dir — it is wiped at
    * start so a rerun sees a fresh sink+checkpoint, never a resumed one.
    */
  def drainToFiles(spark: SparkSession, streamed: DataFrame,
                   name: String, scratch: String,
                   inputBytes: Long = -1L): DataFrame = {
    graft.operators.Lake.deleteTree(java.nio.file.Paths.get(scratch))
    val (_, onRun) = runSession(spark, streamed, inputBytes)
    val q = onRun.writeStream.format("parquet")
      .option("path", s"$scratch/out")
      .option("checkpointLocation", s"$scratch/ckpt")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val outPath = java.nio.file.Paths.get(scratch, "out")
    val out =
      if (java.nio.file.Files.isDirectory(outPath))
        spark.read.parquet(outPath.toString)
      else // zero committed batches: an empty frame in the stream's shape
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          streamed.schema)
    graft.Caching.persistTracked(name, out)
    out
  }

  def drain(spark: SparkSession, streamed: DataFrame, mode: String,
            name: String, feeds: Seq[() => Unit] = Seq.empty,
            inputBytes: Long = -1L): DataFrame = {
    val sink = s"${name}_${runId.incrementAndGet()}"
    val (run, onRun) = runSession(spark, streamed, inputBytes)
    val q = onRun.writeStream.format("memory").queryName(sink)
      .outputMode(mode).start()
    try {
      if (feeds.isEmpty) q.processAllAvailable()
      else feeds.foreach { f => f(); q.processAllAvailable() }
    } finally q.stop()
    // the sink's temp view lives in the session that started the query;
    // the result is handed back bound to the caller's session
    val out = GraftSqlBridge.ofRows(spark, GraftSqlBridge.logicalPlan(run.table(sink)))
    graft.Caching.persistTracked(name, out)
    run.catalog.dropTempView(sink)
    out
  }
}
