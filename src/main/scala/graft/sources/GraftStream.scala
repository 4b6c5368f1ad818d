package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2,
  ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.StreamingFrame
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** `spark.readStream.format("graft")` — the versioned table as a
  * STREAMING SOURCE: the commit markers are the offset log (offset =
  * committed version number), and each micro-batch is the change-feed
  * slice `(lastSeen, current]` — so "tail this table" needs only the
  * format string, the same move Delta's streaming source makes. Built
  * on the V1 `Source` contract for the same reason the batch side chose
  * the V1 relation: `getBatch` returns a DataFrame, so the slice is the
  * SAME distributed plan [[GraftTable.changes]] already builds (churn-
  * sized per step, full-outer join of immutable snapshots) — a DSv2
  * `MicroBatchStream` would have to re-own partition planning and row
  * decode for a frame Spark can already plan whole.
  *
  * Modes:
  *  - default: each batch carries the POST-IMAGE rows of changed keys
  *    (inserts + update postimages) in the table's schema — the "follow
  *    the upserts" stream a downstream materializer wants. Deletes do
  *    not appear (there is no row to emit); consumers that need them
  *    subscribe to the feed instead.
  *  - `readChangeFeed=true`: the full CDF rows (`_change_type` with
  *    both update images, `_commit_version`) — Delta's streaming CDF
  *    shape.
  *
  * `maxStepsPerTrigger` bounds a micro-batch to that many version
  * steps (the opening earliest-snapshot counts as one) — the Delta
  * maxFilesPerTrigger move: a consumer resuming after downtime drains
  * its backlog in bounded batches instead of one monster slice.
  *
  * `startingVersion`: `"earliest"` (default) replays history — the
  * first batch opens with the EARLIEST RETAINED version's snapshot as
  * 'insert' rows (commit version = that version), then every retained
  * step after it; an integer v means "the consumer has already seen
  * version v" (the stream begins at step v+1); `"latest"` means only
  * versions committed after the stream starts.
  *
  * Offsets are committed versions, so checkpoint recovery is exact: a
  * replayed batch re-derives the SAME slice from the SAME immutable
  * versions — determinism is the table's own immutability. The one
  * retention caveat (documented, loud): a consumer that falls more than
  * the vacuum retention behind fails with the vacuumed-version error
  * rather than silently skipping steps; likewise the earliest-snapshot
  * opening batch re-reads the CURRENT earliest retained version on a
  * replay, so vacuum racing a not-yet-committed FIRST batch can move
  * its base — keep retention ≥ checkpoint lag, the same contract Delta
  * ships.
  *
  * The source schema is fixed at stream start (current table schema,
  * plus the CDF columns in feed mode); steps from before a schema
  * evolution project onto it with typed nulls, steps after one must not
  * have dropped columns (a select on the missing column fails loudly —
  * restart the stream to pick up a new schema, Delta's rule).
  */
private[graft] final class GraftStreamSource(spark: SparkSession,
    table: GraftTable, cdf: Boolean, startVal: Long,
    maxSteps: Option[Int], metadataPath: String,
    override val schema: StructType) extends Source
    with SupportsTriggerAvailableNow {

  private def ver(o: OffsetV1): Long = o.json.trim.toLong

  // ── rate limiting (maxStepsPerTrigger) ──────────────────────────────
  // The engine's offset log records what was PLANNED, but a V1 source's
  // getOffset cannot see it — so a rate-limited source must remember its
  // own high-water mark across restarts or a restart would re-plan from
  // the start position and log offsets BACKWARD (re-emitting committed
  // slices). The mark lives as create-exclusive `planned.<v>` files
  // under the source's checkpoint metadata dir (recovery reads the max;
  // stale marks are swept after a newer one lands, so there is never a
  // window with no mark on disk — the FileStreamSource discipline,
  // sized to one long). Inert when the option is unset: no per-trigger
  // metadata IO on the unlimited path.
  private lazy val metaFs = {
    val p = new org.apache.hadoop.fs.Path(metadataPath)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(p)
    f
  }

  @volatile private var planned: Long = Long.MinValue

  private def loadPlanned(): Long = {
    val dir = new org.apache.hadoop.fs.Path(metadataPath)
    val marks = metaFs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("planned.")).map(_.drop(8).toLong)
    if (marks.isEmpty) startVal else marks.max
  }

  private def advancePlanned(v: Long): Unit = {
    val dir = new org.apache.hadoop.fs.Path(metadataPath)
    val mark = new org.apache.hadoop.fs.Path(dir, s"planned.$v")
    metaFs.create(mark, false).close() // exclusive: double-create is loud
    metaFs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("planned.") &&
        p.getName.drop(8).toLong < v)
      .foreach(p => metaFs.delete(p, false))
    planned = v
  }

  // Trigger.AvailableNow: the engine asks the source to latch "all the
  // data that exists right now" and drain exactly that, rate limits
  // still applying per batch. Implementing the interface ourselves (the
  // FileStreamSource move) matters because the engine's fallback
  // wrapper latches the source's FIRST getOffset answer — which under
  // maxStepsPerTrigger is the capped offset, so a wrapped drain would
  // stop one rate-limited batch in. MaxValue = no latch (continuous
  // triggers).
  @volatile private var availableNowTarget: Long = Long.MaxValue

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = table.currentVersion.toLong

  override def getDefaultReadLimit: ReadLimit =
    maxSteps.map(m => ReadLimit.maxRows(m.toLong))
      .getOrElse(ReadLimit.allAvailable())

  /** Newest available offset, capped at `maxStepsPerTrigger` steps past
    * the high-water mark (the opening earliest-snapshot batch counts as
    * one step) and at the AvailableNow latch. None until the chain
    * moves past what the start position already covers ("latest"
    * starts with nothing to read; "earliest" always has the snapshot).
    */
  override def getOffset: Option[OffsetV1] = {
    val cur = math.min(table.currentVersion.toLong, availableNowTarget)
    if (cur <= startVal) return None
    maxSteps match {
      case None => Some(LongOffset(cur))
      case Some(m) =>
        if (planned == Long.MinValue) planned = loadPlanned()
        val base = planned
        val capped =
          if (base < 0) math.min(cur, table.versions.head.toLong + m - 1)
          else math.min(cur, base + m)
        if (capped <= base) None
        else {
          // persist BEFORE the engine can log it: the mark on disk is
          // always ≥ any offset in the engine's log
          advancePlanned(capped)
          Some(LongOffset(capped))
        }
    }
  }

  /** The admission-control form of [[getOffset]] — the engine prefers
    * this once [[SupportsTriggerAvailableNow]] is implemented. The
    * passed start/limit are ignored in favor of the source's own
    * high-water mark and option (the FileStreamSource discipline: the
    * mark survives restarts; the engine's view may not).
    */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    getOffset.orNull

  override def reportLatestOffset(): OffsetV2 =
    LongOffset(math.min(table.currentVersion.toLong, availableNowTarget))

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val from = start.map(ver).getOrElse(startVal)
    val to = ver(end)
    val feed: DataFrame =
      if (from >= to) { // defensive: recovery edge, an empty slice
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          feedSchema)
      } else if (from < 0) {
        // opening batch of an "earliest" stream: snapshot of the
        // earliest retained version as inserts, then the steps after it
        val e = table.versions.head
        val snap = table.readAsOf(e)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(e))
        if (to > e)
          snap.unionByName(table.changes(e, to.toInt),
            allowMissingColumns = true)
        else snap
      } else table.changes(from.toInt, to.toInt)
    val shaped =
      if (cdf) project(feed, schema)
      else project(
        feed.filter(col("_change_type")
          .isin("insert", "update_postimage")), schema)
    StreamingFrame.of(spark, shaped)
  }

  /** The raw feed's column set (table columns + CDF meta) — only used
    * to type the defensive empty slice.
    */
  private def feedSchema: StructType = StructType(
    schema.fields.filterNot(f =>
      f.name == "_change_type" || f.name == "_commit_version") ++
      Seq(StructField("_change_type", StringType),
        StructField("_commit_version", IntegerType)))

  /** Project a slice onto the stream's fixed schema: absent columns
    * (steps from before an evolution) read as typed nulls; every column
    * is cast to its declared type so batch frames are shape-identical
    * across slices.
    */
  private def project(df: DataFrame, target: StructType): DataFrame = {
    val present = df.columns.toSet
    df.select(target.fields.toIndexedSeq.map { f =>
      (if (present(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }: _*)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[${table.dir}]"
}

/** `df.writeStream.format("graft")` — the versioned table as a
  * STREAMING SINK with the facade's exactly-once discipline built in:
  * micro-batch b lands as table version b+1 through
  * [[GraftTable.mergeAs]], so a checkpoint replay OVERWRITES its own
  * version from the same immutable base and converges — the s23/s27
  * foreachBatch recipe, now behind the format string where PySpark and
  * SQL users can reach it.
  *
  * Contract (loud, not implied): the table must exist (create v0 with
  * the batch writer or the facade — the resident snapshot), and this
  * stream must be its ONLY writer; the sink owns the version chain
  * (batch b ↔ version b+1), and a chain that has moved off that mapping
  * fails the batch rather than rewriting history. Rows are keyed
  * upserts; a frame carrying an `op` column is applied as a CDC
  * changelog verbatim (I/U/D — deletes at the wire), anything else is
  * wrapped as all-'U'. The merge's measured touch fraction picks the
  * write arm per tick: a tick touching few files rewrites only those —
  * the 100-TB cost model (write ∝ touched files + changelog).
  */
private[graft] final class GraftStreamSink(spark: SparkSession,
    dir: String, key: String) extends Sink {

  /** ONE table instance for the sink's lifetime: [[GraftTable]] memoizes
    * collected manifest rows per (version, commit payload), and reopening
    * per micro-batch threw that memo away every batch — a long-lived
    * stream paid the manifest parquet read + collect job per consumer
    * call per batch, forever. The memo self-invalidates on replays (the
    * commit payload carries a per-commit nonce), so holding the instance
    * is safe under checkpoint replay. Lazy so a missing table still
    * fails inside addBatch (the contract's loud path), not at sink
    * construction.
    */
  private lazy val table: GraftTable = GraftTable.open(spark, dir, key)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val t = table
    val v = Math.toIntExact(batchId + 1)
    val cur = t.currentVersion
    require(cur == v - 1 || cur == v,
      s"graft sink at $dir owns the version chain (batch b lands as " +
        s"version b+1): batch $batchId arrived with the table at v$cur, " +
        s"expected v${v - 1} (fresh) or v$v (replay). Create the table " +
        "before starting the stream and give the sink exclusive write " +
        "ownership.")
    // the incoming frame wraps the micro-batch's IncrementalExecution —
    // rewrap it as a batch frame (the ForeachBatchSink move), then pin
    // it: the merge consumes it in several jobs (touch measurement, the
    // merge itself, manifest stats) and the batch plan should run once
    val cached = StreamingFrame.batchOf(spark, data).persist()
    try {
      val log =
        if (cached.columns.contains("op")) cached
        else cached.withColumn("op", lit("U"))
      t.mergeAs(log, v)
      ()
    } finally {
      cached.unpersist()
      ()
    }
  }

  override def toString: String = s"GraftStreamSink[$dir]"
}
