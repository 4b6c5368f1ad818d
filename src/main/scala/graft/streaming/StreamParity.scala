package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.sql.Timestamp
import java.time.Instant

/** Machine-readable stream-vs-batch parity: every streaming operator
  * (s01–s19) run over a deterministic MemoryStream feed whose results are
  * compared row-for-row with the equivalent batch computation on the same
  * data. `Verify` serializes the results next to the oracle dump. All
  * nineteen entries are ALSO driver-gate entries (seventeen
  * DuckDB-oracle-checked; s14/s18 rows-only like their batch twins —
  * [[StreamQueries]]); this harness remains the independent cross-check
  * that drives the moving-watermark paths (append-mode window
  * finalization, timeout flushes, cross-batch dedup, kafka-shape decode,
  * stream-static enrichment) and the intake-side LLM-pipeline legs
  * (incremental dedup verdicts, quality filter, mixture sampling,
  * boilerplate scrub, semantic dedup, benchmark decontamination) on
  * hand-built feeds with known answers.
  *
  * All timestamps derive from explicit UTC instants — host-timezone
  * independent by construction.
  */
object StreamParity {

  final case class Result(op: String, streamRows: Long, batchRows: Long, ok: Boolean)

  private def ts(minutesFromBase: Long): Timestamp =
    Timestamp.from(Instant.parse("2024-01-01T10:00:00Z")
      .plusSeconds(minutesFromBase * 60))

  /** Deterministic event feed: 3 users, sessions split by >30-min gaps. */
  private def feed: Seq[(Long, Timestamp, String, Double)] = Seq(
    (1L, ts(0), "click", 1.0), (1L, ts(10), "buy", 2.5), (1L, ts(20), "click", 0.5),
    (1L, ts(70), "click", 4.0), (1L, ts(75), "buy", 1.25), // session 2 (50-min gap)
    (2L, ts(5), "click", 3.0),
    (2L, ts(50), "buy", 7.0), (2L, ts(55), "click", 0.125), // session 2 (45-min gap)
    (3L, ts(30), "signup", 2.0), (3L, ts(95), "purchase", 6.0) // session 2 (65-min gap)
  )

  private def drain(spark: SparkSession, name: String, streamed: DataFrame,
                    mode: String, feeds: Seq[() => Unit]): Seq[org.apache.spark.sql.Row] =
    StreamRun.drain(spark, streamed, mode, name, feeds).collect().toSeq

  /** Batch gap-sessionization twin (the q25 shape) over (user_id, ts_us, value). */
  private def batchSessions(df: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("ts_us")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("prev_us", lag("ts_us", 1).over(wOrd))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
             col("ts_us") - col("prev_us") > StreamOps.SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum("new_sess").over(wCum))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
           expr("min(ts_us) DIV 1000000").as("start_s"),
           expr("(max(ts_us) - min(ts_us)) DIV 1000000").as("dur_s"),
           round(sum("value") + lit(1e-6), 2).as("session_value"))
  }

  /** Batch twin of the windowed aggregation over (ts, event_type, value) —
    * shared by the s01 (typed feed) and s06 (kafka wire feed) blocks.
    */
  private def batchWindows(df: DataFrame): Set[(Long, String, Long, Double)] =
    df.groupBy((floor(unix_timestamp(col("ts")) / 3600) * 3600).as("hour_s"),
               col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value") + lit(1e-6), 2).as("tv"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

  def run(spark: SparkSession): Seq[Result] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val sentinel = ts(60L * 24 * 2) // two days out: closes every real window

    // --- s01: append-mode windows under a moving watermark ---------------
    val s01 = {
      val in = MemoryStream[(Timestamp, String, Double)]
      val streamed = drain(spark, "parity_s01",
        StreamOps.tumblingWindows(in.toDF().toDF("ts", "event_type", "value")),
        "append",
        Seq(() => { in.addData(feed.map(e => (e._2, e._3, e._4))); () },
            () => { in.addData((sentinel, "zz_sentinel", 0.0)); () }))
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = batchWindows(
        feed.map(e => (e._2, e._3, e._4)).toDF("ts", "event_type", "value"))
      Result("s01_stream_windows", streamed.size, batch.size, streamed == batch)
    }

    // --- s02: gap-emission sessionization (open sessions stay open) ------
    val s02 = {
      val in = MemoryStream[StreamEvent]
      val streamed = drain(spark, "parity_s02",
        StreamOps.sessionize(in.toDS()).toDF(),
        "append",
        Seq(() => { in.addData(feed.map(e =>
          StreamEvent(e._1, e._3, e._2.toInstant.toEpochMilli * 1000L, e._4))); () }))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                   r.getLong(4), r.getDouble(5))).toSet
      // gap emission only closes a session when a LATER event arrives:
      // the batch twin drops each user's final (still-open) session
      val all = batchSessions(feed.map(e =>
          (e._1, e._2.toInstant.toEpochMilli * 1000L, e._4))
        .toDF("user_id", "ts_us", "value"))
      val lastIds = all.groupBy("user_id").agg(max("session_id").as("last_id"))
      val batch = all.join(lastIds, "user_id")
        .filter(col("session_id") < col("last_id"))
        .select("user_id", "session_id", "n_events", "start_s", "dur_s", "session_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                             r.getLong(4), r.getDouble(5))).toSet
      Result("s02_stream_sessions", streamed.size, batch.size, streamed == batch)
    }

    // --- s04: timeout sessionization (every session eventually flushes) --
    val s04 = {
      val in = MemoryStream[(Long, Timestamp, Double)]
      val streamed = drain(spark, "parity_s04",
        StreamOps.sessionizeWithTimeout(
          in.toDF().toDF("user_id", "ts", "value")).toDF(),
        "append",
        Seq(() => { in.addData(feed.map(e => (e._1, e._2, e._4))); () },
            // watermark rides forward on a sentinel user, then one more
            // batch so the armed event-time timeouts actually fire
            () => { in.addData((999L, sentinel, 0.0)); () },
            () => { in.addData((999L, ts(60L * 24 * 2 + 1), 0.0)); () }))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                   r.getLong(4), r.getDouble(5)))
        .filter(_._1 != 999L).toSet
      val batch = batchSessions(feed.map(e =>
          (e._1, e._2.toInstant.toEpochMilli * 1000L, e._4))
        .toDF("user_id", "ts_us", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                             r.getLong(4), r.getDouble(5))).toSet
      Result("s04_stream_sessions_timeout", streamed.size, batch.size, streamed == batch)
    }

    // --- s03: dedup across micro-batches ---------------------------------
    val s03 = {
      val in = MemoryStream[(Long, Timestamp, String)]
      val streamed = drain(spark, "parity_s03",
        StreamOps.dedupStream(in.toDF().toDF("event_id", "ts", "event_type")),
        "append",
        Seq(() => { in.addData((1L, ts(0), "click"), (2L, ts(1), "click"), (1L, ts(0), "click")); () },
            () => { in.addData((1L, ts(0), "click"), (3L, ts(2), "buy")); () }))
        .map(r => r.getLong(0)).sorted
      Result("s03_stream_dedup", streamed.size, 3, streamed == Seq(1L, 2L, 3L))
    }

    // --- s05: stream-stream interval join --------------------------------
    val s05 = {
      val pIn = MemoryStream[(Long, Timestamp, Long)]
      val sIn = MemoryStream[(Long, Timestamp, Long)]
      val streamed = drain(spark, "parity_s05",
        StreamOps.intervalJoin(
          pIn.toDF().toDF("p_user", "p_ts", "p_id"),
          sIn.toDF().toDF("s_user", "s_ts", "s_id")),
        "append",
        Seq(() => {
          sIn.addData((7L, ts(0), 100L), (7L, ts(-130), 101L), (8L, ts(20), 102L))
          pIn.addData((7L, ts(30), 200L), (8L, ts(25), 201L))
          ()
        }))
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch twin on the same rows
      val p = Seq((7L, ts(30), 200L), (8L, ts(25), 201L)).toDF("p_user", "p_ts", "p_id")
      val s = Seq((7L, ts(0), 100L), (7L, ts(-130), 101L), (8L, ts(20), 102L))
        .toDF("s_user", "s_ts", "s_id")
      val batch = p.join(s, expr(
          """p_user = s_user AND s_ts <= p_ts AND
            |s_ts >= p_ts - interval 1 hour""".stripMargin))
        .select("p_id", "s_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Result("s05_stream_interval_join", streamed.size, batch.size, streamed == batch)
    }

    // --- s06: the kafka wire shape through the real adapter ---------------
    // The feed is encoded to wire bytes by toKafkaShape (batch), streamed
    // as raw payloads, decoded by fromKafkaShape, and windowed like s01 —
    // with a tombstone and a malformed payload injected mid-feed to prove
    // the decode boundary drops them without disturbing the aggregate.
    val s06 = {
      def wireBytes(rows: Seq[(Long, Long, Long, String, Double)]): Seq[Array[Byte]] =
        KafkaShape.toKafkaShape(
            rows.map { case (id, tsNs, u, et, v) => (id, tsNs, u, et, v, null.asInstanceOf[String]) }
              .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
          .select("value").collect().map(_.getAs[Array[Byte]](0)).toSeq
      def nanos(t: Timestamp): Long = t.toInstant.toEpochMilli * 1000000L
      val events = wireBytes(feed.zipWithIndex.map { case ((u, t, et, v), i) =>
        (i.toLong, nanos(t), u, et, v)
      })
      val junk = Seq(null.asInstanceOf[Array[Byte]], "not json".getBytes("UTF-8"))
      val closer = wireBytes(Seq((999L, nanos(sentinel), 9L, "zz_sentinel", 0.0)))
      val in = MemoryStream[Array[Byte]]
      val streamed = drain(spark, "parity_s06",
        StreamOps.tumblingWindows(
          KafkaShape.fromKafkaShape(in.toDF().toDF("value"))
            .select(col("ts"), col("event_type"), col("value"))),
        "append",
        Seq(() => { in.addData(events ++ junk); () },
            () => { in.addData(closer); () }))
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = batchWindows(
        feed.map(e => (e._2, e._3, e._4)).toDF("ts", "event_type", "value"))
      Result("s06_stream_kafka_windows", streamed.size, batch.size, streamed == batch)
    }

    // --- s07: stream-static enrichment under a moving watermark ----------
    val s07 = {
      val dim = Seq((1L, "RETAIL"), (2L, "RETAIL"), (3L, "WHOLESALE"))
        .toDF("c_custkey", "c_mktsegment")
      val in = MemoryStream[(Timestamp, Long, Double)]
      val streamed = drain(spark, "parity_s07",
        StreamOps.enrichWindows(in.toDF().toDF("ts", "user_id", "value"), dim),
        "append",
        Seq(() => { in.addData(feed.map(e => (e._2, e._1, e._4))); () },
            // a sentinel user ABSENT from the dim: the inner join must
            // drop it while its timestamp still rides the watermark
            // forward to finalize every real window
            () => { in.addData((sentinel, 999L, 0.0)); () }))
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = feed.map(e => (e._2, e._1, e._4)).toDF("ts", "user_id", "value")
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy((floor(unix_timestamp(col("ts")) / 3600) * 3600).as("hour_s"),
                 col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum("value") + lit(1e-6), 2).as("tv"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      Result("s07_stream_enrich", streamed.size, batch.size, streamed == batch)
    }

    // --- s08: hopping windows under a moving watermark --------------------
    val s08 = {
      val in = MemoryStream[(Timestamp, String, Double)]
      val streamed = drain(spark, "parity_s08",
        StreamOps.hoppingWindows(in.toDF().toDF("ts", "event_type", "value")),
        "append",
        Seq(() => { in.addData(feed.map(e => (e._2, e._3, e._4))); () },
            () => { in.addData((sentinel, "zz_sentinel", 0.0)); () }))
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      // batch twin: each event in its two slide-grid windows
      val batch = feed.flatMap { e =>
        val sec = e._2.toInstant.getEpochSecond
        Seq(0L, 1800L).map(off => (sec / 1800 * 1800 - off, e._3, e._4))
      }.toDF("win_s", "event_type", "value")
        .groupBy("win_s", "event_type")
        .agg(count(lit(1)).as("n"), round(sum("value") + lit(1e-6), 2).as("tv"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      Result("s08_stream_hopping", streamed.size, batch.size, streamed == batch)
    }

    // --- s09: content dedup on a doc stream vs the batch groups ----------
    val s09 = {
      val feed9 = Seq(
        (1L, "The quick brown fox."), (2L, "the quick   brown fox"),
        (3L, "spark shuffles partitions"), (4L, "SPARK SHUFFLES PARTITIONS;"),
        (5L, "a different document"))
      val in = MemoryStream[(Long, String)]
      val streamed = drain(spark, "parity_s09",
        StreamOps.normDedupCounts(in.toDF().toDF("doc_id", "text")),
        "complete",
        Seq(() => { in.addData(feed9.take(2)); () },
            // the variant arriving in a LATER micro-batch must still
            // collapse into the earlier fingerprint group
            () => { in.addData(feed9.drop(2)); () }))
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = feed9.toDF("doc_id", "text")
        .groupBy(md5(graft.operators.Dedup.normText(col("text")).cast("binary")))
        .agg(min("doc_id").as("k"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      Result("s09_stream_norm_dedup", streamed.size, batch.size, streamed == batch)
    }

    // --- s10: incremental dedup verdicts against a static index ----------
    // The SAME probe pipeline (Dedup.incrDedupStreamVerdicts) runs once
    // as a stream over two micro-batches and once as a batch plan over
    // identical rows — every verdict (exact_dup / near_dup / new,
    // match_id, sim) must agree. Doc ids are picked on the live 80/10/10
    // split so the arriving side really is the "test" split the gate
    // entry probes.
    val s10 = {
      import graft.operators.Dedup
      val buckets = spark.range(0, 300)
        .select(col("id"), Dedup.splitOf(Dedup.splitBucket(col("id"))).as("sp"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val idxIds = buckets.filter(_._2 != "test").map(_._1).take(3)
      val arrIds = buckets.filter(_._2 == "test").map(_._1).take(3)
      val base = "the quick brown fox jumps over the lazy dog while the " +
        "patient crow watches from a very tall oak tree near the river " +
        "bend waiting for scraps of bread"
      val near = base.replace("scraps of bread", "crumbs of bread")
      val corpus = Seq(
        (idxIds(0), base),
        (idxIds(1), "spark shuffles partitions across the cluster while " +
          "catalyst rewrites the logical plan into exchanges and scans"),
        (idxIds(2), "a completely unrelated third corpus document whose " +
          "words overlap with nothing else in this tiny index at all"),
        (arrIds(0), base), // exact dup of the index keeper
        (arrIds(1), near), // near dup (one word changed)
        (arrIds(2), "nothing resembling anything indexed appears in this " +
          "arriving document so the verdict must come back as new"))
      val (_, _, fpIdx, bandIdx, shIdx) =
        Dedup.d24ArtifactsFrom(spark, corpus.toDF("doc_id", "text"), "parity_s10")
      val arriving = corpus.filter(c => arrIds.contains(c._1))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1),
         if (r.isNullAt(2)) -1L else r.getLong(2),
         if (r.isNullAt(3)) -1.0 else r.getDouble(3))
      val in = MemoryStream[(Long, String)]
      val streamed = drain(spark, "parity_s10",
        Dedup.incrDedupStreamVerdicts(
          in.toDF().toDF("doc_id", "text"), fpIdx, bandIdx, shIdx),
        "complete",
        Seq(() => { in.addData(arriving.take(2)); () },
            // a later micro-batch must reach the same verdicts
            () => { in.addData(arriving.drop(2)); () }))
        .map(key).toSet
      val batch = Dedup.incrDedupStreamVerdicts(
          arriving.toDF("doc_id", "text"), fpIdx, bandIdx, shIdx)
        .collect().map(key).toSet
      // the feed is BUILT to exercise all three verdicts — assert that,
      // not just stream==batch (a degenerate all-"new" run would
      // otherwise pass silently)
      val verdicts = batch.map(_._2)
      Result("s10_stream_incr_dedup", streamed.size, batch.size,
        streamed == batch && verdicts == Set("exact_dup", "near_dup", "new"))
    }

    // --- s11: quality filter on the stream = quality filter in batch -----
    val s11 = {
      import graft.operators.TextAnalysis
      val docs = Seq(
        (1L, "The quick brown fox jumps over the lazy dog and then " +
          "the dog chases the fox back across the field."), // keeps
        (2L, "zzzz zz zzz"),                 // too short, no stopwords
        (3L, ("word " * 40).trim),           // repetitive: fails ok_rep
        (4L, "El rapido zorro marron salta sobre el perro perezoso " +
          "mientras la luna brilla sobre los campos de la granja."))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getBoolean(3),
         r.getBoolean(4), r.getBoolean(5), r.getBoolean(6))
      val in = MemoryStream[(Long, String)]
      val streamed = drain(spark, "parity_s11",
        TextAnalysis.qualityVerdict(in.toDF().toDF("doc_id", "text")),
        "append",
        Seq(() => { in.addData(docs.take(2)); () },
            () => { in.addData(docs.drop(2)); () }))
        .map(key).toSet
      val batch = TextAnalysis.qualityVerdict(docs.toDF("doc_id", "text"))
        .collect().map(key).toSet
      val keeps = batch.map(t => (t._1, t._7)).toMap
      Result("s11_stream_quality_filter", streamed.size, batch.size,
        streamed == batch && keeps(1L) && !keeps(2L) && !keeps(3L) && keeps(4L))
    }

    // --- s12: mixture sampling on the stream = mixture sampling in batch -
    val s12 = {
      import graft.operators.Corpus
      // skewed static corpus: many "web" docs, few "books" — the rate
      // table must keep books whole and downsample web
      val staticDocs = (1L to 40L).map(i => (i, "web")) ++
        (41L to 44L).map(i => (i, "books"))
      val rates = Corpus.mixtureRates(
        staticDocs.toDF("doc_id", "source"))
      def leg(docs: DataFrame) =
        docs.join(broadcast(rates), "source")
          .filter(Corpus.mixtureAccept(col("doc_id"), col("rate_q")))
          .select(col("doc_id"), col("source"), col("rate_q"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1), r.getLong(2))
      val in = MemoryStream[(Long, String)]
      val streamed = drain(spark, "parity_s12",
        leg(in.toDF().toDF("doc_id", "source")),
        "append",
        Seq(() => { in.addData(staticDocs.take(20)); () },
            () => { in.addData(staticDocs.drop(20)); () }))
        .map(key).toSet
      val batch = leg(staticDocs.toDF("doc_id", "source"))
        .collect().map(key).toSet
      // the accept test is a pure doc_id function, so some but not all
      // web docs survive; every books doc must
      val webKept = batch.count(_._2 == "web")
      val booksKept = batch.count(_._2 == "books")
      Result("s12_stream_mixture", streamed.size, batch.size,
        streamed == batch && booksKept == 4 && webKept > 0 && webKept < 40)
    }

    // --- s13: boilerplate scrub on the stream = scrub in batch -----------
    val s13 = {
      import graft.operators.Dedup
      val chrome = "subscribe to our newsletter for daily updates and offers"
      val bodies = Seq(
        "the actual article text discusses spark query planning in depth " +
          "and how exchanges materialize between stages",
        "another story entirely about crows solving puzzles with tools " +
          "observed by researchers over several seasons",
        "today we look at parquet encodings and why dictionary pages " +
          "compress repeated strings so well in practice",
        "a final piece on checkpointing streaming state and recovering " +
          "exactly once after an executor loss")
      // chrome appended to 3 of 4 docs => its 8-word spans clear
      // BoilerMinDocs; doc 4 must pass through untouched
      val docs = bodies.zipWithIndex.map { case (b, i) =>
        (i.toLong + 1, if (i < 3) s"$b $chrome" else b) }
      val boiler = Dedup.boilerSpanHashesFrom(spark, docs.toDF("doc_id", "text"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))
      val in = MemoryStream[(Long, String)]
      val streamed = drain(spark, "parity_s13",
        Dedup.scrubAgainst(in.toDF().toDF("doc_id", "text"), boiler),
        "append",
        Seq(() => { in.addData(docs.take(2)); () },
            () => { in.addData(docs.drop(2)); () }))
        .map(key).toSet
      val batch = Dedup.scrubAgainst(docs.toDF("doc_id", "text"), boiler)
        .collect().map(key).toSet
      val removed = batch.map(t => (t._1, t._3)).toMap
      Result("s13_stream_scrub", streamed.size, batch.size,
        streamed == batch && boiler.nonEmpty &&
          removed(1L) > 0 && removed(2L) > 0 && removed(3L) > 0 && removed(4L) == 0)
    }

    // --- s14: incremental semantic dedup on the stream = e10 in batch ----
    // A hand embedding corpus: the model trains on three index vectors,
    // the arriving side carries an exact copy (must verdict near_dup at
    // sim 1.0) and a genuinely new direction; the SAME model and index
    // assignment drive the stream and the batch, so verdicts must agree
    // row-for-row.
    val s14 = {
      import graft.operators.Similarity
      // dim matches the embeddings table (the deterministic seed-anchor
      // family the trainer starts from is built at this width)
      val dim = 64
      def vec(seed: Int): Seq[Float] =
        Seq.tabulate(dim)(j => math.sin(seed * 31.0 + j * 7.0).toFloat)
      val index = Seq((10L, vec(1)), (11L, vec(2)), (12L, vec(3)))
      val arriving = Seq(
        (20L, vec(1)),  // exact copy of index vector 10
        (21L, vec(9)),  // new direction
        (22L, vec(2)))  // exact copy of index vector 11
      val indexDF = index.toDF("vec_id", "embedding")
      val m = Similarity.e08TrainModel(spark, indexDF)
      val idx = Similarity.e10IndexAssigned(spark, m, indexDF)
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1),
         if (r.isNullAt(2)) -1L else r.getLong(2),
         if (r.isNullAt(3)) -1.0 else r.getDouble(3))
      val in = MemoryStream[(Long, Seq[Float])]
      val streamed = drain(spark, "parity_s14",
        Similarity.e10VerdictsWith(spark, m, idx,
          in.toDF().toDF("vec_id", "embedding")),
        "complete",
        Seq(() => { in.addData(arriving.take(2)); () },
            () => { in.addData(arriving.drop(2)); () }))
        .map(key).toSet
      val batch = Similarity.e10VerdictsWith(spark, m, idx,
          arriving.toDF("vec_id", "embedding"))
        .collect().map(key).toSet
      val byId = batch.map(t => t._1 -> t).toMap
      Result("s14_stream_semdedup", streamed.size, batch.size,
        streamed == batch &&
          byId(20L)._2 == "near_dup" && byId(20L)._4 == 1.0 &&
          byId(22L)._2 == "near_dup" && byId(22L)._4 == 1.0 &&
          byId(21L)._2 == "new")
    }

    // --- s15: decontamination at the intake = d16's verdict in batch -----
    // A hand corpus with planted overlap: the bench list comes from two
    // "benchmark" docs; the arriving side carries a verbatim copy
    // (overlap 1.0), a 40% overlap (flagged), a one-shingle graze
    // (below the 0.2 threshold) and a disjoint doc. Stream and batch
    // run ONE shared definition (decontamVerdicts), so the flags and
    // ratios must agree row-for-row.
    val s15 = {
      import graft.operators.Dedup
      def run(tag: String, n: Int): String =
        (0 until n).map(i => s"w${tag}_$i").mkString(" ")
      val benchDocs = Seq((100L, run("a", 12)), (101L, run("b", 12)))
      val arriving = Seq(
        (1L, run("a", 12)),                              // verbatim: 1.0
        (2L, run("a", 6) + " " + run("c", 6)),           // 4/10 = 0.4
        (3L, run("d", 5) + " wb_0 wb_1 wb_2 " + run("e", 4)), // 1/10
        (4L, run("f", 12)))                              // disjoint
      val bench = Dedup.benchShingleListFrom(benchDocs.toDF("doc_id", "text"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val in = MemoryStream[(Long, String)]
      val streamed = drain(spark, "parity_s15",
        Dedup.decontamVerdicts(in.toDF().toDF("doc_id", "text"), bench),
        "append",
        Seq(() => { in.addData(arriving.take(2)); () },
            () => { in.addData(arriving.drop(2)); () }))
        .map(key).toSet
      val batch = Dedup.decontamVerdicts(arriving.toDF("doc_id", "text"), bench)
        .collect().map(key).toSet
      val flagged = batch.map(_._1)
      Result("s15_stream_decontam", streamed.size, batch.size,
        streamed == batch && flagged == Set(1L, 2L) &&
          batch.find(_._1 == 1L).exists(_._4 == 1.0) &&
          batch.find(_._1 == 2L).exists(_._4 == 0.4))
    }

    // --- s16: decile gate at the intake = d33's filter in batch ----------
    // Hand corpus with exactly-known deciles: web carries token counts
    // 1..10 (cuts 1.9, 2.8, …, 9.1 → the gate keeps 8, 9, 10), books
    // carries 10..50 by tens (cuts 14, 18, …, 46 → keeps 40, 50). The
    // cut table comes from the STATIC corpus; stream and batch share
    // one definition (withNTok/withDecile), so survivors must agree
    // row-for-row — and the expected survivor set is asserted exactly.
    val s16 = {
      import graft.operators.TextAnalysis
      def words(k: Int): String = (1 to k).map(_ => "tok").mkString(" ")
      val staticDocs =
        (1 to 10).map(i => (i.toLong, "web", words(i))) ++
          (1 to 5).map(i => (100L + i, "books", words(10 * i)))
      val cuts = TextAnalysis.decileCuts(TextAnalysis.withNTok(
        staticDocs.toDF("doc_id", "source", "text")))
      def leg(docs: DataFrame) =
        TextAnalysis.withDecile(TextAnalysis.withNTok(docs), cuts)
          .filter(col("decile") >= 8)
          .select(col("doc_id"), col("source"), col("n_tok"), col("decile"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))
      val in = MemoryStream[(Long, String, String)]
      val streamed = drain(spark, "parity_s16",
        leg(in.toDF().toDF("doc_id", "source", "text")),
        "append",
        Seq(() => { in.addData(staticDocs.take(7)); () },
            () => { in.addData(staticDocs.drop(7)); () }))
        .map(key).toSet
      val batch = leg(staticDocs.toDF("doc_id", "source", "text"))
        .collect().map(key).toSet
      Result("s16_stream_deciles", streamed.size, batch.size,
        streamed == batch &&
          batch.map(_._1) == Set(8L, 9L, 10L, 104L, 105L))
    }

    // --- s17: lake sink round trip = the batch rows, bit-exact ----------
    // The sink leg has no transform to diverge; what parity pins is the
    // TRANSPORT: rows streamed through the partitioned parquet sink and
    // read back via its commit log must equal the batch projection
    // exactly (no loss, no duplication, partition column intact).
    val s17 = {
      val rowsIn = Seq((1L, "web", 10L), (2L, "web", 20L), (3L, "books", 30L),
        (4L, "web", 40L), (5L, "books", 50L))
      val tmp = java.nio.file.Files.createTempDirectory("graft_parity_s17")
      val in = MemoryStream[(Long, String, Long)]
      val q = in.toDF().toDF("doc_id", "source", "n_chars")
        .writeStream.format("parquet")
        .option("path", s"$tmp/lake")
        .option("checkpointLocation", s"$tmp/ckpt")
        .partitionBy("source")
        .outputMode("append")
        .start()
      try {
        in.addData(rowsIn.take(2)); q.processAllAvailable()
        in.addData(rowsIn.drop(2)); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.read.parquet(s"$tmp/lake")
        .select("doc_id", "source", "n_chars").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      Result("s17_stream_lake_sink", streamed.size, rowsIn.size,
        streamed == rowsIn.toSet)
    }

    // --- s18: trained-vocabulary tokenization = the batch counts ---------
    // Merges trained on the static hand corpus; stream and batch share
    // one definition (bpeTokenCounts) under the SAME model, so per-doc
    // token counts must agree row-for-row — and the merges must
    // actually compress (BPE tokens strictly fewer than characters).
    val s18 = {
      import graft.operators.TextAnalysis
      val staticDocs = Seq(
        (1L, "low low lower newest newest widest"),
        (2L, "aaaa aaaa lowest newest"))
      val docsDF = staticDocs.toDF("doc_id", "text")
      val merges = TextAnalysis.bpeTrain(spark, docsDF, 4)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      // vocab DELIBERATELY trained on doc 1 only: doc 2's words hit the
      // unseen-word fallback fold, so parity exercises BOTH paths
      val vocab = TextAnalysis.bpeVocab(
        docsDF.filter(col("doc_id") === 1L), merges)
      def leg(docs: DataFrame) =
        TextAnalysis.bpeTokenCounts(docs, merges, vocab)
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2))
      val in = MemoryStream[(Long, String)]
      val streamed = drain(spark, "parity_s18",
        leg(in.toDF().toDF("doc_id", "text")),
        "complete",
        Seq(() => { in.addData(staticDocs.take(1)); () },
            () => { in.addData(staticDocs.drop(1)); () }))
        .map(key).toSet
      val batch = leg(docsDF).collect().map(key).toSet
      val chars = staticDocs.map { case (id, t) =>
        id -> t.split("\\s+").map(_.length.toLong).sum }.toMap
      Result("s18_stream_bpe", streamed.size, batch.size,
        streamed == batch && merges.size == 4 &&
          batch.forall { case (id, _, nTok) => nTok < chars(id) })
    }

    // --- s19: streamed chain of CDC merges = the one-shot batch merge ----
    // What parity pins is the VERSIONING: two ticks applied through
    // foreachBatch (delete, in-place update, fresh-id insert spread
    // across both) must land exactly the state one batch cdcMerge of
    // the whole changelog produces — no lost deletes, no double
    // applies, untouched rows intact.
    val s19 = {
      val snap = Seq((1L, "web", "alpha"), (2L, "web", "beta"),
        (3L, "books", "gamma"), (4L, "web", "delta"))
      val logRows = Seq(("D", 2L, "web", "beta"),
        ("U", 3L, "books", "gamma v2"),
        ("U", 9L, "web", "epsilon"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_parity_s19")
      val snapDF = snap.toDF("doc_id", "source", "text")
      snapDF.write.mode("overwrite").parquet(s"$tmp/snap/v0")
      val in = MemoryStream[(String, Long, String, String)]
      val q = in.toDF().toDF("op", "doc_id", "source", "text")
        .writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.operators.Lake.cdcMerge(
              spark.read.parquet(s"$tmp/snap/v$id"), b)
            .write.mode("overwrite").parquet(s"$tmp/snap/v${id + 1}")
          ()
        }.start()
      try {
        in.addData(logRows.take(1)); q.processAllAvailable()
        in.addData(logRows.drop(1)); q.processAllAvailable()
      } finally q.stop()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1), r.getString(2))
      val streamed = spark.read.parquet(s"$tmp/snap/v2").collect()
        .map(key).toSet
      val batch = graft.operators.Lake.cdcMerge(snapDF,
          logRows.toDF("op", "doc_id", "source", "text")).collect()
        .map(key).toSet
      Result("s19_stream_cdc", streamed.size, batch.size,
        streamed == batch &&
          streamed == Set((1L, "web", "alpha"), (3L, "books", "gamma v2"),
                          (4L, "web", "delta"), (9L, "web", "epsilon")))
    }

    // --- s24: LM scoring at the intake = d43's score in batch ----------
    // The model trains on a hand static corpus ("abab"-family text with
    // known Laplace arithmetic — LmPerplexitySpec pins the numbers);
    // stream and batch legs share lmModel/lmScore verbatim, so the nll
    // digits must agree exactly, including the short-doc NULL policy.
    val s24 = {
      import graft.operators.TextAnalysis
      val staticDocs = Seq(
        (1L, "en", "abab"), (2L, "en", "abba"), (3L, "zh", "zzzz"))
      val m = TextAnalysis.lmModel(
        staticDocs.toDF("doc_id", "lang", "text").filter(col("lang") === "en"))
      val arriving = Seq(
        (10L, "en", "ab"), (11L, "en", "ba"), (12L, "zh", "zq"),
        (13L, "en", "x"))
      def leg(docs: DataFrame) = TextAnalysis.lmScore(docs, m)
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1), r.getInt(2),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3))
      val in = MemoryStream[(Long, String, String)]
      val streamed = drain(spark, "parity_s24",
        leg(in.toDF().toDF("doc_id", "lang", "text")),
        "append",
        Seq(() => { in.addData(arriving.take(2)); () },
            () => { in.addData(arriving.drop(2)); () }))
        .map(key).toSet
      val batch = leg(arriving.toDF("doc_id", "lang", "text"))
        .collect().map(key).toSet
      Result("s24_stream_lm_score", streamed.size, batch.size,
        streamed.map(_._1) == batch.map(_._1) &&
          streamed.map(t => (t._1, t._2, t._3)) ==
            batch.map(t => (t._1, t._2, t._3)) &&
          // NaN != NaN under ==; compare nll digits via bit pattern
          streamed.map(t => (t._1, java.lang.Double.doubleToLongBits(t._4))) ==
            batch.map(t => (t._1, java.lang.Double.doubleToLongBits(t._4))) &&
          batch.exists(t => t._1 == 13L && t._4.isNaN))
    }

    Seq(s01, s02, s03, s04, s05, s06, s07, s08, s09, s10, s11, s12, s13,
        s14, s15, s16, s17, s18, s19, s24)
  }
}
