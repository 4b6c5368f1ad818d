package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.OpDef
import graft.sources.Tables

/** Lake maintenance — the table-layout operations a 100-TB parquet lake
  * lives or dies by. Ingest writes what arrives (one file per micro-batch
  * per task: thousands of small files, every one of them a scan task and a
  * namenode entry); maintenance rewrites what queries read (partition-
  * aligned, few large files, clustered on the predicate columns so
  * min/max pruning works). The reference's storage layer rewrites
  * per-realm snapshots on every ingest tick for the same reason — readers
  * see the compacted form, never the arrival debris.
  */
object Lake {

  /** Deterministic scratch root per (operator, input dir) — stable within
    * one JVM so re-runs overwrite instead of accumulating, but namespaced
    * so neither of the two sharing hazards can occur: the dir component is
    * a full SHA-256 (not 32-bit hashCode, which collides across dirs) and
    * the path carries a per-process token, so two concurrent JVMs gating
    * the same data dir never race each other's deleteTree/Overwrite.
    * Nothing is ever written outside the JVM temp dir; this process's
    * roots are swept by a shutdown hook.
    */
  private val procToken: String =
    java.lang.Long.toHexString(ProcessHandle.current.pid)

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private val scratchRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  private lazy val sweepHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchRoots.forEach { p =>
        try deleteTree(p) catch { case _: Exception => () }
      }))

  private[graft] def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }

  private[graft] def scratch(tag: String, d: String): String = {
    val h = sha256Hex(d).take(16)
    val base = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_${procToken}_${tag}_$h")
    sweepHook
    scratchRoots.add(base)
    base.toString
  }

  /** The ingest-debris form: 64 arrival-order files, every file spanning
    * every month — the layout that makes EVERY month-filtered query scan
    * EVERY file.
    */
  private[graft] def writeRawDebris(s: SparkSession, d: String): String = {
    val base = scratch("l01", d)
    Tables.orders(s, d)
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      .repartition(64, col("o_orderkey"))
      .write.mode(SaveMode.Overwrite).parquet(s"$base/raw")
    base
  }

  /** Compaction: one shuffle keyed on the partition column, so each month
    * lands in exactly one task → exactly one file per month directory.
    * After this, a month-filtered read prunes to ONE file by directory
    * alone (no footer reads), and full scans read ~#months files instead
    * of #months x #arrival-batches.
    */
  private[graft] def compact(s: SparkSession, base: String): Unit =
    s.read.parquet(s"$base/raw")
      .repartition(col("month"))
      .sortWithinPartitions("o_orderdate", "o_orderkey")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("month")
      .parquet(s"$base/compacted")

  /** Morton/Z-value bit interleave of two PRE-BUCKETED columns (each in
    * [0, 2^bits)): bit i of `a` lands at z-bit 2i, bit i of `b` at
    * 2i+1. Pure shifts/masks/adds — stays inside whole-stage codegen.
    */
  private[graft] def zValue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc + shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }

  /** The l02 working set: the lineitem columns the two filter dimensions
    * (part, supplier) query together.
    */
  private[graft] def l02Cols(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_partkey",
      "l_suppkey", "l_quantity", "l_extendedprice", "l_shipdate")

  /** Z-order write: normalize both keys to 8-bit buckets (integer DIV by
    * the key's own max — rank-like for TPC-H's uniform keys, and the
    * normalization is what makes the interleave balanced when the two
    * dims have different bit widths), interleave, range-partition on the
    * z-value into `files` contiguous z-ranges, sort within each. Every
    * output file then covers a BOUNDED range of BOTH keys (a rectangle
    * of the 2-D key space), so per-file/row-group min-max stats prune
    * point or range predicates on EITHER dimension — the property a
    * single-column sort gives only to its own column.
    */
  private[graft] def writeZOrdered(df: DataFrame, files: Int,
      path: String): Unit = {
    val stats = df.agg(max("l_partkey").as("pmax"), max("l_suppkey").as("smax"))
    df.crossJoin(broadcast(stats))
      .withColumn("pb", expr("CAST(l_partkey * 256 DIV (pmax + 1) AS BIGINT)"))
      .withColumn("sb", expr("CAST(l_suppkey * 256 DIV (smax + 1) AS BIGINT)"))
      .withColumn("z", zValue(col("pb"), col("sb"), 8))
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions("z")
      .drop("pb", "sb", "z", "pmax", "smax")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** l18/s29/s32's shared oracle CTEs: the deterministic changelog
    * landed as two parity-split merges, each step's changes derived by
    * full-outer join, updates emitting both images — the CDF's DuckDB
    * twin up to the final projection (`cf` holds the feed rows).
    */
  private val duckChangeFeedCte: String = {
    def b(id: String) =
      s"('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 15))::BIGINT % 100"
    s"""WITH v0 AS (SELECT doc_id, source, text FROM documents),
       |log AS (
       |  SELECT 'D' AS op, doc_id, source, text
       |  FROM v0 WHERE ${b("doc_id")} < 8
       |  UNION ALL
       |  SELECT 'U', doc_id, source, text || ' (rev 2)'
       |  FROM v0 WHERE ${b("doc_id")} >= 8 AND ${b("doc_id")} < 16
       |  UNION ALL
       |  SELECT 'U', doc_id + 1000000000, source, text || ' (new)'
       |  FROM v0 WHERE ${b("doc_id")} >= 16 AND ${b("doc_id")} < 24),
       |e AS (SELECT * FROM log WHERE doc_id % 2 = 0),
       |o AS (SELECT * FROM log WHERE doc_id % 2 = 1),
       |v1 AS (
       |  SELECT doc_id, source, text FROM v0
       |  WHERE doc_id NOT IN (SELECT doc_id FROM e)
       |  UNION ALL SELECT doc_id, source, text FROM e WHERE op = 'U'),
       |v2 AS (
       |  SELECT doc_id, source, text FROM v1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM o)
       |  UNION ALL SELECT doc_id, source, text FROM o WHERE op = 'U'),
       |d1 AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         a.text AS a_text, b.text AS b_text
       |  FROM v0 a FULL OUTER JOIN v1 b ON a.doc_id = b.doc_id
       |  WHERE a.doc_id IS NULL OR b.doc_id IS NULL
       |     OR a.text <> b.text OR a.source <> b.source),
       |d2 AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         a.text AS a_text, b.text AS b_text
       |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
       |  WHERE a.doc_id IS NULL OR b.doc_id IS NULL
       |     OR a.text <> b.text OR a.source <> b.source),
       |cf AS (
       |  SELECT 1 AS v, 'insert' AS ct, b_id AS doc_id, b_text AS text
       |  FROM d1 WHERE a_id IS NULL
       |  UNION ALL SELECT 1, 'delete', a_id, a_text FROM d1 WHERE b_id IS NULL
       |  UNION ALL SELECT 1, 'update_preimage', a_id, a_text
       |  FROM d1 WHERE a_id IS NOT NULL AND b_id IS NOT NULL
       |  UNION ALL SELECT 1, 'update_postimage', b_id, b_text
       |  FROM d1 WHERE a_id IS NOT NULL AND b_id IS NOT NULL
       |  UNION ALL SELECT 2, 'insert', b_id, b_text FROM d2 WHERE a_id IS NULL
       |  UNION ALL SELECT 2, 'delete', a_id, a_text FROM d2 WHERE b_id IS NULL
       |  UNION ALL SELECT 2, 'update_preimage', a_id, a_text
       |  FROM d2 WHERE a_id IS NOT NULL AND b_id IS NOT NULL
       |  UNION ALL SELECT 2, 'update_postimage', b_id, b_text
       |  FROM d2 WHERE a_id IS NOT NULL AND b_id IS NOT NULL)
       |""".stripMargin
  }

  /** l18/s29's oracle: the feed rows for steps 1 and 2. */
  private[graft] val duckChangeFeedSql: String =
    duckChangeFeedCte +
      """SELECT v, ct, doc_id, md5(text) AS fp FROM cf
        |ORDER BY v, ct, doc_id""".stripMargin

  /** s32's oracle: the stream's `startingVersion=earliest` replay — the
    * v0 snapshot as 'insert' rows (commit version 0), then the feed.
    */
  private[graft] val duckChangeFeedEarliestSql: String =
    duckChangeFeedCte +
      """SELECT v, ct, doc_id, fp FROM (
        |  SELECT 0 AS v, 'insert' AS ct, doc_id, md5(text) AS fp FROM v0
        |  UNION ALL
        |  SELECT v, ct, doc_id, md5(text) FROM cf)
        |ORDER BY v, ct, doc_id""".stripMargin

  def defs: Map[String, OpDef] = Map(
    // Small-files compaction + partition-pruned layout, end to end: write
    // the arrival debris, compact it to a month-partitioned lake (one
    // file per partition, rows clustered by order date within each), and
    // read the compacted lake back in full. The oracle is the source
    // table itself — compaction must be a pure LAYOUT change, bit-exact
    // on content, and the read-back proves it through the gate hash.
    //
    // At 100 TB the same job runs per partition with dynamic partition
    // overwrite (only the months a batch touched rewrite — asserted in
    // LakeCompactionSpec), and the repartition key gains a salt when one
    // partition outgrows a task (AQE's skew split covers the read side).
    "l01_compact_lake" -> OpDef.sql(
      (s, d) => {
        val base = writeRawDebris(s, d)
        compact(s, base)
        s.read.parquet(s"$base/compacted")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
                  col("o_totalprice"), col("o_orderdate"), col("month"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, strftime(o_orderdate, '%Y-%m') AS month
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Z-order clustering: rewrite the fact table so min/max stats prune
    // on BOTH filter dimensions. A date-sorted layout answers date
    // filters cheaply and part/supplier filters with a full scan; the
    // Morton interleave bounds every output file to a rectangle of the
    // (part, supplier) key space, so a point predicate on EITHER key
    // passes the stats check in only ~sqrt(#files) files — the layout
    // trade a multi-tenant 100-TB lake makes for its two hottest filter
    // columns. Like l01, the gate reads the clustered lake back in full
    // and hash-matches the SOURCE rows: clustering must be a pure layout
    // change. ZOrderSpec measures the pruning itself (files whose
    // min-max range admits a probe value, z-layout vs date-sorted).
    "l02_zorder_lake" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l02", d)
        writeZOrdered(l02Cols(s, d), 16, s"$base/zorder")
        s.read.parquet(s"$base/zorder")
          .orderBy("l_orderkey", "l_linenumber")
      },
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |       l_quantity, l_extendedprice, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Schema evolution without a table rewrite: generation 1 of the lake
    // lands three columns, generation 2 adds a fourth — and a
    // mergeSchema read plans the UNION of the file schemas, backfilling
    // the old files' missing column with nulls at scan time. This is how
    // a 100-TB lake takes a new column: only new files carry it; nothing
    // is rewritten, and per-file column pruning still applies (a query
    // not touching the new column never reads it anywhere). The oracle
    // reconstructs the same rows from the source table: generation-1
    // rows must surface the new column as NULL.
    "l03_schema_evolution" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l03", d)
        val o = Tables.orders(s, d)
          .withColumn("yr", year(col("o_orderdate")))
        o.filter(col("yr") === 1994)
          .select("o_orderkey", "o_totalprice")
          .write.mode(SaveMode.Overwrite).parquet(s"$base/lake/gen=1")
        o.filter(col("yr") === 1995)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .write.mode(SaveMode.Overwrite).parquet(s"$base/lake/gen=2")
        s.read.option("mergeSchema", "true").parquet(s"$base/lake")
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_totalprice,
        |       CASE WHEN year(o_orderdate) = 1995
        |            THEN o_orderpriority END AS o_orderpriority
        |FROM orders
        |WHERE year(o_orderdate) IN (1994, 1995)
        |ORDER BY o_orderkey""".stripMargin),

    // Snapshot diff between two corpus builds — the audit every
    // incremental pipeline runs before promoting a new lake version:
    // which documents were ADDED, REMOVED, or CHANGED since the build
    // the current models/dedup indexes were computed on? (The reference
    // rewrites per-realm snapshots every ingest tick; diffing
    // consecutive snapshots is how its consumers know what moved.)
    //
    // The gate derives build 2 from build 1 DETERMINISTICALLY via the
    // d11 md5 bucket (bucket < 8 removed, 8..15 edited in place, clones
    // of 16..23 added under a fresh id range), writes BOTH builds to a
    // scratch lake, and diffs the read-backs — so the whole
    // write/read/diff path is exercised and the oracle can replay the
    // derivation in SQL.
    //
    // Scale shape: the diff is ONE full-outer join on doc_id comparing
    // md5 CONTENT FINGERPRINTS, never text bytes (at 100 TB the
    // fingerprint is a column stored at write time, so the diff reads
    // two narrow (id, fp) projections — column pruning does the rest;
    // both snapshots bucketed by doc_id make it a zero-Exchange
    // sort-merge join, the d24 bucketed-lake discipline). Output is
    // only the churn rows; 'unchanged' — the overwhelming bulk at
    // production churn rates — never leaves the join.
    "l04_snapshot_diff" -> OpDef.sql(
      (s, d) => {
        import graft.operators.Dedup
        val base = scratch("l04", d)
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val bucket = Dedup.splitBucket(col("doc_id"))
        docs.write.mode(SaveMode.Overwrite).parquet(s"$base/v1")
        docs.filter(bucket >= 8) // bucket < 8: removed in build 2
          .withColumn("text",
            when(bucket < 16, concat(col("text"), lit(" (rev 2)")))
              .otherwise(col("text")))
          .unionByName(
            docs.filter(bucket >= 16 && bucket < 24)
              .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
                      col("source"),
                      concat(col("text"), lit(" (new)")).as("text")))
          .write.mode(SaveMode.Overwrite).parquet(s"$base/v2")
        val v1 = s.read.parquet(s"$base/v1")
          .select(col("doc_id"), col("source").as("source1"),
                  md5(col("text").cast("binary")).as("fp1"))
        val v2 = s.read.parquet(s"$base/v2")
          .select(col("doc_id"), col("source").as("source2"),
                  md5(col("text").cast("binary")).as("fp2"))
        v1.join(v2, Seq("doc_id"), "full_outer")
          .withColumn("status",
            when(col("fp1").isNull, "added")
              .when(col("fp2").isNull, "removed")
              .when(col("fp1") =!= col("fp2"), "changed")
              .otherwise("unchanged"))
          .filter(col("status") =!= "unchanged")
          .select(col("doc_id"),
                  coalesce(col("source2"), col("source1")).as("source"),
                  col("status"))
          .orderBy("doc_id")
      }, {
        def b(id: String) =
          s"('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 15))::BIGINT % 100"
        s"""WITH v1 AS (SELECT doc_id, source, text FROM documents),
           |v2 AS (
           |  SELECT doc_id, source,
           |         CASE WHEN ${b("doc_id")} < 16 THEN text || ' (rev 2)'
           |              ELSE text END AS text
           |  FROM v1 WHERE ${b("doc_id")} >= 8
           |  UNION ALL
           |  SELECT doc_id + 1000000000 AS doc_id, source,
           |         text || ' (new)' AS text
           |  FROM v1 WHERE ${b("doc_id")} >= 16 AND ${b("doc_id")} < 24),
           |j AS (
           |  SELECT coalesce(a.doc_id, c.doc_id) AS doc_id,
           |         coalesce(c.source, a.source) AS source,
           |         CASE WHEN a.doc_id IS NULL THEN 'added'
           |              WHEN c.doc_id IS NULL THEN 'removed'
           |              WHEN md5(a.text) <> md5(c.text) THEN 'changed'
           |              ELSE 'unchanged' END AS status
           |  FROM v1 a FULL OUTER JOIN v2 c ON a.doc_id = c.doc_id)
           |SELECT doc_id, source, status FROM j
           |WHERE status <> 'unchanged'
           |ORDER BY doc_id""".stripMargin
      }),

    // Incremental materialized-view refresh: the aggregate table a
    // 100-TB lake serves dashboards from, refreshed by MERGING partial
    // aggregates from only the arriving delta — the base corpus is
    // NEVER rescanned. (The reference recomputes its pricelist/stats
    // snapshots per ingest tick; the scalable form of that tick is
    // exactly this: new tick's partials + stored MV -> merged MV.)
    //
    // The MV: orders by (priority, month) with count + sum(price).
    // Both are DISTRIBUTIVE aggregates, so refresh is an exact
    // algebraic merge: sum of counts, sum of sums; avg is DERIVED at
    // read time from the merged partials (never stored — averages of
    // averages are wrong). The cutoff lands MID-month (1996-06-15), so
    // the merge exercises all three group classes: MV-only groups pass
    // through, delta-only groups insert, and the boundary month
    // genuinely merges.
    //
    // Scale shape: refresh cost ∝ |delta| + |MV|. The delta leg is one
    // scan with the date predicate PUSHED to parquet (at 100 TB, a
    // date-partitioned lake prunes to the new partitions by directory
    // alone); the MV is priorities x months — kilobytes. Prices sum as
    // DECIMAL(18,2), so the merge is EXACT and associative — a
    // float-summing MV would drift from a full recompute by
    // re-association, and the gate hash would catch it.
    "l05_incr_mv" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l05", d)
        val cutoff = "1996-06-15"
        def partials(df: DataFrame): DataFrame = df
          .withColumn("ym", date_format(col("o_orderdate"), "yyyy-MM"))
          .groupBy("o_orderpriority", "ym")
          .agg(count(lit(1)).as("n_orders"),
               sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_price"))
        val orders = Tables.orders(s, d)
        // build tick: materialize the MV over the base corpus
        partials(orders.filter(col("o_orderdate") < lit(cutoff)))
          .write.mode(SaveMode.Overwrite).parquet(s"$base/mv_v1")
        // refresh tick: partials over ONLY the delta, merged with the
        // stored MV (sum-of-counts / sum-of-sums), avg derived last
        s.read.parquet(s"$base/mv_v1")
          .unionByName(
            partials(orders.filter(col("o_orderdate") >= lit(cutoff))))
          .groupBy("o_orderpriority", "ym")
          .agg(sum("n_orders").as("n_orders"),
               sum("sum_price").as("sum_price"))
          .select(col("o_orderpriority"), col("ym"),
                  col("n_orders"),
                  r2(col("sum_price").cast("double")).as("sum_price"),
                  r2(col("sum_price").cast("double") / col("n_orders"))
                    .as("avg_price"))
          .orderBy("o_orderpriority", "ym")
      },
      """SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS ym,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |               AS DOUBLE) + 1e-6, 2) AS sum_price,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |               AS DOUBLE) / count(*) + 1e-6, 2) AS avg_price
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // CDC apply (MERGE INTO): take snapshot v1 plus a changelog of
    // upserts and deletes and produce snapshot v2 — the write half of
    // the snapshot lifecycle whose read half is l04's diff. (The
    // reference's ingest tick IS this operation: apply the tick's
    // auction updates/removals to the stored per-realm snapshot.) The
    // changelog is derived from v1 by the same d11 bucket rule l04
    // uses (<8 → D, 8–15 → U in place, clones of 16–23 → U under new
    // ids), so diff(v1, apply(v1, log)) must equal l04's churn —
    // CdcApplySpec pins that cross-operator identity.
    //
    // The merge itself is the scalable two-leg form: snapshot
    // ANTI-JOIN changelog keys (drop superseded rows), UNION the
    // changelog's upsert payloads. At 100 TB the changelog is a tick —
    // orders of magnitude smaller than the snapshot — so the anti join
    // BROADCASTS the keys and the snapshot never shuffles; a
    // too-big-to-broadcast changelog degrades to a shuffled equality
    // join on the same plan. Both builds transit the lake (v1 and v2
    // written + read back), so the gate hashes real parquet bytes.
    "l06_cdc_apply" -> OpDef.sql(
      (s, d) => {
        import graft.operators.Dedup
        val base = scratch("l06", d)
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        docs.write.mode(SaveMode.Overwrite).parquet(s"$base/v1")
        val v1 = s.read.parquet(s"$base/v1")
        cdcChangelog(v1).write.mode(SaveMode.Overwrite).parquet(s"$base/log")
        val log = s.read.parquet(s"$base/log")
        cdcMerge(v1, log).write.mode(SaveMode.Overwrite).parquet(s"$base/v2")
        s.read.parquet(s"$base/v2")
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      duckCdcSql),

    // l06's big-delta twin: the SAME merge semantics (same oracle,
    // verbatim) when the changelog is backfill-sized and cannot
    // broadcast. Snapshot and changelog transit the lake as doc_id-
    // BUCKETED tables (the d24 index discipline — in production the
    // snapshot is ALREADY bucketed from the last apply, and the
    // changelog bucket-aligns as it lands), and the supersede step is a
    // sort-merge anti join that runs with ZERO Exchange on either side:
    // merge cost at 100 TB is one co-located per-bucket merge
    // regardless of the delta:snapshot ratio. CdcScaleSpec pins the
    // exchange-free SMJ on the executed plan; the gate hash proves the
    // two forms compute the identical snapshot.
    "l07_cdc_merge_bucketed" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l07", d)
        val buckets = 8
        Tables.documents(s, d).select("doc_id", "source", "text")
          .repartition(pmod(hash(col("doc_id")), lit(buckets)))
          .write.bucketBy(buckets, "doc_id").sortBy("doc_id")
          .mode(SaveMode.Overwrite).saveAsTable("graft_cdc_snap_bkt")
        val v1 = s.table("graft_cdc_snap_bkt")
        cdcChangelog(v1)
          .repartition(pmod(hash(col("doc_id")), lit(buckets)))
          .write.bucketBy(buckets, "doc_id").sortBy("doc_id")
          .mode(SaveMode.Overwrite).saveAsTable("graft_cdc_log_bkt")
        val log = s.table("graft_cdc_log_bkt")
        cdcMergeShuffled(v1, log)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/v2")
        s.read.parquet(s"$base/v2")
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      duckCdcSql),

    // l06's partition-scoped twin: apply the changelog IN PLACE,
    // rewriting only the snapshot partitions that contain changed keys
    // (dynamic partition overwrite — l01's machinery pointed at the
    // merge). The gate's bucket-rule changelog happens to touch every
    // source partition, so the gate proves in-place apply end-to-end
    // (same oracle, verbatim: stale rows surviving a partial overwrite,
    // or dropped untouched partitions, would hash-mismatch);
    // CdcScaleSpec proves the SCOPING with a source-confined changelog —
    // untouched partitions keep byte-identical files — and the
    // empty-partition delete path a declarative overwrite can't express.
    // c01: CSV intake with EXPLICIT malformed-row quarantine. Real
    // intake files carry damage — truncated lines, wrong column
    // counts, type garbage — and the two failure postures are both
    // wrong at scale: FAILFAST kills a 100-TB load for one bad line,
    // silent DROPMALFORMED loses data with no audit trail. The
    // PERMISSIVE + columnNameOfCorruptRecord read keeps every line in
    // ONE pass: clean rows parse into typed columns, damaged lines
    // surface verbatim in the corrupt column and are split into a
    // quarantine table a human can audit (the gate returns the clean
    // side; CsvQuarantineSpec pins the quarantine side row-for-row).
    // The staged file is derived from orders with a deterministic 3%
    // of rows mangled (bucket rule) plus free-floating garbage lines,
    // so the oracle can replay exactly which rows survive without
    // parsing CSV itself. Columns are int/string only — float text
    // round-trips are a parity trap a real intake schema avoids by
    // parsing decimals explicitly.
    "c01_csv_quarantine" -> OpDef.sql(
      (s, d) => {
        val base = scratch("c01", d)
        val bucket = Dedup.splitBucket(col("o_orderkey"))
        val line = concat_ws(",", col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        Tables.orders(s, d)
          .select(when(bucket < 3,
              // type garbage in the long column, keyed so the spec can
              // reconcile the quarantine against the derivation (arity
              // damage quarantines too — spec covers those branches)
              concat(lit("DAMAGED,garbage,"), col("o_orderkey").cast("string")))
            .otherwise(line).as("value"))
          .unionByName(s.range(7).select(
            concat(lit("### trailing garbage "), col("id")).as("value")))
          .write.mode(SaveMode.Overwrite).text(s"$base/csv")
        csvQuarantineRead(s, s"$base/csv")._1
          .orderBy("o_orderkey")
      },
      s"""SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
         |WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
         |      % 100 >= 3
         |ORDER BY o_orderkey""".stripMargin),

    // c02: JSON-LINES intake with quarantine — the shape real API-dump
    // intake actually arrives in (the reference's ingest loop pulls
    // auction snapshots as JSON documents; SURVEY §1). Same one-scan
    // PERMISSIVE + columnNameOfCorruptRecord split as c01, but the
    // parse is NESTED: a clean line is {"order":{"key","cust"},
    // "status"} and the typed projection flattens order.key/order.cust
    // — schema-on-read over structured JSON, not just flat CSV. Two
    // damage classes, both keyed to the derivation so the spec
    // reconciles the quarantine verbatim: truncated objects (hard
    // malformed JSON) and type garbage in a NESTED long field — under
    // Spark's JSON semantics a type mismatch corrupts the whole
    // RECORD (unlike CSV's per-column null-fill), which is exactly the
    // audit-trail posture intake wants. Free-floating non-JSON lines
    // quarantine too. Oracle replays survivorship by the bucket rule —
    // c01's oracle with c02's 4% damage split.
    "c02_jsonl_quarantine" -> OpDef.sql(
      (s, d) => {
        val base = scratch("c02", d)
        val bucket = Dedup.splitBucket(col("o_orderkey"))
        val line = concat(lit("{\"order\":{\"key\":"), col("o_orderkey"),
          lit(",\"cust\":"), col("o_custkey"),
          lit("},\"status\":\""), col("o_orderstatus"), lit("\"}"))
        Tables.orders(s, d)
          .select(
            when(bucket < 2,
              // truncated object — the line ends mid-value
              concat(lit("{\"order\":{\"key\":"), col("o_orderkey")))
            .when(bucket < 4,
              // type garbage in a nested long field — record-corrupt
              concat(lit("{\"order\":{\"key\":\"DMG\",\"cust\":"),
                col("o_custkey"), lit("},\"status\":\""),
                col("o_orderstatus"), lit("\"}")))
            .otherwise(line).as("value"))
          .unionByName(s.range(7).select(
            concat(lit("### not json "), col("id")).as("value")))
          .write.mode(SaveMode.Overwrite).text(s"$base/jsonl")
        jsonQuarantineRead(s, s"$base/jsonl")._1
          .orderBy("o_orderkey")
      },
      s"""SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
         |WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
         |      % 100 >= 4
         |ORDER BY o_orderkey""".stripMargin),

    // c03: ORC round-trip — format interop for a lake that must serve
    // readers standardized on ORC (or migrate from one). The gate
    // lands a one-month lineitem slice as an ORC lake partitioned by
    // l_returnflag, reads it back, and hash-matches the SOURCE rows
    // through the oracle — every physical type the testdata uses
    // (int64, int32, double, string-as-partition-dir, timestamp)
    // must survive the format boundary bit-exact. The timestamp is
    // the classic ORC trap (writer/reader session-timezone
    // adjustment); emitting it as epoch MICROS on both sides makes
    // any shift a hash mismatch rather than a formatting ambiguity.
    // OrcInteropSpec proves the performance half of interop: ORC
    // scans take predicate pushdown and directory partition pruning
    // exactly like parquet (same FileSourceScan machinery), so
    // serving from ORC costs no plan quality.
    "c03_orc_roundtrip" -> OpDef.sql(
      (s, d) => {
        val base = scratch("c03", d)
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1995-03-01").cast("timestamp") &&
                  col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
          .select("l_orderkey", "l_linenumber", "l_quantity",
                  "l_returnflag", "l_shipdate")
          .write.mode(SaveMode.Overwrite).partitionBy("l_returnflag")
          .orc(s"$base/lake")
        s.read.orc(s"$base/lake")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                  col("l_returnflag"),
                  // testdata timestamps are TIMESTAMP_NTZ; the session
                  // TZ is pinned UTC so this cast is the identity
                  // instant and matches DuckDB's naive epoch_us.
                  unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |       epoch_us(l_shipdate) AS ship_us
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-03-01'
        |  AND l_shipdate <  TIMESTAMP '1995-04-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // c04: XML-RECORD intake with quarantine — the third intake wire
    // format, and the one where the STAGING LAYOUT is itself the scale
    // decision. Spark's file-level rowTag XML reader is MONOLITHIC in
    // its failure mode — measured on a 5-record file with one
    // balanced-tag type-garbage record: 1 clean row came back and the
    // ENTIRE remaining stream (three valid records included) landed as
    // a single corrupt blob. An intake where one bad byte run poisons
    // everything after it is the wrong posture at 100 TB, so the
    // staging is one XML record PER LINE parsed by from_xml: recovery
    // is per-record by construction and the file stays splittable.
    // XML's damage semantics sit between the CSV and JSON twins: type
    // garbage in a long element corrupts exactly its RECORD (like
    // JSON), a mismatched inner tag is hard-malformed, a MISSING
    // element is legal schema-on-read null (the clean side carries
    // it — the third damage class stays clean with NULL custkey), and
    // stray non-XML lines quarantine verbatim. Oracle replays
    // survivorship by the bucket rule, nulling custkey for the
    // missing-element class.
    "c04_xml_quarantine" -> OpDef.sql(
      (s, d) => {
        // the staged FEED is a pure function of the orders table —
        // memoize it per content stamp (q46's discipline) so repeated
        // runs time the intake (parse + split), not the synthetic
        // feed's construction; the parse itself runs every time
        xmlQuarantineRead(s, xmlFeedDir(s, d))._1
          .orderBy("o_orderkey")
      },
      duckXmlIntakeSql),

    // l10: VERSION VACUUM — retention for the versioned snapshot chains
    // the engine's CDC/incremental paths mint (s19's snap/v*, p02's
    // state/v* and bench/v*). Every tick adds a full version; without
    // retention a 100-TB snapshot chain grows by its own size per tick.
    // Vacuum deletes all but the newest `keep` versions — never the
    // maximum (the committed current), never a FUTURE version a crashed
    // tick may have left (versions above current are a replay's
    // property, not garbage — the replay overwrites them) — and is
    // idempotent. The gate chains two CDC ticks (s19's parity split),
    // vacuums to the last two versions, and hashes the CURRENT version
    // through l06's oracle verbatim: retention must be invisible to
    // every reader of a retained version. VacuumSpec proves the
    // deletions, byte-identical retained files, and idempotence.
    "l10_version_vacuum" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l10", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        docs.write.mode(SaveMode.Overwrite).parquet(s"$base/snap/v0")
        val log = cdcChangelog(s.read.parquet(s"$base/snap/v0"))
        Seq(0, 1).foreach { tick =>
          cdcMerge(s.read.parquet(s"$base/snap/v$tick"),
              log.filter(pmod(col("doc_id"), lit(2)) === tick))
            .write.mode(SaveMode.Overwrite).parquet(s"$base/snap/v${tick + 1}")
        }
        vacuumVersions(s"$base/snap", keep = 2)
        s.read.parquet(s"$base/snap/v2")
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      duckCdcSql),

    // l11: the unified VERSIONED-TABLE facade with TIME TRAVEL —
    // l06/l07's merge dispatch, s21's marker-file commit protocol, and
    // l10's retention composed into one GraftTable API
    // (graft.sources.GraftTable) instead of a parts kit over ad-hoc
    // v{N} conventions. The gate builds the table at v0, applies the
    // standard changelog as TWO committed merge ticks (split by key
    // parity), vacuums to the last two versions (v0 retires), and then
    // reads AS OF v1 — the MID version, not the current one: the hash
    // only matches if v1's bytes survived both the second merge and the
    // vacuum untouched. Oracle: DuckDB replays exactly ONE tick (the
    // even-parity half of the log) over v0. GraftTableSpec holds the
    // rest of the contract: vacuumed/uncommitted reads fail loudly by
    // name, retained versions stay byte-identical through vacuum, and
    // an uncommitted (torn) version directory is invisible to every
    // reader.
    "l11_time_travel" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l11", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val t = graft.sources.GraftTable.create(s, s"$base/tbl", docs)
        val log = cdcChangelog(t.read())
        t.merge(log.filter(pmod(col("doc_id"), lit(2)) === 0))
        t.merge(log.filter(pmod(col("doc_id"), lit(2)) === 1))
        t.vacuum(keep = 2)
        t.readAsOf(1)
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      duckCdcSqlWhere("doc_id % 2 = 0")),

    // l12: GraftTable's MANIFEST-PLANNED key-range read — l09's
    // file-stats pruning folded into the versioned-table facade. Every
    // version lands range-partitioned + key-sorted with a per-file
    // (key_lo, key_hi, n_rows) manifest written BEFORE the commit
    // marker (the marker's atomicity covers data + manifest — "one API
    // that merges, commits the manifest, and vacuums"). The gate merges
    // the full changelog, then reads doc_id ∈ [100, 350) at the current
    // version: planning is one interval filter on the manifest, the
    // data scan opens only the admitted files. Oracle: the full CDC
    // replay restricted to the same range — pruning must be invisible
    // to the answer. GraftTableSpec pins the plan side: the executed
    // scan's files ⊆ manifest-admitted ⊊ all files, and an empty range
    // returns an empty frame with the table schema.
    "l12_manifest_read" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l12", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val t = graft.sources.GraftTable.create(s, s"$base/tbl", docs)
        t.merge(cdcChangelog(t.read()))
        t.readRange(100L, 350L)
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      duckCdcSqlWhere("TRUE", "doc_id >= 100 AND doc_id < 350")),

    // l13: VERSION DIFF — time travel's other half: "what happened
    // between v0 and v1", as a CDC changelog derived from the stored
    // bytes alone (no changelog retention needed — the versions ARE the
    // log). GraftTable.diff groups the rows of the files the two
    // versions do not share on the key: presence tags I/D, a null-safe
    // compare tags U, unchanged keys in shared files are never read.
    // The gate diffs v0 against one full merge and emits (op, doc_id,
    // fp_a, fp_b). HASH-PROVEN with an algorithmically symmetric but
    // INPUT-independent oracle: DuckDB diffs the LOGICAL replay of the
    // same merge, so the stored table's land/commit/read machinery must
    // round-trip every byte the diff touches. VersionDiffSpec holds the
    // algebra: diff(v,v) = ∅, and re-applying diff(0,1) as a changelog
    // onto v0 reproduces v1 exactly.
    "l13_version_diff" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l13", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val t = graft.sources.GraftTable.create(s, s"$base/tbl", docs)
        t.merge(cdcChangelog(t.read()))
        t.diff(0, 1)
          .select(col("op"), col("doc_id"),
                  md5(col("a_text").cast("binary")).as("fp_a"),
                  md5(col("b_text").cast("binary")).as("fp_b"))
          .orderBy("doc_id")
      },
      {
        def b(id: String) =
          s"('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 15))::BIGINT % 100"
        s"""WITH v1 AS (SELECT doc_id, source, text FROM documents),
           |log AS (
           |  SELECT 'D' AS op, doc_id, source, text
           |  FROM v1 WHERE ${b("doc_id")} < 8
           |  UNION ALL
           |  SELECT 'U', doc_id, source, text || ' (rev 2)'
           |  FROM v1 WHERE ${b("doc_id")} >= 8 AND ${b("doc_id")} < 16
           |  UNION ALL
           |  SELECT 'U', doc_id + 1000000000, source, text || ' (new)'
           |  FROM v1 WHERE ${b("doc_id")} >= 16 AND ${b("doc_id")} < 24),
           |v2 AS (
           |  SELECT doc_id, source, text FROM v1
           |  WHERE doc_id NOT IN (SELECT doc_id FROM log)
           |  UNION ALL
           |  SELECT doc_id, source, text FROM log WHERE op = 'U')
           |SELECT CASE WHEN b.doc_id IS NULL THEN 'D'
           |            WHEN a.doc_id IS NULL THEN 'I'
           |            ELSE 'U' END AS op,
           |       coalesce(a.doc_id, b.doc_id) AS doc_id,
           |       md5(a.text) AS fp_a, md5(b.text) AS fp_b
           |FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
           |WHERE a.doc_id IS NULL OR b.doc_id IS NULL
           |   OR a.text <> b.text OR a.source <> b.source
           |ORDER BY doc_id""".stripMargin
      }),

    // l14: SCHEMA EVOLUTION inside the versioned-table facade — the one
    // lake lifecycle event l03 proves possible on ad-hoc lakes
    // (mergeSchema reads) that GraftTable didn't own until r15: a merge
    // whose changelog carries a NEW column ("rev") extends the table —
    // old rows read as typed nulls (the version's stored schema
    // backfills what old files lack), readAsOf(0) keeps the OLD schema
    // verbatim, diff(0,1) compares over the union column set instead of
    // throwing, and a changelog MISSING a current column still fails
    // loudly (additions evolve; silent drops don't). The gate reads the
    // evolved current version; the oracle replays generation semantics
    // (upserts define rev, survivors are NULL there). GraftTableSpec's
    // evolution leg holds the old-reader/new-reader matrix and the diff
    // asymmetry.
    "l14_schema_evolve" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l14", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val t = graft.sources.GraftTable.create(s, s"$base/tbl", docs)
        val log = cdcChangelog(t.read())
          .withColumn("rev", pmod(col("doc_id"), lit(97L)).cast("int"))
        t.merge(log)
        t.read()
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"), col("rev"))
          .orderBy("doc_id")
      },
      {
        def b(id: String) =
          s"('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 15))::BIGINT % 100"
        s"""WITH v1 AS (SELECT doc_id, source, text FROM documents),
           |fulllog AS (
           |  SELECT 'D' AS op, doc_id, source, text
           |  FROM v1 WHERE ${b("doc_id")} < 8
           |  UNION ALL
           |  SELECT 'U', doc_id, source, text || ' (rev 2)'
           |  FROM v1 WHERE ${b("doc_id")} >= 8 AND ${b("doc_id")} < 16
           |  UNION ALL
           |  SELECT 'U', doc_id + 1000000000, source, text || ' (new)'
           |  FROM v1 WHERE ${b("doc_id")} >= 16 AND ${b("doc_id")} < 24),
           |log AS (SELECT *, CAST(doc_id % 97 AS INT) AS rev FROM fulllog),
           |v2 AS (
           |  SELECT doc_id, source, text, CAST(NULL AS INT) AS rev FROM v1
           |  WHERE doc_id NOT IN (SELECT doc_id FROM log)
           |  UNION ALL
           |  SELECT doc_id, source, text, rev FROM log WHERE op = 'U')
           |SELECT doc_id, source, md5(text) AS fp, rev
           |FROM v2 ORDER BY doc_id""".stripMargin
      }),

    // l15: PARTITION-SCOPED MERGE inside the facade — l08's
    // touched-slice rewrite composed with versioning (the r14 verdict's
    // missing trickle-tick cost model): GraftTable.merge's scoped arm
    // rewrites ONLY the files whose manifest key ranges the changelog
    // touches (a key-local changelog touches under half the files);
    // untouched files carry forward in the new version's manifest as
    // the SAME bytes — cost ∝ touched-files + changelog, never
    // snapshot. The gate applies a key-LOCAL changelog (keys below
    // max/8 — by construction it admits a strict subset of the 8+
    // range-partitioned files) and reads the merged current version;
    // the oracle replays the same restricted merge logically, so the
    // carried-forward old files and the rewritten new ones must
    // compose into exactly the full answer. GraftTableSpec's scoped leg
    // proves untouched-file byte-identity, manifest/file agreement,
    // scoped content == the whole-snapshot CDC merge, and
    // reference-aware vacuum.
    "l15_scoped_merge" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l15", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val t = graft.sources.GraftTable.create(s, s"$base/tbl", docs)
        val cut = docs.agg(max("doc_id")).head.getLong(0) / 8
        t.merge(cdcChangelog(t.read())
          .filter(col("doc_id") < lit(cut)))
        t.read()
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      duckCdcSqlWhere("doc_id < (SELECT max(doc_id) // 8 FROM v1)")),

    // l16: COMPACTION inside the facade (Delta OPTIMIZE / l01 owned by
    // GraftTable) — the operation that completes the scoped-merge cost
    // model: a chain of trickle ticks leaves the live manifest a
    // patchwork of small per-tick files and old-version survivors;
    // compact() lands the whole file list as one fresh self-contained
    // version (size-derived fan, range-partitioned + key-sorted, zero
    // cross-version references). The gate drives the WHOLE lifecycle:
    // three key-sliced scoped ticks (disjoint slices composing to the
    // full changelog — each tick carries forward what it didn't touch),
    // one compact, then vacuum(keep=1) — which only leaves a readable
    // table if the compacted version truly owns every byte it needs.
    // Oracle: the one-shot full CDC replay; tick slicing, carry-forward,
    // compaction, and retention must all be invisible to the answer.
    "l16_compact" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l16", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val t = graft.sources.GraftTable.create(s, s"$base/tbl", docs)
        val log = cdcChangelog(t.read())
        val cut = docs.agg(max("doc_id")).head.getLong(0) / 3
        t.merge(log.filter(col("doc_id") < cut))
        t.merge(log.filter(col("doc_id") >= cut &&
                           col("doc_id") < 2 * cut))
        t.merge(log.filter(col("doc_id") >= 2 * cut))
        t.compact()
        t.vacuum(keep = 1)
        t.read()
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      duckCdcSql),

    // l17: Z-ORDER COMPACTION inside the facade — l02's Morton layout as
    // a GraftTable version (Delta's OPTIMIZE ZORDER BY). compact()
    // defaults to key-range clustering (tight primary-key manifest
    // spans); compact(zorderBy = Seq(a, b)) lands the same
    // self-contained version Morton-clustered on two columns instead,
    // and the manifest records per-file <col>_lo/_hi spans for both —
    // readRangeOn plans a secondary-column range from the manifest
    // alone, opening only span-admitted files (GraftTableSpec measures
    // the two-key pruning and the NULL-span widen rule for files a
    // later tick writes unprofiled). The gate drives create → z-compact
    // → vacuum and reads the survivor back in full: like l01/l02/l16,
    // clustering + retention must be a pure layout change, bit-exact on
    // content against the source-table oracle.
    "l17_zorder_compact" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l17", d)
        deleteTree(java.nio.file.Paths.get(base))
        val t = graft.sources.GraftTable.create(s, s"$base/tbl",
          l02Cols(s, d), key = "l_orderkey")
        t.compact(zorderBy = Seq("l_partkey", "l_suppkey"))
        t.vacuum(keep = 1)
        t.read().orderBy("l_orderkey", "l_linenumber")
      },
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |       l_quantity, l_extendedprice, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // l18: CHANGE DATA FEED over the version chain (Delta's
    // table_changes) — the consumer side of the versioned lake: a CDC
    // subscriber that polls changes(lastSeen, current) gets exactly the
    // ticks it missed, as typed rows (insert / delete / update_preimage
    // / update_postimage + _commit_version), derived purely from the
    // stored versions (diff per step — the versions ARE the log, no
    // retention of a separate changelog). The gate lands the full
    // deterministic changelog as TWO parity-split merges and reads
    // changes(0, 2): every step boundary, both update images, and the
    // cross-step composition are all under the hash. Scale: the feed
    // reads the files each step changed (the manifests' per-step
    // difference) with one shuffle on (key, step), and the step loop
    // is retention-bounded. GraftTableSpec adds the evolution leg
    // (union schema across steps) and the loud vacuumed-end refusal.
    "l18_change_feed" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l18", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val t = graft.sources.GraftTable.create(s, s"$base/tbl", docs)
        val log = cdcChangelog(t.read())
        t.merge(log.filter(pmod(col("doc_id"), lit(2)) === 0))
        t.merge(log.filter(pmod(col("doc_id"), lit(2)) === 1))
        t.changes(0, 2)
          .select(col("_commit_version").cast("int").as("v"),
                  col("_change_type").as("ct"), col("doc_id"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("v", "ct", "doc_id")
      },
      duckChangeFeedSql),

    // l19: the format("graft") CONNECTOR, read side — GraftTable as a
    // registered Spark data source (stable V1 relation API; see
    // GraftSource's scaladoc for why not DSv2), so the versioned lake
    // plugs into every format-string surface (SQL views, PySpark)
    // without the Scala facade. The gate drives the two things the
    // connector ADDS over a parquet read: time travel by option
    // (versionAsOf=0 across a later delete-merge — the connector must
    // resolve the pre-merge manifest) and planning-time FILE PRUNING
    // (the pushed key-range filter is evaluated against the manifest;
    // only span-admitted files reach the data scan — at 10M files the
    // admission is one metadata scan, and GraftSourceSpec pins that the
    // file list actually narrows, plus the all-filters-unhandled
    // correctness stance). Oracle: the same range on the source table —
    // registration, admission, and time travel must all be invisible.
    "l19_connector_read" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l19", d)
        deleteTree(java.nio.file.Paths.get(base))
        val t = graft.sources.GraftTable.create(s, s"$base/tbl",
          l02Cols(s, d), key = "l_orderkey")
        t.merge(l02Cols(s, d).filter(col("l_orderkey") < 500)
          .withColumn("op", lit("D")))
        s.read.format("graft")
          .option("key", "l_orderkey").option("versionAsOf", "0")
          .load(s"$base/tbl")
          .filter(col("l_orderkey") >= 200 && col("l_orderkey") < 900)
          .select("l_orderkey", "l_linenumber", "l_quantity",
                  "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber")
      },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey >= 200 AND l_orderkey < 900
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // l20: the connector's WRITE side — DataFrameWriter modes mapped to
    // lake semantics: the first write CREATES version 0, Append is a
    // KEYED UPSERT (every row an 'U' through GraftTable.merge — schema
    // additions evolve, silent column drops fail loudly), Overwrite
    // lands a fresh self-contained version (GraftSourceSpec drives
    // those plus ErrorIfExists/Ignore). The gate lands documents, then
    // appends the changelog's upsert payloads (revisions + fresh ids)
    // through the writer, and reads the merged current version back
    // through the reader. Oracle: the CDC replay restricted to U ops —
    // deletes are NOT expressible through a writer append, so the D
    // keys must survive verbatim.
    "l20_connector_write" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l20", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        docs.write.format("graft").mode(SaveMode.ErrorIfExists)
          .save(s"$base/tbl")
        cdcChangelog(docs).filter(col("op") === "U").drop("op")
          .write.format("graft").mode(SaveMode.Append).save(s"$base/tbl")
        s.read.format("graft").load(s"$base/tbl")
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      duckCdcSqlWhere("op = 'U'")),

    // l21: RESTORE — rollback as a new version (Delta RESTORE), and the
    // reason it's cheap: the restored version's manifest is the target
    // version's VERBATIM (same paths, same spans, same schema), so the
    // "undo the bad merge" moves ZERO data bytes at any table size —
    // one manifest copy + a schema file + the marker (GraftSourceSpec
    // pins the version directory holds nothing else, and that history
    // reports every file as a carried reference). The gate composes it
    // with retention: create → merge the full changelog → restore(0) →
    // vacuum(keep=2), which retires v0 itself — the restore's carried
    // references must keep v0's data files alive through the
    // reference-aware sweep while v0's own metadata goes. Oracle: the
    // original table — a rollback that moves no bytes must still be
    // bit-exact.
    "l21_restore" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l21", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val t = graft.sources.GraftTable.create(s, s"$base/tbl", docs)
        t.merge(cdcChangelog(t.read()))
        t.restore(0)
        t.vacuum(keep = 2)
        t.read()
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, source, md5(text) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // l22: row-level DML — Delta's `DELETE FROM ... WHERE` and
    // `UPDATE ... SET ... WHERE` on the facade. Both derive a keyed
    // changelog from the predicate scan (matches → 'D', or 'U' with
    // the SET projection applied against the OLD row) and land it
    // through the merge dispatch, so the WRITE cost is touched-files +
    // matches — a selective delete/update at 100 TB rewrites the
    // files holding matches, never the snapshot (the read is one
    // predicate scan with plain parquet pushdown). The gate deletes a
    // key slice, then rewrites a column on a source slice, and reads
    // the result; oracle replays both statements logically. The spec
    // adds the loud guards (key rewrite, unknown column), the
    // old-row-semantics swap, and the carried-forward scoped-ness.
    "l22_dml" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l22", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val t = graft.sources.GraftTable.create(s, s"$base/tbl", docs)
        t.delete(pmod(col("doc_id"), lit(10)) === 3)
        t.update(col("source") === "src1",
          Map("text" -> concat(col("text"), lit(" [redacted]"))))
        t.read()
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      """WITH v1 AS (SELECT doc_id, source, text FROM documents
        |            WHERE doc_id % 10 <> 3),
        |v2 AS (SELECT doc_id, source,
        |              CASE WHEN source = 'src1'
        |                   THEN text || ' [redacted]' ELSE text END AS text
        |       FROM v1)
        |SELECT doc_id, source, md5(text) AS fp
        |FROM v2 ORDER BY doc_id""".stripMargin),

    // l23: OPTIMISTIC CONCURRENT MERGE — the multi-writer commit loop
    // (Delta's OCC over a create-exclusive marker instead of a log
    // entry). Two REAL threads race mergeConcurrent with the parity
    // halves of the changelog: each attempt stages data/manifest/
    // schema under its own token (racers never share a path — the
    // single-writer forms' corrupt-the-winner hazard is structurally
    // gone), the marker binds the winning token, and the loser
    // RECOMPUTES against the winner's version and retries at the next
    // number. Key-disjoint changelogs commute, so whichever serial
    // order the race produces, the final table is the full CDC replay
    // — which is exactly what the oracle demands (the gate also
    // asserts the chain grew by exactly two committed versions).
    // Non-determinism lives in the ORDER, never the answer.
    "l23_concurrent_merge" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l23", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val t = graft.sources.GraftTable.create(s, s"$base/tbl", docs)
        val log = cdcChangelog(t.read())
          .persist() // both threads read it; compute the split once
        log.count()
        try {
          val fails = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
          val ths = Seq(0, 1).map { par =>
            val th = new Thread(() =>
              try t.mergeConcurrent(
                log.filter(pmod(col("doc_id"), lit(2)) === par))
              catch { case e: Throwable => fails.add(e) })
            th.start(); th
          }
          ths.foreach(_.join())
          if (!fails.isEmpty) throw fails.peek()
          require(t.versions == Seq(0, 1, 2),
            s"expected both writers committed: ${t.versions}")
        } finally log.unpersist()
        t.read()
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      duckCdcSql),

    // l24: the CHANGE DATA FEED through the connector — Delta's CDF
    // read shape verbatim (`readChangeFeed` + startingVersion/
    // endingVersion options), so a CDC subscriber needs only the
    // format string, no Scala facade. Same derivation as l18
    // underneath (diff per step over stored versions — churn-sized,
    // no changelog retention); the gate re-lands l18's two
    // parity-split merges and drains the whole feed through
    // spark.read options, held to l18's oracle verbatim — the
    // connector surface must be invisible to the feed.
    "l24_connector_cdf" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l24", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val t = graft.sources.GraftTable.create(s, s"$base/tbl", docs)
        val log = cdcChangelog(t.read())
        t.merge(log.filter(pmod(col("doc_id"), lit(2)) === 0))
        t.merge(log.filter(pmod(col("doc_id"), lit(2)) === 1))
        s.read.format("graft")
          .option("readChangeFeed", "true")
          .option("startingVersion", "0").option("endingVersion", "2")
          .load(s"$base/tbl")
          .select(col("_commit_version").cast("int").as("v"),
                  col("_change_type").as("ct"), col("doc_id"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("v", "ct", "doc_id")
      },
      duckChangeFeedSql),

    // l25: SHALLOW CLONE — zero-copy table fork (Delta CLONE): the
    // clone's v0 manifest is the source's current manifest verbatim,
    // so forking a 100-TB table costs one manifest write. The gate
    // proves the ISOLATION contract both ways: after cloning, the
    // clone takes a DML update and the SOURCE takes a delete — the
    // clone's answer must reflect its own update over the
    // clone-instant snapshot and NOTHING of the source's later
    // divergence (clone writes land in clone directories; the shared
    // bytes are read-only to both chains). The source-vacuum hazard
    // and the compact() immunization are spec-pinned
    // (GraftSourceSpec) — a hazard can't go under an oracle hash, a
    // loud failure can.
    "l25_shallow_clone" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l25", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val src = graft.sources.GraftTable.create(s, s"$base/src", docs)
        src.merge(cdcChangelog(src.read()))
        val clone = src.cloneTo(s"$base/clone")
        clone.update(col("source") === "src2",
          Map("text" -> concat(col("text"), lit(" [cloned]"))))
        src.delete(pmod(col("doc_id"), lit(3)) === 0) // must not leak in
        clone.read()
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      {
        def b(id: String) =
          s"('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 15))::BIGINT % 100"
        s"""WITH v1 AS (SELECT doc_id, source, text FROM documents),
           |log AS (
           |  SELECT 'D' AS op, doc_id, source, text
           |  FROM v1 WHERE ${b("doc_id")} < 8
           |  UNION ALL
           |  SELECT 'U', doc_id, source, text || ' (rev 2)'
           |  FROM v1 WHERE ${b("doc_id")} >= 8 AND ${b("doc_id")} < 16
           |  UNION ALL
           |  SELECT 'U', doc_id + 1000000000, source, text || ' (new)'
           |  FROM v1 WHERE ${b("doc_id")} >= 16 AND ${b("doc_id")} < 24),
           |v2 AS (
           |  SELECT doc_id, source, text FROM v1
           |  WHERE doc_id NOT IN (SELECT doc_id FROM log)
           |  UNION ALL
           |  SELECT doc_id, source, text FROM log WHERE op = 'U'),
           |v3 AS (
           |  SELECT doc_id, source,
           |         CASE WHEN source = 'src2' THEN text || ' [cloned]'
           |              ELSE text END AS text
           |  FROM v2)
           |SELECT doc_id, source, md5(text) AS fp
           |FROM v3 ORDER BY doc_id""".stripMargin
      }),

    // l26: MERGE INTO — Delta's general upsert statement for sources
    // that don't arrive op-tagged: matched rows take the FIRST
    // when-matched clause whose condition passes (delete or update
    // with SET expressions over the t/s aliases), unmatched source
    // rows insert. The gate drives all three clause kinds from one
    // action-tagged source (the cdcChangelog derivation reshaped as a
    // clause-routed source — same buckets, no op column), which also
    // exercises schema evolution: `action` is a source-only column,
    // so the table gains it (null for survivors and updated rows,
    // 'ins' for inserted ones). Execution is two passes over TOUCHED
    // files only (manifest interval-join admission, then the merge
    // dispatch) — a selective source's write cost ∝ touched + source at
    // any table size (this gate's hash-spread source touches every file
    // and takes the full arm).
    // Oracle: the merge statement replayed as joins in DuckDB.
    "l26_merge_into" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l26", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val t = graft.sources.GraftTable.create(s, s"$base/tbl", docs)
        val bk = Dedup.splitBucket(col("doc_id"))
        val src = docs.filter(bk < 8)
          .select(col("doc_id"), col("source"), col("text"),
            lit("del").as("action"))
          .unionByName(docs.filter(bk >= 8 && bk < 16)
            .select(col("doc_id"), col("source"), col("text"),
              lit("upd").as("action")))
          .unionByName(docs.filter(bk >= 16 && bk < 24)
            .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
              col("source"),
              concat(col("text"), lit(" (new)")).as("text"),
              lit("ins").as("action")))
        t.mergeInto(src)
          .whenMatchedDelete("s.action = 'del'")
          .whenMatchedUpdate(Map("text" -> "concat(t.text, ' (rev 2)')"),
            "s.action = 'upd'")
          .whenNotMatchedInsertAll()
          .execute()
        t.read()
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"), col("action"))
          .orderBy("doc_id")
      },
      {
        def b(id: String) =
          s"('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 15))::BIGINT % 100"
        s"""WITH v1 AS (SELECT doc_id, source, text FROM documents),
           |src AS (
           |  SELECT doc_id, source, text, 'del' AS action
           |  FROM v1 WHERE ${b("doc_id")} < 8
           |  UNION ALL
           |  SELECT doc_id, source, text, 'upd'
           |  FROM v1 WHERE ${b("doc_id")} >= 8 AND ${b("doc_id")} < 16
           |  UNION ALL
           |  SELECT doc_id + 1000000000, source, text || ' (new)', 'ins'
           |  FROM v1 WHERE ${b("doc_id")} >= 16 AND ${b("doc_id")} < 24),
           |v2 AS (
           |  SELECT t.doc_id, t.source,
           |         CASE WHEN s.action = 'upd' THEN t.text || ' (rev 2)'
           |              ELSE t.text END AS text,
           |         CAST(NULL AS VARCHAR) AS action
           |  FROM v1 t LEFT JOIN src s ON t.doc_id = s.doc_id
           |  WHERE s.doc_id IS NULL OR s.action <> 'del'
           |  UNION ALL
           |  SELECT doc_id, source, text, action FROM src
           |  WHERE doc_id NOT IN (SELECT doc_id FROM v1))
           |SELECT doc_id, source, md5(text) AS fp, action
           |FROM v2 ORDER BY doc_id""".stripMargin
      }),

    // l27: DELETION VECTORS — Delta's DV-backed DELETE: the matching
    // rows are soft-deleted by landing their (file, key) identities as
    // a churn-sized tombstone table in the new version — the manifest
    // carries forward VERBATIM and ZERO data files are written, so a
    // scattered delete (one row in each of 10k files at 100 TB) costs
    // one predicate scan + a tombstone write instead of 10k file
    // rewrites (the l22 delete's rewrite cost). Readers pay one
    // broadcast anti-join on (file, key) until compaction collects the
    // DVs; the per-FILE half of the identity is what makes re-insertion
    // sound — the gate interleaves a DV delete, an upsert that
    // RE-INSERTS a subset of the deleted keys (hash-spread keys touch
    // every file, so the merge rewrites them all and collects the first
    // DV; DeletionVectorSpec re-inserts under a carried DV), and a
    // second DV delete. Oracle: the three statements replayed logically.
    "l27_deletion_vectors" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l27", d)
        deleteTree(java.nio.file.Paths.get(base))
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val t = graft.sources.GraftTable.create(s, s"$base/tbl", docs)
        t.deleteVectored(pmod(col("doc_id"), lit(10)) === 3)
        t.merge(docs.filter(pmod(col("doc_id"), lit(20)) === 3)
          .select(lit("U").as("op"), col("doc_id"), col("source"),
            concat(col("text"), lit(" (back)")).as("text")))
        t.deleteVectored(pmod(col("doc_id"), lit(7)) === 1)
        // targeted collection (Delta REORG APPLY PURGE): rewrite only
        // DV-heavy files, dropping their tombstones — a pure layout
        // change, invisible under the oracle hash
        t.reorgPurge()
        t.read()
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      """WITH v1 AS (SELECT doc_id, source, text FROM documents),
        |v2 AS (SELECT * FROM v1 WHERE doc_id % 10 <> 3),
        |v3 AS (SELECT * FROM v2
        |       UNION ALL
        |       SELECT doc_id, source, text || ' (back)'
        |       FROM v1 WHERE doc_id % 20 = 3),
        |v4 AS (SELECT * FROM v3 WHERE doc_id % 7 <> 1)
        |SELECT doc_id, source, md5(text) AS fp
        |FROM v4 ORDER BY doc_id""".stripMargin),

    // l09: FILE-STATS MANIFEST pruning — the lake-metadata layer. Spark
    // already skips row groups whose parquet footer stats reject a
    // predicate, but it must LIST the lake and OPEN every footer first:
    // at 100 TB / ~10M files that per-file IO is the planning cost, not
    // the data scan. The manifest is a TABLE of per-file stats (path,
    // min/max key, rows) written once at load time — the Delta/Iceberg
    // move — so planning a predicate is one scan of the manifest (a
    // DISTRIBUTED filter; only the admitted paths, sized by query
    // selectivity, ever reach the driver) and the data read opens
    // exactly the admitted files. The date-range-partitioned layout
    // gives each file a tight l_shipdate span, so a 2-month window
    // admits ~2 of 32 files (ManifestSpec measures it, proves the scan
    // touches ONLY admitted files via inputFiles, and pins the
    // empty-range path). Oracle: the same aggregate over the source
    // table — manifest pruning must be invisible to the answer.
    "l09_stats_manifest" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l09", d)
        writeManifestLake(s, Tables.lineitem(s, d), base)
        manifestScan(s, base, "1995-03-01", "1995-05-01")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
               sum("l_quantity").as("sum_qty"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       sum(l_quantity) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-03-01'
        |  AND l_shipdate <  TIMESTAMP '1995-05-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    "l08_cdc_apply_partitioned" -> OpDef.sql(
      (s, d) => {
        val base = scratch("l08", d)
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        docs.repartition(col("source"))
          .write.mode(SaveMode.Overwrite).partitionBy("source")
          .parquet(s"$base/snap")
        val v1 = s.read.parquet(s"$base/snap")
          .select("doc_id", "source", "text")
        cdcApplyPartitioned(s, s"$base/snap", cdcChangelog(v1), s"$base/stage")
        s.read.parquet(s"$base/snap")
          .select(col("doc_id"), col("source"),
                  md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      duckCdcSql)
  )

  /** c01's one-pass split: PERMISSIVE parse with a corrupt-record
    * column → (clean typed rows, quarantined raw lines). The corrupt
    * column must be REQUESTED in the schema or Spark never populates
    * it; caching before the split is required by Spark's documented
    * corrupt-record semantics (a filter on only the corrupt column
    * against an unparsed relation is otherwise unsound) — and the
    * cache is what makes the two sides ONE scan instead of two.
    */
  private[graft] def csvQuarantineRead(s: SparkSession,
      path: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("_damaged", StringType)))
    val raw = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_damaged")
      .csv(path)
      .cache()
    (raw.filter(col("_damaged").isNull).drop("_damaged"),
     raw.filter(col("_damaged").isNotNull).select(col("_damaged").as("line")))
  }

  /** c02's one-pass split: the JSON twin of [[csvQuarantineRead]].
    * Same PERMISSIVE + corrupt-column + cache discipline; the schema
    * is nested and the clean side flattens it to the typed intake
    * columns. JSON semantics differ from CSV where it matters for the
    * audit trail: a type mismatch anywhere corrupts the whole record
    * (CSV null-fills the one column), and a MISSING field is legal
    * schema-on-read (null, not corrupt) — JsonQuarantineSpec drives
    * both branches by hand.
    */
  private[graft] def jsonQuarantineRead(s: SparkSession,
      path: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("order", StructType(Seq(
        StructField("key", LongType),
        StructField("cust", LongType)))),
      StructField("status", StringType),
      StructField("_damaged", StringType)))
    val raw = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_damaged")
      .json(path)
      .cache()
    (raw.filter(col("_damaged").isNull)
       .select(col("order.key").as("o_orderkey"),
               col("order.cust").as("o_custkey"),
               col("status").as("o_orderstatus")),
     raw.filter(col("_damaged").isNotNull).select(col("_damaged").as("line")))
  }

  /** The staged-on-disk form of [[xmlIntakeLines]], memoized per orders
    * content stamp (q46's discipline) so repeated runs time the intake
    * (parse + split), not the synthetic feed's construction. Single
    * resolution point for the memo path — the c04 gate and every spec
    * reading the staged feed go through here, so the key scheme can't
    * drift between them.
    */
  private[graft] def xmlFeedDir(s: SparkSession, d: String): String = {
    val base = scratch("c04", d)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(Tables.stamp(d, "orders").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val dir = s"$base/xml_$key"
    if (!new java.io.File(dir, "_SUCCESS").exists())
      xmlIntakeLines(s, d)
        .write.mode(SaveMode.Overwrite).text(dir)
    dir
  }

  /** c04's staged feed: orders rendered as line-delimited XML records
    * with the bucket-rule damage classes, plus stray junk lines —
    * shared by the batch gate and the s22 streaming twin so both
    * intakes read the SAME bytes.
    */
  private[graft] def xmlIntakeLines(s: SparkSession, d: String): DataFrame = {
    val bucket = Dedup.splitBucket(col("o_orderkey"))
    val line = concat(lit("<order><key>"), col("o_orderkey"),
      lit("</key><cust>"), col("o_custkey"),
      lit("</cust><status>"), col("o_orderstatus"),
      lit("</status></order>"))
    Tables.orders(s, d)
      .select(
        when(bucket < 2,
          // type garbage in a long element — record-corrupt
          concat(lit("<order><key>DMG"), col("o_orderkey"),
            lit("</key><cust>"), col("o_custkey"),
            lit("</cust><status>"), col("o_orderstatus"),
            lit("</status></order>")))
        .when(bucket < 4,
          // mismatched close tag — hard-malformed XML
          concat(lit("<order><key>"), col("o_orderkey"),
            lit("</keX><cust>"), col("o_custkey"),
            lit("</cust><status>"), col("o_orderstatus"),
            lit("</status></order>")))
        .when(bucket < 6,
          // missing <cust> element — LEGAL schema-on-read null;
          // stays on the clean side
          concat(lit("<order><key>"), col("o_orderkey"),
            lit("</key><status>"), col("o_orderstatus"),
            lit("</status></order>")))
        .otherwise(line).as("value"))
      .unionByName(s.range(7).select(
        concat(lit("### not xml "), col("id")).as("value")))
  }

  /** c04/s22's shared oracle: survivorship by the bucket rule, custkey
    * nulled for the missing-element class.
    */
  private[graft] val duckXmlIntakeSql: String =
    s"""SELECT o_orderkey,
       |       CASE WHEN ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
       |                 % 100 < 6 THEN NULL ELSE o_custkey END AS o_custkey,
       |       o_orderstatus
       |FROM orders
       |WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
       |      % 100 >= 4
       |ORDER BY o_orderkey""".stripMargin

  /** c04's per-line parse + split, on any frame of `value` lines —
    * batch or STREAMING (from_xml is a plain expression, so the same
    * split runs unchanged at the intake; s22 reuses it verbatim). A
    * missing element is legal schema-on-read null; the quarantine
    * carries the ORIGINAL staged line, not the parser's echo.
    */
  private[graft] def xmlSplit(raw: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("key", LongType),
      StructField("cust", LongType),
      StructField("status", StringType),
      StructField("_damaged", StringType)))
    val parsed = raw
      .select(col("value"), from_xml(col("value"), schema,
        Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_damaged").asJava).as("r"))
    (parsed.filter(col("r._damaged").isNull)
       .select(col("r.key").as("o_orderkey"),
               col("r.cust").as("o_custkey"),
               col("r.status").as("o_orderstatus")),
     parsed.filter(col("r._damaged").isNotNull)
       .select(col("value").as("line")))
  }

  /** c04's one-pass batch read: line-staged XML records parsed per
    * line by from_xml — the splittable, per-record-recovery staging
    * the gate entry's comment motivates (the file-level rowTag reader
    * measured whole-stream poisoning from one damaged record). The
    * cache makes the clean/quarantine sides ONE scan, matching the
    * CSV/JSON twins' discipline.
    */
  private[graft] def xmlQuarantineRead(s: SparkSession,
      path: String): (DataFrame, DataFrame) =
    xmlSplit(s.read.text(path).cache())

  /** Delete all but the newest `keep` versions under `dir` (dirs named
    * `v<N>`). Foreign names are untouched; `keep` is floored at 1 and
    * the maximum version always survives. Idempotent: re-running after
    * a crash mid-delete just resumes the same deletions.
    */
  private[graft] def vacuumVersions(dir: String, keep: Int): Seq[Int] = {
    val vs = Option(new java.io.File(dir).listFiles()).map(_.toSeq)
      .getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(f => f.getName.drop(1).toInt)
      .sorted
    val doomed = vs.dropRight(math.max(1, keep))
    doomed.foreach(v => deleteTree(java.nio.file.Paths.get(dir, s"v$v")))
    doomed
  }

  private[graft] val ManifestFiles = 32

  /** l09's load path: land the fact table as `ManifestFiles` contiguous
    * l_shipdate ranges (range partition + in-file sort — tight per-file
    * min/max), then derive the manifest FROM the landed files in one
    * scan grouped by `input_file_name()`. In production the writer
    * appends manifest rows transactionally with each data commit; the
    * derive-by-scan form here doubles as the backfill/repair job an
    * existing lake runs once.
    */
  private[graft] def writeManifestLake(s: SparkSession, df: DataFrame,
      base: String): Unit = {
    df.repartitionByRange(ManifestFiles, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode(SaveMode.Overwrite).parquet(s"$base/lake")
    s.read.parquet(s"$base/lake")
      .groupBy(input_file_name().as("path"))
      .agg(min("l_shipdate").as("ship_lo"), max("l_shipdate").as("ship_hi"),
           count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$base/manifest")
  }

  /** The admitted file list for a [lo, hi) l_shipdate window: one
    * interval-overlap filter on the manifest. Distributed; only the
    * survivors (∝ query selectivity) are collected for the read.
    */
  private[graft] def manifestAdmitted(s: SparkSession, base: String,
      lo: String, hi: String): Seq[String] =
    s.read.parquet(s"$base/manifest")
      .filter(col("ship_hi") >= to_timestamp(lit(lo)) &&
              col("ship_lo") < to_timestamp(lit(hi)))
      .select("path").collect().map(_.getString(0)).toSeq

  /** A manifest-planned scan: read exactly the admitted files, with the
    * residual predicate still applied (stats admit whole files; rows
    * inside an admitted file can still miss the window).
    */
  private[graft] def manifestScan(s: SparkSession, base: String,
      lo: String, hi: String): DataFrame = {
    val admitted = manifestAdmitted(s, base, lo, hi)
    val src =
      if (admitted.isEmpty)
        // zero admitted files: an empty frame with the LAKE's schema
        // (a reader downstream must see the same shape either way)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          s.read.parquet(s"$base/lake").schema)
      else s.read.parquet(admitted: _*)
    src.filter(col("l_shipdate") >= to_timestamp(lit(lo)) &&
               col("l_shipdate") < to_timestamp(lit(hi)))
  }

  /** The CDC-apply oracle, shared by l06 and its streaming twin s19:
    * DuckDB replays the bucket-rule changelog derivation and the merge
    * (v1 minus superseded keys, union upsert payloads). `logWhere`
    * restricts the applied changelog — l11's time-travel oracle replays
    * only the first tick's half of the log to reconstruct the MID
    * version. `v2Where` filters the merged RESULT — l12's
    * manifest-planned range read must equal the full merge restricted
    * to the key range.
    */
  private[graft] def duckCdcSqlWhere(logWhere: String,
      v2Where: String = "TRUE"): String = {
    def b(id: String) =
      s"('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 15))::BIGINT % 100"
    s"""WITH v1 AS (SELECT doc_id, source, text FROM documents),
       |fulllog AS (
       |  SELECT 'D' AS op, doc_id, source, text
       |  FROM v1 WHERE ${b("doc_id")} < 8
       |  UNION ALL
       |  SELECT 'U', doc_id, source, text || ' (rev 2)'
       |  FROM v1 WHERE ${b("doc_id")} >= 8 AND ${b("doc_id")} < 16
       |  UNION ALL
       |  SELECT 'U', doc_id + 1000000000, source, text || ' (new)'
       |  FROM v1 WHERE ${b("doc_id")} >= 16 AND ${b("doc_id")} < 24),
       |log AS (SELECT * FROM fulllog WHERE $logWhere),
       |v2 AS (
       |  SELECT doc_id, source, text FROM v1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM log)
       |  UNION ALL
       |  SELECT doc_id, source, text FROM log WHERE op = 'U')
       |SELECT doc_id, source, md5(text) AS fp
       |FROM v2 WHERE $v2Where ORDER BY doc_id""".stripMargin
  }

  private[graft] val duckCdcSql: String = duckCdcSqlWhere("TRUE")

  /** The r2e epsilon-rounding convention (Relational.r2e), local copy. */
  private def r2(c: Column): Column = round(c + lit(1e-6), 2)

  /** The MERGE kernel of l06: drop every snapshot row the changelog
    * supersedes (broadcast anti join — the snapshot side never
    * shuffles), then union the upsert payloads.
    */
  private[graft] def cdcMerge(v1: DataFrame, log: DataFrame,
      key: String = "doc_id"): DataFrame =
    v1.join(broadcast(log.select(key)), Seq(key), "left_anti")
      .unionByName(log.filter(col("op") === "U").drop("op")
        .select(v1.columns.map(col): _*))

  /** The big-delta MERGE form (l07): a backfill-sized changelog cannot
    * broadcast, so the supersede step is a sort-merge anti join instead
    * (the `merge` hint pins the strategy — without it a small gate-scale
    * log would broadcast and the demonstrated plan would be l06's). Over
    * snapshot and changelog written as doc_id-BUCKETED lake tables with
    * matching bucket counts (d24's index discipline), both scans already
    * carry the join's hash distribution and the SMJ runs with ZERO
    * Exchange on either side — the merge cost is one co-located
    * per-bucket merge, resilient to any delta:snapshot ratio.
    * CdcScaleSpec asserts exactly that on the executed plan.
    */
  private[graft] def cdcMergeShuffled(v1: DataFrame, log: DataFrame,
      key: String = "doc_id"): DataFrame =
    v1.join(log.select(key).hint("merge"), Seq(key), "left_anti")
      .unionByName(log.filter(col("op") === "U").drop("op")
        .select(v1.columns.map(col): _*))

  /** Delta-size dispatch between the two merge forms (the boiler probe's
    * model-size-switch discipline): a trickle tick broadcasts, a
    * backfill tick sort-merges. The count costs one metadata-cheap job
    * over the (usually tiny) changelog — in production it comes free
    * from the log's commit metadata.
    */
  private[graft] def cdcMergeAuto(v1: DataFrame, log: DataFrame,
      broadcastMaxKeys: Long = 4L << 20,
      key: String = "doc_id"): DataFrame =
    if (log.count() <= broadcastMaxKeys) cdcMerge(v1, log, key)
    else cdcMergeShuffled(v1, log, key)

  /** Partition-scoped CDC apply (l08): rewrite ONLY the snapshot
    * partitions that contain changed keys, in place. The l06 form
    * rewrites the whole snapshot per tick — correct, but at 100 TB a
    * trickle tick touching 0.1% of partitions must not pay a 100-TB
    * write. Steps:
    *
    *  1. the touched-partition list comes from the changelog (driver-
    *     side, partition-count-sized — kilobytes);
    *  2. the snapshot read is FILTERED to touched partitions, which
    *     directory-prunes before any IO (l01's layout contract);
    *  3. the merged rows stage to a scratch dir first — Spark refuses
    *     an Overwrite of a path the same plan reads, and the
    *     stage-then-commit shape is what a production lake does anyway;
    *  4. the commit is a DYNAMIC partition overwrite: only partitions
    *     present in the staged output rewrite, every other partition's
    *     files are untouched bytes (CdcScaleSpec asserts identical file
    *     lists+mtimes);
    *  5. a touched partition whose every row was deleted produces NO
    *     staged output, and dynamic overwrite cannot delete what it
    *     doesn't write — those partitions are removed explicitly (the
    *     one imperative step a declarative overwrite can't express).
    */
  /** Materialize-and-cut for SCRATCH stages, with a scale-safe policy:
    * an eager `localCheckpoint()` under the byte bound (blocks pinned in
    * executor storage, lineage cut to a flat LogicalRDD — no parquet
    * encode/re-list/footer read), a durable scratch-parquet round trip
    * above it (an executor loss cannot lose the stage; localCheckpoint
    * blocks are non-replicated and unrecoverable once lineage is cut).
    * The decision reads the OPTIMIZED plan's size estimate — driver-side
    * planning work the stage pays anyway — against
    * `spark.graft.stage.localMaxBytes` (default 256 MB; a cluster
    * deployment can lower it to 0 to force every stage durable).
    * StageCutPolicySpec pins both arms.
    */
  private[graft] def stageCutAuto(s: SparkSession, df: DataFrame,
      spillDir: String): DataFrame = {
    val bound = s.conf.getOption("spark.graft.stage.localMaxBytes")
      .map(_.toLong).getOrElse(256L << 20)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= BigInt(bound)) df.localCheckpoint()
    else {
      df.write.mode(SaveMode.Overwrite).parquet(spillDir)
      s.read.parquet(spillDir)
    }
  }

  private[graft] def cdcApplyPartitioned(s: SparkSession, snapDir: String,
      log: DataFrame, stageDir: String,
      partCols: Seq[String] = Seq("source")): Unit = {
    // the touched-partition list (driver-side, partition-count-sized);
    // the read filter is an OR of per-tuple literal conjunctions so the
    // scan directory-prunes STATICALLY — a semi-join would scope the
    // rows but still list and read every partition
    val touched = log.select(partCols.map(col): _*).distinct()
      .collect().map(r => partCols.indices.map(r.getString).toSeq).toSeq
    val touchedPred = touched
      .map(t => partCols.zip(t).map { case (c, v) => col(c) === lit(v) }
        .reduce(_ && _))
      .reduceOption(_ || _).getOrElse(lit(false))
    val snap0 = s.read.parquet(snapDir)
    val snapTouched = snap0.filter(touchedPred)
      .select(snap0.columns.map(col): _*)
    val merged = cdcMergeAuto(snapTouched, log)
      .repartition(partCols.map(col): _*)
    // the staged copy decouples the commit from its own read set (Spark
    // refuses an Overwrite of a path the plan reads, and the data must
    // be fully materialized before the touched partitions are
    // replaced). SIZE-GATED ([[stageCutAuto]]): small churn takes an
    // eager localCheckpoint (materialized once, lineage cut, no parquet
    // encode + re-list + footer read per tick); churn above the bound
    // stages durably to `stageDir` — localCheckpoint pins blocks in
    // NON-REPLICATED executor storage, so on a cluster an executor loss
    // mid-commit would lose a TB-scale touched-partition set where the
    // parquet stage is recoverable.
    val staged = stageCutAuto(s, merged, s"$stageDir/cdc_staged")
    // dynamic overwrite as a per-write option: the shared session's conf
    // stays untouched, so concurrent writers never see this write's mode
    staged.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(snapDir)
    val stillThere = staged.select(partCols.map(col): _*).distinct()
      .collect().map(r => partCols.indices.map(r.getString).toSeq).toSet
    touched.filterNot(stillThere).foreach { t =>
      val sub = partCols.zip(t).map { case (c, v) => s"$c=$v" }
      deleteTree(java.nio.file.Paths.get(snapDir, sub: _*))
    }
  }

  /** The deterministic gate changelog (l06/s19): deletes, in-place
    * updates, and fresh-id inserts derived from the snapshot by the d11
    * md5 bucket rule — the same derivation l04's diff predicts, so
    * diff(v1, apply(v1, changelog)) == l04's churn by construction.
    */
  private[graft] def cdcChangelog(v1: DataFrame): DataFrame = {
    val bucket = Dedup.splitBucket(col("doc_id"))
    v1.filter(bucket < 8)
      .select(lit("D").as("op"), col("doc_id"), col("source"), col("text"))
      .unionByName(v1.filter(bucket >= 8 && bucket < 16)
        .select(lit("U").as("op"), col("doc_id"), col("source"),
                concat(col("text"), lit(" (rev 2)")).as("text")))
      .unionByName(v1.filter(bucket >= 16 && bucket < 24)
        .select(lit("U").as("op"),
                (col("doc_id") + lit(1000000000L)).as("doc_id"),
                col("source"),
                concat(col("text"), lit(" (new)")).as("text")))
  }
}
