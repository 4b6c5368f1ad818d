package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{IntegerType, StringType, StructField,
  StructType}

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * [[GraftTable]] facade as a registered Spark data source, so the
  * versioned lake table plugs into every Spark surface that takes a
  * format string (SQL temp views, `CREATE TABLE ... USING graft`,
  * PySpark, JDBC gateways) instead of requiring the Scala API.
  *
  * Built DELIBERATELY on the stable public source contract
  * (`RelationProvider` / `PrunedFilteredScan` /
  * `CreatableRelationProvider`, the API JDBC ships on) rather than the
  * DSv2 connector SPI: a DSv2 `PartitionReader` would have to re-own the
  * parquet decode path (Spark's vectorized parquet reader is an internal
  * `execution` class), while the V1 relation hands Spark a plan fragment
  * this source builds from PUBLIC API only — the manifest-admitted file
  * list read through `spark.read.parquet`. Everything below the
  * admission keeps Spark's native strengths: vectorized scan, row-group
  * stat skipping, column pruning, whole-stage codegen.
  *
  * What the source adds over a plain parquet read:
  *  - PLANNING-TIME FILE PRUNING: pushed-down filters on the table key
  *    (and on any column a z-order [[GraftTable.compact]] recorded
  *    manifest spans for) are evaluated against the version's manifest —
  *    one metadata-sized scan — and only span-admitted files reach the
  *    data scan. At 100 TB / 10M files this is the Delta/Iceberg move:
  *    planning IO proportional to the MANIFEST, data IO proportional to
  *    selectivity, and no per-footer listing of the lake. NULL spans
  *    (files a later trickle tick wrote unprofiled) always admit — a
  *    missing stat widens the read, never loses rows.
  *  - TIME TRAVEL via options: `versionAsOf` (a committed version
  *    number) or `timestampAsOf` (ISO-8601; resolves to the newest
  *    version committed at or before it — the marker payloads ARE the
  *    commit log). Omitted → current version.
  *  - WRITES with lake semantics: `Append` is a KEYED UPSERT (every row
  *    an 'U' op through [[GraftTable.merge]] — schema ADDITIONS evolve,
  *    silent column drops fail loudly), `Overwrite` lands the frame as a
  *    fresh self-contained version ([[GraftTable.replace]] — the old
  *    versions stay time-travelable until vacuum), `ErrorIfExists` /
  *    `Ignore` behave per their contract. Deletes are not expressible
  *    through `DataFrameWriter` — use the facade's changelog merges.
  *
  * Correctness stance: ALL pushed filters are declared unhandled, so
  * Spark re-applies every predicate above the scan — the source's
  * pruning and partial filter translation can only ever NARROW IO,
  * never change semantics. (The translated filters are also applied to
  * the inner parquet frame, so row-group stat skipping still engages.)
  *
  * Options: `key` (the table's merge key, default "doc_id") —
  * must match the key the table was created with; `versionAsOf`;
  * `timestampAsOf` (reads only).
  */
final class GraftSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft source requires a path: spark.read.format(\"graft\").load(dir)"))

  // ── streaming: the table as a source (tail the feed) and a sink
  //    (exactly-once versioned merges) — see GraftStream.scala ──

  /** The stream's fixed schema: the CURRENT table schema at start, plus
    * the CDF meta columns in feed mode. Fixed-at-start is the streaming
    * contract (Delta's too) — pre-evolution steps project with typed
    * nulls, post-start evolutions need a stream restart.
    */
  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft streaming source derives its schema from the table; drop " +
        "the user-specified schema")
    val t = GraftTable.open(ctx.sparkSession, pathOf(parameters),
      parameters.getOrElse("key", "doc_id"))
    val base = t.schemaAsOf(t.currentVersion)
    val s =
      if (parameters.get("readChangeFeed").exists(_.trim.toBoolean))
        StructType(base.fields ++ Seq(
          StructField("_change_type", StringType),
          StructField("_commit_version", IntegerType)))
      else base
    (shortName(), s)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = ctx.sparkSession
    val dir = pathOf(parameters)
    val t = GraftTable.open(spark, dir, parameters.getOrElse("key", "doc_id"))
    val cdf = parameters.get("readChangeFeed").exists(_.trim.toBoolean)
    val startVal = parameters.getOrElse("startingVersion", "earliest")
      .trim match {
      case "earliest" => -1L
      case "latest" => t.currentVersion.toLong
      case v =>
        val n = v.toLong
        require(n >= 0 && n <= t.currentVersion,
          s"graft stream at $dir: startingVersion $n is not a committed " +
            s"version (chain is at v${t.currentVersion}); use 'earliest' " +
            "or 'latest'")
        n
    }
    val maxSteps = parameters.get("maxStepsPerTrigger").map { v =>
      val m = v.trim.toInt
      require(m >= 1,
        s"graft stream at $dir: maxStepsPerTrigger must be >= 1, got $m")
      m
    }
    new GraftStreamSource(spark, t, cdf, startVal, maxSteps, metadataPath,
      sourceSchema(ctx, None, providerName, parameters)._2)
  }

  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode != OutputMode.Complete(),
      "graft sink takes Append/Update (rows are keyed upserts, or a CDC " +
        "changelog when an `op` column is present); Complete mode would " +
        "rewrite the whole table every batch — use the batch writer's " +
        "Overwrite instead")
    require(partitionColumns.isEmpty,
      "graft sink ignores partitionBy — the table's layout is the " +
        "facade's (range-clustered on the key, manifest-profiled)")
    new GraftStreamSink(ctx.sparkSession, pathOf(parameters),
      parameters.getOrElse("key", "doc_id"))
  }

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = ctx.sparkSession
    val dir = pathOf(parameters)
    val key = parameters.getOrElse("key", "doc_id")
    val t = GraftTable.open(spark, dir, key)
    require(!(parameters.contains("versionAsOf") &&
              parameters.contains("timestampAsOf")),
      s"graft source at $dir: versionAsOf and timestampAsOf are exclusive")
    val pinned = parameters.get("versionAsOf").map(_.trim.toInt)
      .orElse(parameters.get("timestampAsOf").map(ts =>
        t.versionAt(java.time.Instant.parse(ts.trim))))
    if (parameters.get("readChangeFeed").exists(_.trim.toBoolean)) {
      // Delta's CDF read shape: table_changes between two versions.
      // endingVersion defaults to current; the churn-sized feed needs
      // no manifest pruning (each step's diff is already output ∝
      // changed keys, never snapshot).
      require(pinned.isEmpty,
        s"graft source at $dir: readChangeFeed takes startingVersion/" +
          "endingVersion, not versionAsOf/timestampAsOf")
      val from = parameters.getOrElse("startingVersion",
        throw new IllegalArgumentException(
          s"graft source at $dir: readChangeFeed requires " +
            "startingVersion (the feed is (startingVersion, " +
            "endingVersion])")).trim.toInt
      val to = parameters.get("endingVersion").map(_.trim.toInt)
        .getOrElse(t.currentVersion)
      GraftChangeFeedRelation(spark, t, from, to)
    } else
      GraftRelation(spark, t, pinned.getOrElse(t.currentVersion), key,
        pinnedRead = pinned.isDefined)
  }

  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = ctx.sparkSession
    val dir = pathOf(parameters)
    val key = parameters.getOrElse("key", "doc_id")
    val existing =
      try Some(GraftTable.open(spark, dir, key))
      catch { case _: IllegalStateException => None }
    existing match {
      case None => GraftTable.create(spark, dir, data, key)
      case Some(t) => mode match {
        case SaveMode.Overwrite => t.replace(data)
        case SaveMode.Append => t.merge(data.withColumn("op", lit("U")))
        case SaveMode.ErrorIfExists => throw new IllegalStateException(
          s"graft table $dir already exists (mode ErrorIfExists); use " +
            "append for an upsert or overwrite for a fresh full version")
        case SaveMode.Ignore => ()
      }
    }
    createRelation(ctx, parameters)
  }
}

object GraftSource {
  private[graft] val NoopPrune: (String, Int, Int) => Unit = (_, _, _) => ()

  /** Test seam: invoked after every manifest admission with
    * (table dir, admitted file count, total file count) — lets a spec
    * pin that a selective pushed filter really narrowed the file list.
    * The total requires an extra manifest count, so the scan pays it
    * ONLY while a seam is registered — production scans never run it.
    */
  private[graft] var onPrune: (String, Int, Int) => Unit = NoopPrune
}

/** One graft table version as a Spark relation. `buildScan` receives the
  * columns and conjunctive filters Catalyst pushed down; file admission
  * happens here (manifest spans), everything else is delegated to the
  * parquet scan those files back.
  */
private[graft] final case class GraftRelation(spark: SparkSession,
    table: GraftTable, version: Int, key: String,
    pinnedRead: Boolean = false)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  override def sqlContext: SQLContext = spark.sqlContext

  override val schema: StructType = table.schemaAsOf(version)

  /** The version's REAL byte size, from the manifest's n_bytes sum — one
    * metadata-sized scan, no file listing. Without this a V1 relation
    * reports `spark.sql.defaultSizeInBytes` (effectively infinite), so
    * Catalyst would never auto-broadcast a small graft table into a
    * join; with it, a dimension-sized version joins the way the same
    * data would as a plain parquet scan. Lazy: planned once per
    * relation, and only when the optimizer asks.
    */
  override lazy val sizeInBytes: Long = {
    val m = table.manifest(version)
    if (m.columns.contains("n_bytes"))
      m.agg(sum("n_bytes")).head().getLong(0)
    else super.sizeInBytes // a pre-n_bytes manifest: stay conservative
  }

  /** SQL DML through the catalog: `INSERT INTO` is the keyed upsert,
    * `INSERT OVERWRITE` the whole-table replace — the same mapping the
    * writer modes use. Writes target the TABLE and refuse loudly only
    * through an EXPLICITLY pinned relation (versionAsOf/timestampAsOf —
    * inserting "into history" would silently fork it); an unpinned
    * relation the catalog cached before a later write is still a valid
    * write handle (the version field is its READ snapshot — standard
    * catalog-cache semantics; REFRESH TABLE re-reads).
    */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(!pinnedRead,
      s"INSERT into graft table ${table.dir} through a time-travel " +
        s"relation (pinned at v$version) — writes go to the current " +
        "table, read it without versionAsOf/timestampAsOf")
    if (overwrite) table.replace(data)
    else table.merge(data.withColumn("op", lit("U")))
  }

  /** Everything is unhandled: Spark re-applies every filter above the
    * scan, so this source's pruning is IO-only (see class doc).
    */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  /** The scan below is a real Spark plan producing InternalRow already;
    * declaring needConversion=false hands its rows straight to the
    * parent scan node instead of round-tripping every row through an
    * external Row — the per-row tax a V1 source otherwise pays (the
    * contract: when false, buildScan's RDD[Row] must actually carry
    * InternalRow — `queryExecution.toRdd` below is exactly that).
    */
  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val m = table.manifest(version)
    val spanPred = filters.flatMap(manifestPred(m.columns.toSet, _))
      .reduceOption(_ && _)
    val all = m.select("path")
    val admitted = spanPred.fold(all)(p => m.filter(p).select("path"))
      .collect().map(_.getString(0)).toIndexedSeq
    if (spanPred.isDefined && (GraftSource.onPrune ne GraftSource.NoopPrune))
      GraftSource.onPrune(table.dir, admitted.size, m.count().toInt)
    val base =
      if (admitted.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else table.minusDv(version,
        spark.read.schema(schema).parquet(admitted: _*))
    // re-apply what translates so parquet row-group stats still skip
    // (unhandledFilters above keeps Spark's own re-check regardless)
    val filtered = filters.flatMap(dataPred).foldLeft(base)(_ filter _)
    filtered.select(requiredColumns.toIndexedSeq.map(col): _*)
      .queryExecution.toRdd.asInstanceOf[RDD[Row]] // needConversion=false
  }

  /** The manifest span columns backing data column `c`: the table key's
    * spans are `key_lo/key_hi`; a z-order compact records `<c>_lo/_hi`
    * for its clustering columns. None → `c` carries no spans, filters on
    * it cannot prune files.
    */
  private def spanPrefix(manifestCols: Set[String], c: String): Option[String] =
    if (c == key) Some("key")
    else if (manifestCols.contains(s"${c}_lo")) Some(c)
    else None

  /** File-admission predicate for one pushed filter, over the manifest's
    * span columns — or None when the filter can't prune. Soundness: the
    * admission must be a SUPERSET of the files holding matching rows, so
    * every translation only uses interval overlap, a NULL span always
    * admits, and under And a missing side just widens (all contexts here
    * are monotone — Not is never translated).
    */
  private def manifestPred(mc: Set[String], f: Filter): Option[Column] = {
    def span(c: String)(pred: String => Column): Option[Column] =
      spanPrefix(mc, c).map(p => col(s"${p}_lo").isNull || pred(p))
    f match {
      case EqualTo(c, v) =>
        span(c)(p => col(s"${p}_hi") >= lit(v) && col(s"${p}_lo") <= lit(v))
      case EqualNullSafe(c, v) if v != null =>
        span(c)(p => col(s"${p}_hi") >= lit(v) && col(s"${p}_lo") <= lit(v))
      case GreaterThan(c, v) => span(c)(p => col(s"${p}_hi") > lit(v))
      case GreaterThanOrEqual(c, v) => span(c)(p => col(s"${p}_hi") >= lit(v))
      case LessThan(c, v) => span(c)(p => col(s"${p}_lo") < lit(v))
      case LessThanOrEqual(c, v) => span(c)(p => col(s"${p}_lo") <= lit(v))
      case In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
        span(c)(p => vs.map(v =>
          col(s"${p}_hi") >= lit(v) && col(s"${p}_lo") <= lit(v))
          .reduce(_ || _))
      case And(l, r) =>
        (manifestPred(mc, l), manifestPred(mc, r)) match {
          case (Some(a), Some(b)) => Some(a && b)
          case (a, b) => a.orElse(b) // one side still prunes soundly
        }
      case Or(l, r) => // both sides must prune or neither
        for (a <- manifestPred(mc, l); b <- manifestPred(mc, r)) yield a || b
      case _ => None
    }
  }

  /** Exact Column translation of a pushed filter for the inner parquet
    * frame (row-group stat skipping) — all-or-nothing per node, so the
    * result under Or/Not is always the filter's precise semantics.
    */
  private def dataPred(f: Filter): Option[Column] = f match {
    case EqualTo(c, v) => Some(col(c) === lit(v))
    case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
    case GreaterThan(c, v) => Some(col(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case LessThan(c, v) => Some(col(c) < lit(v))
    case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
    case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
    case IsNull(c) => Some(col(c).isNull)
    case IsNotNull(c) => Some(col(c).isNotNull)
    case StringStartsWith(c, v) => Some(col(c).startsWith(v))
    case StringEndsWith(c, v) => Some(col(c).endsWith(v))
    case StringContains(c, v) => Some(col(c).contains(v))
    case And(l, r) => for (a <- dataPred(l); b <- dataPred(r)) yield a && b
    case Or(l, r) => for (a <- dataPred(l); b <- dataPred(r)) yield a || b
    case Not(ch) => dataPred(ch).map(!_)
    case _ => None
  }
}

/** The change data feed through the connector — Delta's CDF read shape
  * (`readChangeFeed` + `startingVersion`/`endingVersion` options) over
  * [[GraftTable.changes]]: one row per changed key per version step in
  * (from, to], typed `_change_type` with both update images, derived
  * purely from the stored versions. No pruning machinery: the feed
  * reads the files each step changed (the manifests' per-step
  * difference), so the relation is a plain scan of a frame that was
  * never snapshot-sized to begin with.
  */
private[graft] final case class GraftChangeFeedRelation(
    spark: SparkSession, table: GraftTable, from: Int, to: Int)
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = spark.sqlContext

  private def feed: DataFrame = table.changes(from, to)

  override val schema: StructType = feed.schema

  override def needConversion: Boolean = false // see GraftRelation's note

  override def buildScan(): RDD[Row] =
    feed.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}
