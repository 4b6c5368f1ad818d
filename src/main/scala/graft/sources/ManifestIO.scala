package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/** The driver side of [[GraftTable]]'s metadata plane: manifest write,
  * manifest read and write-time file stats, run on the driver through
  * parquet-hadoop and Spark's own parquet writer and reader functions,
  * with no Spark job on any path but the stats fallback
  * ([[GraftTable.scanStats]], for stats the footers cannot give). A
  * manifest is file-count-sized (one row per live data file), so
  * shipping it through a distributed write, a schema-inference job and
  * a collect job costs more in scheduling than the bytes themselves
  * (Delta keeps its commit log driver-resident for the same reason).
  *
  * On-disk layout is unchanged: a `_manifest[_token]/` directory holding
  * one parquet part file whose footer carries Spark's row-schema key, so
  * `spark.read.parquet` of the directory infers the same StructType as
  * before, and manifests written by a Spark job read back unchanged.
  */
private[graft] object ManifestIO {

  /** A manifest in memory: its (all-nullable) schema and its rows. */
  type Data = (StructType, Array[Row])

  /** The footer key Spark writes its row schema under (and reads it from
    * when inferring a parquet file's schema).
    */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def conf(s: SparkSession): Configuration =
    new Configuration(s.sparkContext.hadoopConfiguration)

  /** Spark's own listing filter: `_`- and `.`-prefixed names (markers,
    * checksums, `_SUCCESS`, nested metadata dirs) are not data.
    */
  private def isData(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  /** The data files directly under `dir`, each paired with its path as
    * Spark's file listing spells it: the name resolved against the
    * qualified directory (a raw local listing spells `file:///x` where
    * Spark's scans and `_metadata.file_path` spell `file:/x`).
    */
  private[sources] def dataFiles(c: Configuration,
      dir: String): Array[(HPath, FileStatus)] = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(c)
    val q = fs.makeQualified(p)
    if (!fs.exists(q)) Array.empty
    else fs.listStatus(q).filter(isData).sortBy(_.getPath.getName)
      .map(st => (new HPath(q, st.getPath.getName), st))
  }

  /** Replace the manifest directory `path` with one parquet part file of
    * `rows` under `schema` (made nullable, as a Spark file write makes
    * it). Written through Spark's own parquet writer factory, so the
    * encoding and footer metadata are what a `df.write.parquet` writes.
    * Returns the manifest exactly as a later read returns it.
    */
  def writeManifest(s: SparkSession, path: String, schema: StructType,
      rows: Seq[Row]): Data = {
    val sch = StructType(schema.fields.map(_.copy(nullable = true)))
    val job = Job.getInstance(conf(s))
    val dir = new HPath(path)
    val fs = dir.getFileSystem(job.getConfiguration)
    fs.delete(dir, true) // overwrite: a replay replaces the last attempt
    fs.mkdirs(dir)
    val factory = new ParquetFileFormat()
      .prepareWrite(s, job, Map.empty, sch)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID())
    val file = new HPath(dir, s"part-00000-${java.util.UUID.randomUUID()}" +
      s"-c000${factory.getFileExtension(ctx)}")
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(sch)
    val w = factory.newInstance(file.toString, sch, ctx)
    try rows.foreach(r => w.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally w.close()
    (sch, rows.map(r => new GenericRowWithSchema(r.toSeq.toArray, sch): Row)
      .toArray)
  }

  /** Read the manifest directory `path` on the driver: the schema from
    * the first part file's footer (Spark's inference rule when schemas
    * are not merged), the rows through Spark's own parquet reader
    * function, called in-process instead of inside a scan task. Every
    * manifest, whether this object or a Spark job wrote it, carries
    * Spark's schema key; one without it fails loudly.
    */
  def readManifest(s: SparkSession, path: String): Data = {
    val c = conf(s)
    val parts = dataFiles(c, path)
    val sch = parts.headOption
      .flatMap(f => Option(footer(c, f._2).getFileMetaData
        .getKeyValueMetaData.get(SparkSchemaKey)))
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"manifest $path has no part file carrying Spark's row schema"))
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      s, sch, new StructType(), sch, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), c)
    val toScala = CatalystTypeConverters.createToScalaConverter(sch)
    (sch, parts.flatMap { case (p, st) =>
      read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(p), 0L,
          st.getLen, Array.empty[String], st.getModificationTime,
          st.getLen))
        .map(toScala(_).asInstanceOf[Row]).toArray
    })
  }

  /** Read options from `c`: the reader's default options build a fresh
    * Hadoop `Configuration`, whose default-resource parse costs ~20 ms
    * per file opened.
    */
  private def open(c: Configuration, st: FileStatus): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(st, c),
      HadoopReadOptions.builder(c).build())

  private def footer(c: Configuration, st: FileStatus): ParquetMetadata = {
    val r = open(c, st)
    try r.getFooter finally r.close()
  }

  /** Per-file manifest rows (path, key_lo, key_hi, n_rows, n_bytes, plus
    * `<c>_lo/_hi` for each of `statCols`) for the data files directly
    * under `dir`, from the parquet footers the writer just produced:
    * row-group min/max statistics, row counts and file lengths. `path`
    * is spelled as `_metadata.file_path` spells it and zero-row files
    * are skipped — both exactly as the scan-derived stats
    * ([[GraftTable.scanStats]]) behave. None when the footers cannot
    * stand in for the scan: a stat column of a type whose parquet
    * min/max is not its Spark min/max, a row group without statistics
    * for a stat column, binary statistics the writer may truncate, or
    * more files than `spark.sql.sources.parallelPartitionDiscovery
    * .threshold` — where Spark itself stops doing metadata work on the
    * driver.
    */
  def footerStats(s: SparkSession, dir: String, key: String,
      schema: StructType, statCols: Seq[String] = Nil): Option[Data] = {
    val c = conf(s)
    val cols = key +: statCols.filterNot(_ == key)
    val fields = cols.map(n => schema.fields.find(_.name == n)
      .orElse(schema.fields.find(_.name.equalsIgnoreCase(n))))
    if (fields.exists(f => f.isEmpty || !supported(f.get.dataType)))
      return None
    val truncateKey = "parquet.statistics.truncate.length"
    if (fields.exists(_.get.dataType == StringType) &&
        (s.conf.getOption(truncateKey).isDefined ||
          c.get(truncateKey) != null))
      return None
    val files = dataFiles(c, dir)
    val threshold =
      s.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
        .toInt
    if (files.length > threshold) return None
    val out = Array.newBuilder[Row]
    val statsSchema = StructType(
      Seq(StructField("path", StringType),
        StructField("key_lo", fields.head.get.dataType),
        StructField("key_hi", fields.head.get.dataType),
        StructField("n_rows", LongType), StructField("n_bytes", LongType)) ++
      cols.tail.zip(fields.tail).flatMap { case (n, f) =>
        Seq(StructField(s"${n}_lo", f.get.dataType),
          StructField(s"${n}_hi", f.get.dataType)) })
    for ((p, st) <- files) {
      val blocks = footer(c, st).getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      if (nRows > 0) {
        val spans = fields.map { f =>
          val name = f.get.name
          val perBlock = blocks.map { b =>
            b.getColumns.asScala
              .find(_.getPath.toArray.sameElements(Array(name)))
              .map(cc => (cc.getPrimitiveType.getPrimitiveTypeName,
                cc.getStatistics, b.getRowCount))
          }
          span(f.get.dataType, perBlock)
        }
        if (spans.exists(_.isEmpty)) return None
        val (klo, khi) = spans.head.get
        val values = Seq[Any](SparkPath.fromPath(p).urlEncoded,
          klo, khi, nRows, st.getLen) ++
          spans.tail.flatMap { sp => val (l, h) = sp.get; Seq(l, h) }
        out += new GenericRowWithSchema(values.toArray, statsSchema)
      }
    }
    Some((statsSchema, out.result()))
  }

  /** Types whose parquet min/max statistics order and decode exactly as
    * Spark's `min`/`max` do.
    */
  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case t => t == StringType
  }

  /** One column's (lo, hi) over a file's row groups, or None when some
    * row group's statistics cannot vouch for its values. A row group
    * whose values are all null contributes nothing, as `min` ignores
    * nulls; a column null throughout the file spans (null, null).
    */
  private def span(dt: DataType,
      blocks: Seq[Option[(PrimitiveTypeName, Statistics[_], Long)]])
      : Option[(Any, Any)] = {
    val expected = dt match {
      case LongType => PrimitiveTypeName.INT64
      case StringType => PrimitiveTypeName.BINARY
      case _ => PrimitiveTypeName.INT32
    }
    def decode(v: Any): Any = (dt, v) match {
      case (LongType, l: java.lang.Long) => l.longValue
      case (IntegerType, i: java.lang.Integer) => i.intValue
      case (ShortType, i: java.lang.Integer) => i.shortValue
      case (ByteType, i: java.lang.Integer) => i.byteValue
      case (_, b: Binary) => b.toStringUsingUTF8
    }
    val ord = dt match {
      case StringType =>
        Ordering.by[Any, org.apache.spark.unsafe.types.UTF8String](v =>
          org.apache.spark.unsafe.types.UTF8String.fromString(
            v.asInstanceOf[String]))
      case _ => Ordering.by[Any, Long](v => v.asInstanceOf[Number].longValue)
    }
    var lo: Option[Any] = None
    var hi: Option[Any] = None
    for (b <- blocks) b match {
      case Some((tn, st, rows)) if tn == expected && st != null &&
          !st.isEmpty =>
        if (st.hasNonNullValue) {
          val (l, h) = (decode(st.genericGetMin), decode(st.genericGetMax))
          lo = Some(lo.fold(l)(ord.min(_, l)))
          hi = Some(hi.fold(h)(ord.max(_, h)))
        } else if (!(st.isNumNullsSet && st.getNumNulls == rows))
          return None
      case _ => return None
    }
    Some((lo.orNull, hi.orNull))
  }
}
