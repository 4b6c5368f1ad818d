package graft.sources

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField,
  StructType}
import graft.operators.Lake

/** A versioned keyed table in the lake — the unified facade over the
  * engine's lake-metadata parts, which until r14 shipped as separate
  * operators over ad-hoc `v{N}` directory conventions: CDC merge
  * dispatch (l06 broadcast / l07 exchange-free bucketed SMJ, auto-picked
  * by delta size — [[Lake.cdcMergeAuto]]), version chains + retention
  * (l10's [[Lake.vacuumVersions]] semantics), a marker-file commit
  * protocol (s21's discipline: data first, marker last, uncommitted
  * directories invisible to every reader), and — r15 — l08's
  * touched-slice rewrite as the trickle-tick merge path and l03's
  * schema evolution as a merge-time capability.
  *
  * Layout: `dir/v{N}/` holds the version's NEW parquet files, its
  * `_manifest/` (one (path, key_lo, key_hi, n_rows, n_bytes) row per
  * live data file — paths may point into OLDER version directories after
  * a scoped merge; a z-order [[compact]] adds per-file `<col>_lo/_hi`
  * spans for its clustering keys), its `_graft_schema.json` (the
  * version's schema — what makes a mixed-vintage file set read with null
  * backfill, and time travel return the OLD schema verbatim after an
  * evolution), optionally a `_graft_dv` tombstone table (the version's
  * deletion vector — see [[deleteVectored]]), and `_GRAFT_COMMITTED`,
  * written AFTER everything else —
  * readers only believe marked versions, so a writer crash mid-version
  * leaves an invisible (and overwritable) directory, never a torn read.
  * Every read plans from the manifest: the file list IS the version.
  *
  * ALL metadata IO (version listing, markers, schema files, the vacuum
  * sweep) routes through the Hadoop `FileSystem` resolved from the
  * table's own URI — `dir` may live on any configured scheme (HDFS, an
  * object store through its Hadoop connector, `file:`), the same
  * resolution Spark's parquet scans use. Nothing on the metadata path
  * touches `java.io.File`/`java.nio` (GraftTableFsSpec drives the whole
  * lifecycle over a non-`file:` scheme to pin that).
  *
  * One merge dispatch, two write arms: every keyed write ([[merge]],
  * [[mergeAs]], [[delete]], [[update]], [[mergeInto]], the connector's
  * Append and the streaming sink) measures which of the base version's
  * files its changelog touches, and the touch fraction picks the arm —
  * the caller never does:
  *  - under half the files touched: only those files are rewritten;
  *    untouched files carry forward in the new manifest as the SAME
  *    bytes (l08's partition-scoped rewrite re-expressed over the
  *    manifest — at 100 TB a 0.1%-of-keys tick pays ~0.1% of the write,
  *    not a full-snapshot rewrite). Vacuum is reference-aware: a retired
  *    version's files survive exactly as long as a retained manifest
  *    still points at them.
  *  - half or more: every file is rewritten, so the new version is
  *    self-contained, range-partitioned + key-sorted (l10's model —
  *    replay-overwritable, vacuum drops whole directories).
  *
  * SCHEMA EVOLUTION (both arms): a changelog carrying columns
  * the snapshot lacks ADDS them — old rows read as null (the parquet
  * reader backfills from the version's stored schema), `readAsOf(k)`
  * keeps returning version k's schema verbatim, and [[diff]] compares
  * over the union schema. A changelog MISSING current columns fails
  * loudly: additions evolve, silent drops don't.
  *
  * READER-vs-VACUUM RACE (single-writer assumed): a DataFrame planned
  * before a vacuum holds resolved file paths; if the vacuum retires its
  * version, acting on that frame fails LOUDLY mid-scan (the scan hits
  * deleted paths) — never silent partial data. The marker is deleted
  * FIRST, so any read planned after the marker drop fails by name
  * ("removed by retention") instead. GraftTableSpec pins both.
  *
  * CONCURRENT WRITERS: the commit marker is created with an ATOMIC
  * create-exclusive, so two writers racing the same version number
  * cannot both commit — exactly one wins, the loser fails loudly at its
  * commit (never a silently interleaved version; the replay forms drop
  * the old marker first, making the version invisible for the rewrite's
  * duration, then re-commit exclusively). Under the SINGLE-WRITER
  * forms the loser's in-flight DATA writes may still have overwritten
  * the winner's bytes before it failed — their guard's job is to make
  * a violated assumption LOUD (GraftTableSpec's interleaved-writer leg
  * pins it). Writers that genuinely race use [[mergeConcurrent]]:
  * per-attempt token-staged data/manifest/schema (racers never share a
  * path), the marker binds the winning token, losers recompute against
  * the advanced chain and retry — full OCC, serialized commits.
  *
  * Scale: reads are plain parquet scans with full pushdown; planning is
  * one driver-side read of the version's one-file manifest, no Spark
  * job (metadata-sized — the l09 argument: at 10M files the per-footer
  * planning IO is what a 100-TB reader pays, and the manifest replaces
  * it; [[ManifestIO]] is that driver plane). The full arm never
  * shuffles the snapshot on the broadcast side; the scoped arm's cost
  * is touched-files + changelog, not snapshot.
  */
final class GraftTable private (s: SparkSession, val dir: String,
    key: String) {

  import GraftTable._
  import ManifestIO.{readManifest, writeManifest}

  private def fs: FileSystem = fsOf(s, dir)

  /** Committed versions, ascending (uncommitted dirs are invisible). */
  def versions: Seq[Int] = {
    val f = fs
    val root = new HPath(dir)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.drop(1).toInt)
      .filter(v => f.exists(markerPath(dir, v)))
      .sorted
  }

  def currentVersion: Int = versions.lastOption.getOrElse(
    throw new IllegalStateException(s"graft table $dir has no committed versions"))

  /** Read the current snapshot. */
  def read(): DataFrame = readAsOf(currentVersion)

  /** Loud version validation: a vacuumed-away version names the
    * retention event, an uncommitted/never-written one names the
    * committed range.
    */
  private def validate(v: Int): Unit = validateIn(versions, v)

  /** [[validate]] against an already-listed committed chain `vs`. */
  private def validateIn(vs: Seq[Int], v: Int): Unit = {
    if (!vs.contains(v)) {
      val msg =
        if (vs.nonEmpty && v >= 0 && v < vs.min)
          s"version $v of graft table $dir was removed by retention " +
            s"(vacuum); oldest retained is v${vs.min}"
        else
          s"version $v of graft table $dir does not exist " +
            s"(committed versions: ${vs.mkString("[", ", ", "]")})"
      throw new java.util.NoSuchElementException(msg)
    }
  }

  /** The committed marker's payload. The marker's CREATE is the atomic
    * exclusivity point, but its payload lands in the following write —
    * so a reader racing the committer (a [[mergeConcurrent]] loser
    * re-reading the advanced chain microseconds after losing) can
    * observe the marker existing with zero bytes. A committed marker
    * always ends with a non-empty payload, so an empty read means
    * mid-write: spin briefly (bounded — object-store PUTs are atomic
    * and never hit this; local/HDFS windows are sub-millisecond) and
    * fail loudly if it never fills (a torn writer, not a race).
    */
  private def markerPayload(f: FileSystem, v: Int): String = {
    var attempt = 0
    while (attempt < 100) {
      val p = readFsString(f, markerPath(dir, v))
      // the terminator frames the payload: only a COMPLETE write ends
      // with it, so a partially visible payload (timestamp line landed,
      // token line not yet) can never be mis-parsed as token-less
      if (p.endsWith(MarkerEnd)) return p.dropRight(MarkerEnd.length).trim
      attempt += 1
      Thread.sleep(5)
    }
    throw new IllegalStateException(
      s"commit marker of graft table $dir v$v exists but its payload " +
        "never completed — torn committer?")
  }

  /** The committed marker's metadata binding for version v: a marker
    * written by [[mergeConcurrent]] carries the winning writer's token
    * on its second line, naming THAT writer's staged manifest/schema —
    * what makes the create-exclusive marker the single atomic commit
    * point under racing writers (each stages under its own token;
    * the marker decides whose metadata IS the version). Single-writer
    * paths write no token and resolve to the fixed names.
    */
  private def metaSuffix(v: Int): String =
    metaSuffixOf(markerPayload(fs, v))

  private def metaSuffixOf(payload: String): String =
    payload.linesIterator.toSeq
      .drop(1).headOption.map(_.trim).filter(_.nonEmpty)
      .map(t => s"_$t").getOrElse("")

  /** The operation that created version v (the marker payload's third
    * line); versions committed before the op line existed read WRITE.
    */
  private def opOf(f: FileSystem, v: Int): String =
    markerPayload(f, v).linesIterator.toSeq
      .drop(2).headOption.map(_.trim).filter(_.nonEmpty)
      .getOrElse("WRITE")

  /** Version v's schema, verbatim as committed (survives later
    * evolutions — time travel's schema half).
    */
  def schemaAsOf(v: Int): StructType = {
    validate(v)
    schemaAt(v, markerPayload(fs, v))
  }

  /** Version v's stored schema, named by its marker `payload`. */
  private def schemaAt(v: Int, payload: String): StructType = {
    val sf = metaSuffixOf(payload) match {
      case "" => SchemaFile
      case t  => s"_graft_schema$t.json"
    }
    DataType.fromJson(readFsString(fs, new HPath(s"$dir/v$v/$sf")))
      .asInstanceOf[StructType]
  }

  /** Version v's live-file manifest (path, key_lo, key_hi, n_rows,
    * n_bytes, plus `<col>_lo/_hi` spans for a z-order compact's keys).
    */
  def manifest(v: Int): DataFrame = {
    val (sch, rows) = manifestData(v)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), sch)
  }

  /** Manifest rows of committed version `v`, memoized on this instance.
    * A manifest is file-count-sized (driver-safe by the same argument
    * that lets [[touchedPaths]] collect it), and a cold load is one
    * driver-side parquet read ([[ManifestIO.readManifest]]: a footer and
    * one small part file, no Spark job); the memo saves even that for
    * the version lifecycle entries, which read the same manifests many
    * times over, and a writer seeds it with the manifest it just landed
    * ([[commitWith]]). The memo key includes the commit marker's PAYLOAD
    * (commit instant + staging token + nonce), so a replay (uncommit →
    * rewrite → commit) can never serve the superseded manifest: the
    * rewritten commit carries a new payload. Vacuumed/uncommitted
    * versions never reach the memo — validate() throws first, exactly
    * as the uncached path did. Loads run outside the map's lock, so
    * concurrent loads of different versions overlap; two racing loads
    * of one version both read and the first insert wins.
    */
  private val manifestMemo: java.util.Map[(Int, String), ManifestIO.Data] =
    java.util.Collections.synchronizedMap(
      // access-ordered LRU, bounded: a long-lived service instance
      // cycling many versions (history/vacuum loops touch all of them)
      // must not accumulate one collected manifest per version ever
      // read. 64 entries covers any retention window the gate exercises;
      // vacuum additionally evicts the versions it retires.
      new java.util.LinkedHashMap[(Int, String), ManifestIO.Data](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Int, String), ManifestIO.Data])
            : Boolean = size() > GraftTable.ManifestMemoMax
      })

  private def manifestData(v: Int): ManifestIO.Data = {
    validate(v)
    manifestAt(v, markerPayload(fs, v))
  }

  /** [[manifestData]] of a version already validated, whose marker
    * payload is `payload`.
    */
  private def manifestAt(v: Int, payload: String): ManifestIO.Data = {
    val k = (v, payload)
    Option(manifestMemo.get(k)).getOrElse {
      val loaded = readManifest(s,
        s"$dir/v$v/_manifest${metaSuffixOf(k._2)}")
      Option(manifestMemo.putIfAbsent(k, loaded)).getOrElse(loaded)
    }
  }

  private def pathsOf(m: ManifestIO.Data): Array[String] = {
    val pi = m._1.fieldIndex("path")
    m._2.map(_.getString(pi))
  }

  /** Commit version `v` of this table and seed the memo with `m`, the
    * manifest this handle just landed for it, under the new marker
    * payload — the writer's next read of `v` needs no load at all.
    */
  private def commitWith(v: Int, m: ManifestIO.Data, op: String): Unit = {
    manifestMemo.putIfAbsent((v, commit(s, dir, v, op = op)), m)
    ()
  }

  /** The one landing step of every version that writes data files:
    * clear any stale DV at `next`, write `rows` as the version's files
    * (`write`; range-clustered on the key unless a z-order compact
    * passes its own), land the manifest ([[landManifest]]), carry
    * `base`'s DV forward only when the manifest still carries some of
    * its files (DV rows on rewritten files drop with them), write the
    * version's schema, then commit. Everything lands before the marker,
    * so a crash anywhere leaves an uncommitted (invisible) version that
    * the next landing at that number overwrites. Returns `next`.
    */
  private def land(next: Int, rows: DataFrame, op: String,
      base: Option[Int] = None, rewritten: Seq[String] = Nil,
      write: (String, DataFrame) => Unit = writeFiles(s, _, key, _),
      statCols: Seq[String] = Nil): Int = {
    val vdir = s"$dir/v$next"
    clearDv(next)
    write(vdir, rows)
    val landed = landManifest(vdir, rows.schema, base, rewritten, statCols)
    // `rewritten` is a subset of base's files: any left over are carried
    base.filter(manifestData(_)._2.length > rewritten.size)
      .foreach(carryDv(_, next, landed, rows.schema))
    writeSchema(s, dir, next, rows.schema)
    commitWith(next, landed, op)
    next
  }

  /** The manifest half of [[land]]: version `base`'s rows minus the
    * `rewritten` files, plus the stats of the files just written under
    * `vdir` — array arithmetic on the driver, no job. With no base row
    * left the manifest is the new files' alone (a self-contained
    * version); otherwise a z-order compact's extra span columns stay on
    * carried rows and read NULL on the new files (unknown span, readers
    * must admit). Returns the landed manifest.
    */
  private[graft] def landManifest(vdir: String, schema: StructType,
      base: Option[Int], rewritten: Seq[String],
      statCols: Seq[String] = Nil): ManifestIO.Data = {
    val stats = fileStats(s, vdir, key, schema, statCols)
    val drop = rewritten.toSet
    val carried = base.map(manifestData).map { case (sch, rows) =>
      val pi = sch.fieldIndex("path")
      (sch, rows.filterNot(r => drop(r.getString(pi))))
    }.filter(_._2.nonEmpty)
    val (sch, rows) = carried.fold(stats)(unionByName(_, stats))
    writeManifest(s, s"$vdir/_manifest", sch, rows)
  }

  /** Drop memoized manifests of versions `vs` (vacuum retires them). */
  private def evictManifestMemo(vs: Seq[Int]): Unit = {
    val doomed = vs.toSet
    manifestMemo.synchronized {
      manifestMemo.keySet.removeIf(k => doomed(k._1))
    }
  }

  /** Time travel: read the snapshot exactly as committed at version `v`
    * — the manifest's file list under the version's stored schema, so a
    * scoped version composes untouched old files with its own rewrites,
    * and a pre-evolution version returns its OLD schema verbatim (files
    * lacking a later column never enter its manifest).
    */
  def readAsOf(v: Int): DataFrame =
    scanOf(v, schemaAsOf(v), pathsOf(manifestData(v)).toSeq)

  /** The rows of `paths` — some of version v's manifest files — under
    * `schema`, minus v's deletion vector; no paths reads as an empty
    * frame WITH the schema.
    */
  private def scanOf(v: Int, schema: StructType,
      paths: Seq[String]): DataFrame =
    scanWith(schema, dvOf(v, schema), paths)

  /** [[scanOf]] with the version's deletion vector `dv` already looked
    * up; `dv` is not evaluated when there is nothing to scan.
    */
  private def scanWith(schema: StructType, dv: => Option[DataFrame],
      paths: Seq[String]): DataFrame =
    if (paths.isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    else without(dv, s.read.schema(schema).parquet(paths: _*))

  /** Manifest-planned key-range read `[lo, hi)` at version `v`: one
    * interval-overlap filter on the version's manifest admits the files
    * (∝ selectivity — only survivor paths reach the driver), the data
    * scan opens exactly those, and the residual predicate still applies
    * in-scan (stats admit whole files; rows inside can miss the range).
    * An empty admission returns an empty frame WITH the table's schema.
    */
  def readRangeAsOf(v: Int, lo: Long, hi: Long): DataFrame = {
    val schema = schemaAsOf(v) // loud version validation
    val admitted = manifest(v)
      .filter(col("key_hi") >= lo && col("key_lo") < hi)
      .select("path").collect().map(_.getString(0)).toSeq
    scanOf(v, schema, admitted).filter(col(key) >= lo && col(key) < hi)
  }

  def readRange(lo: Long, hi: Long): DataFrame =
    readRangeAsOf(currentVersion, lo, hi)

  /** Manifest-planned range read `[lo, hi)` on a SECONDARY column whose
    * per-file spans a z-order [[compact]] recorded (`<c>_lo/_hi` manifest
    * columns): files whose span misses the range are never opened; files
    * with a NULL span (written after the z-compact by a later tick, so
    * unprofiled on `c`) are always admitted — a missing stat must widen
    * the read, never lose rows. Loud if the current manifest carries no
    * span for `c` (the table was never z-compacted on it).
    */
  def readRangeOn(c: String, lo: Long, hi: Long): DataFrame = {
    if (c == key) return readRange(lo, hi)
    val v = currentVersion
    val m = manifest(v)
    require(m.columns.contains(s"${c}_lo"),
      s"graft table $dir has no manifest span for '$c' — compact with " +
        s"zorderBy = Seq(..., \"$c\", ...) to record one")
    val schema = schemaAsOf(v)
    val admitted = m
      .filter(col(s"${c}_lo").isNull ||
        (col(s"${c}_hi") >= lo && col(s"${c}_lo") < hi))
      .select("path").collect().map(_.getString(0)).toSeq
    scanOf(v, schema, admitted).filter(col(c) >= lo && col(c) < hi)
  }

  // ── Deletion vectors (Delta DVs) ─────────────────────────────────────

  /** Version v's deletion-vector table: one (path, <key>) row per
    * soft-deleted row — the row is identified by the FILE that holds it
    * plus its key, Delta's per-file DV re-expressed relationally. The
    * per-file half is what makes re-insertion sound: a later upsert of a
    * DV-deleted key lands in a NEW file, which no DV row names — a
    * key-only tombstone would kill the new row too. Stored as one small
    * parquet under the version's own directory (`v{N}/_graft_dv`),
    * carried forward by each landing path restricted to the paths its
    * manifest still references, absent on self-contained versions.
    */
  private def dvPath(v: Int): HPath = new HPath(s"$dir/v$v/_graft_dv")

  /** Version v's DV, its key column typed as the table key is in
    * `keyed` (any schema holding the key). The DV directory's data
    * files are listed on the driver and read by name with the schema
    * given: a scan rooted at the `_`-prefixed directory itself trips
    * Spark's hidden-path filter ("All paths were ignored"), and an
    * inferred schema costs a footer-reading job.
    */
  private def dvOf(v: Int, keyed: StructType): Option[DataFrame] = {
    val files = ManifestIO.dataFiles(s.sparkContext.hadoopConfiguration,
      dvPath(v).toString)
    if (files.isEmpty) None
    else Some(s.read
      .schema(StructType(Seq(StructField("path", StringType), keyed(key))))
      .parquet(files.map(_._1.toString).toIndexedSeq: _*))
  }

  /** Crash debris guard: every landing path clears any stale DV at its
    * target version FIRST — a crashed [[deleteVectored]] leaves an
    * uncommitted `_graft_dv` that a later (re)land of the same number
    * must not inherit.
    */
  private def clearDv(v: Int): Unit = { fs.delete(dvPath(v), true); () }

  /** Apply version v's deletion vector to `src` — a raw parquet scan of
    * (a subset of) v's manifest files: one broadcast anti-join on
    * (file, key), churn-sized build side, zero cost when no DV exists.
    * `_metadata.file_path` is referenced on the file-source frame
    * directly (it resolves nowhere else), matching the manifest's own
    * path spelling (both derive from the same metadata column).
    */
  private[sources] def minusDv(v: Int, src: DataFrame): DataFrame =
    without(dvOf(v, src.schema), src)

  /** `src` minus the rows deletion vector `dv` names (see [[minusDv]]). */
  private def without(dv: Option[DataFrame], src: DataFrame): DataFrame =
    dv match {
      case None => src
      case Some(dv) =>
        src.withColumn("_graft_fp", col("_metadata.file_path"))
          .join(broadcast(dv.withColumnRenamed("path", "_graft_fp")),
            Seq("_graft_fp", key), "left_anti")
          .drop("_graft_fp")
    }

  /** Carry the base version's DV into `next`, restricted to the paths
    * `next`'s manifest `m` still references — DV rows naming rewritten
    * files are dropped with the files; `keyed` types the DV's key (see
    * [[dvOf]]). Call before [[commit]].
    */
  private def carryDv(n: Int, next: Int, m: ManifestIO.Data,
      keyed: StructType): Unit =
    dvOf(n, keyed).foreach { dv =>
      val sp = s
      import sp.implicits._
      val keep = dv.join(pathsOf(m).toSeq.toDF("path"), Seq("path"),
        "left_semi")
      if (keep.limit(1).count() > 0)
        keep.coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(dvPath(next).toString)
    }

  /** DELETE backed by a DELETION VECTOR (Delta's DV-backed `DELETE`):
    * the matching rows are soft-deleted by writing their (file, key)
    * identities into the new version's DV — the version's manifest is
    * the predecessor's VERBATIM and **zero data files are written or
    * rewritten** at any table size. This is the other end of the delete
    * cost spectrum from [[delete]] (which rewrites every touched file
    * through the merge dispatch): a scattered delete — one row in each of
    * 10k files at 100 TB — costs one predicate scan plus a churn-sized
    * tombstone write here, vs 10k file rewrites there. The trade is
    * read-side: every reader pays one broadcast anti-join against the
    * accumulated DV until a [[compact]]/[[compactSmall]]/full merge
    * materializes the deletes away (rewritten files drop their DV rows;
    * a self-contained version drops the DV entirely) — Delta's own
    * rule: DVs are a write-time deferral, compaction collects them.
    * Composes with everything downstream of [[readAsOf]]: time travel
    * reads the pre-delete state, [[diff]]/[[changes]] emit the
    * soft-deleted rows as ordinary 'delete' events, the connector and
    * both streaming halves see them, and a later upsert of a deleted
    * key re-inserts it cleanly (per-file DV — see [[minusDv]]).
    * Single-writer form, like [[delete]]. Returns the new version
    * (the current one when the table is empty).
    */
  def deleteVectored(cond: Column): Int = {
    val n = currentVersion
    val next = n + 1
    val schema = schemaAsOf(n)
    val m = manifestData(n)
    val paths = pathsOf(m)
    if (paths.isEmpty) return n // nothing to delete from
    val dvOld = dvOf(n, schema)
    val src = s.read.schema(schema).parquet(paths.toIndexedSeq: _*)
      .withColumn("_graft_fp", col("_metadata.file_path"))
    val live = dvOld.fold(src)(dv =>
      src.join(broadcast(dv.withColumnRenamed("path", "_graft_fp")),
        Seq("_graft_fp", key), "left_anti"))
    val matches = live.filter(cond)
      .select(col("_graft_fp").as("path"), col(key))
    val dvNew = dvOld.fold(matches)(_.unionByName(matches))
    clearDv(next)
    val landed = writeManifest(s, s"$dir/v$next/_manifest", m._1, m._2)
    dvNew.coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(dvPath(next).toString)
    writeSchema(s, dir, next, schema)
    commitWith(next, landed, "DELETE VECTORED")
    next
  }

  /** Dispatch between the two delete cost models by MEASURED spread
    * (the merge dispatch's discipline on the delete axis — the trade
    * runs the OPPOSITE way): a delete whose matches are spread across
    * MANY files (≥ half the snapshot) would rewrite most of the table,
    * so it lands as a deletion vector (tombstone write, zero data IO); a
    * concentrated delete rewrites its few touched files and keeps the
    * read path anti-join-free. The spread is measured from the manifest
    * alone — the merge's own interval join, against the (broadcast,
    * churn-sized) distinct match keys.
    */
  def deleteAuto(cond: Column): Int = {
    val n = currentVersion
    val touched = touchedPaths(n, read().filter(cond)
      .select(col(key)))
    val total = manifestData(n)._2.length
    if (touched.size * 2 >= total) deleteVectored(cond) else delete(cond)
  }

  /** Targeted DV collection (Delta's `REORG TABLE ... APPLY (PURGE)`):
    * rewrite ONLY the files whose tombstoned-row fraction is at least
    * `minDvFraction`, landing their LIVE rows as fresh files — the
    * rewritten files' DV rows drop with them, lightly-deleted files
    * carry forward verbatim (tombstones included). This is the third
    * point on the DV cost curve: [[deleteVectored]] defers all rewrite
    * IO to write time zero, readers pay the anti-join, and reorgPurge
    * collects exactly where the tax concentrates — cost ∝ heavily-
    * deleted files, never snapshot ([[compact]] remains the full
    * reset). Returns the new version, or the CURRENT version untouched
    * when no file crosses the threshold (no version event, no churn).
    */
  def reorgPurge(minDvFraction: Double = 0.05): Int = {
    val n = currentVersion
    val dvO = dvOf(n, schemaAsOf(n))
    if (dvO.isEmpty) return n
    val dv = dvO.get
    val m = manifest(n)
    val targets = m.join(
        dv.groupBy("path").agg(count(lit(1)).as("_graft_dv_n")), "path")
      .filter(col("_graft_dv_n") >= col("n_rows") * minDvFraction)
      .select("path").collect().map(_.getString(0)).toSeq
    if (targets.isEmpty) return n
    land(n + 1, liveRows(n, targets), "REORG PURGE", Some(n), targets)
  }

  /** The live rows of version n's `paths` in n's stored column order —
    * what a layout-only rewrite (binpack, purge) lands: the version's
    * schema file keeps n's column order.
    */
  private def liveRows(n: Int, paths: Seq[String]): DataFrame = {
    val schema = schemaAsOf(n)
    scanOf(n, schema, paths).select(schema.fieldNames.toSeq.map(col): _*)
  }

  /** Schema-align a merge: columns the changelog ADDS extend the base
    * with typed null backfill (the l03 mergeSchema semantics owned by
    * the facade); columns the changelog MISSES fail loudly — an upsert
    * that silently nulled a column would be data loss, not evolution.
    */
  private def alignForMerge(base: DataFrame, log: DataFrame): DataFrame = {
    val logCols = log.columns.filterNot(_ == "op")
    val missing = base.columns.filterNot(logCols.contains)
    require(missing.isEmpty,
      s"changelog for graft table $dir is missing columns " +
        s"${missing.mkString("[", ", ", "]")}: upserts must carry every " +
        "current column (schema ADDITIONS evolve; silent drops don't)")
    val added = logCols.filterNot(base.columns.contains)
    added.foldLeft(base)((df, c) =>
      df.withColumn(c, lit(null).cast(log.schema(c).dataType)))
  }

  // ── CHECK constraints (Delta invariants) ─────────────────────────────

  /** The table's CHECK constraints, name → SQL expression. Every write
    * path that lands rows (merges in all forms, DML updates, replace,
    * the connector's writer modes, the streaming sink) validates its
    * incoming rows against the full set BEFORE anything lands — one
    * changelog-sized aggregate, never a snapshot scan — and fails
    * loudly, naming the constraint and the violation count, leaving the
    * chain untouched. SQL CHECK semantics: a row fails only when the
    * expression evaluates to FALSE — a NULL passes (so additive schema
    * evolution's null backfill composes with constraints on the new
    * column). Two stated non-gates, both metadata-only by design:
    * [[restore]] can resurrect rows that predate a constraint, and a
    * [[cloneTo]] clone inherits the constraint SET as of clone time but
    * diverges thereafter. Constraint ADMIN (add/drop) is a
    * single-administrator operation — the file write is last-wins, not
    * OCC-protected like version commits; concurrent WRITERS always read
    * the set atomically per merge.
    */
  def constraints: Map[String, String] = {
    val p = new HPath(s"$dir/${GraftTable.ConstraintsFile}")
    if (!fs.exists(p)) Map.empty
    else readFsString(fs, p).linesIterator.filter(_.nonEmpty).map { l =>
      val Array(n, e) = l.split("=", 2)
      decodeC(n) -> decodeC(e)
    }.toMap
  }

  /** Add a CHECK constraint (Delta's `ALTER TABLE ... ADD CONSTRAINT`):
    * `check` is any boolean SQL expression over the table's columns.
    * The CURRENT snapshot must already satisfy it (validated here, one
    * snapshot-sized pass — the one-time admission price of a gate that
    * then costs changelog-sized per write); from then on every write
    * validates. Loud on duplicate names and on a snapshot violation
    * (nothing is persisted in that case).
    */
  def addConstraint(name: String, check: String): Unit = {
    val cs = constraints
    require(!cs.contains(name),
      s"graft table $dir already has constraint '$name' " +
        s"(${cs(name)}) — drop it first")
    validateAgainst(read(), Seq(name -> check),
      s"the current snapshot (v$currentVersion)")
    writeConstraints(cs.toSeq :+ (name -> check))
  }

  /** Remove a CHECK constraint; loud when it doesn't exist. */
  def dropConstraint(name: String): Unit = {
    val cs = constraints
    require(cs.contains(name),
      s"graft table $dir has no constraint '$name' " +
        s"(has: ${cs.keys.toSeq.sorted.mkString(", ")})")
    writeConstraints((cs - name).toSeq)
  }

  /** One-line-per-constraint storage, both sides URL-encoded so any SQL
    * text round-trips; the file is table-level (not versioned) — the
    * constraint set gates writes from the moment it lands.
    */
  private def writeConstraints(cs: Seq[(String, String)]): Unit =
    GraftTable.writeFsString(fs,
      new HPath(s"$dir/${GraftTable.ConstraintsFile}"),
      cs.map { case (n, e) => s"${encodeC(n)}=${encodeC(e)}" }
        .mkString("\n"),
      overwrite = true)

  private def encodeC(v: String): String =
    java.net.URLEncoder.encode(v, "UTF-8")
  private def decodeC(v: String): String =
    java.net.URLDecoder.decode(v, "UTF-8")

  /** Gate a changelog (or full frame) about to land: 'D' rows are
    * exempt (they carry the OLD row's payload — deleting a bad row must
    * not re-validate it), everything else must pass every constraint.
    * One aggregate job over the incoming rows when constraints exist;
    * free when none do.
    */
  private def validateIncoming(rows: DataFrame): Unit = {
    val cs = constraints.toSeq
    if (cs.isEmpty) return
    val live =
      if (rows.columns.contains("op")) rows.filter(col("op") =!= "D")
      else rows
    validateAgainst(live, cs, "incoming rows")
  }

  private def validateAgainst(df: DataFrame, cs: Seq[(String, String)],
      what: String): Unit = {
    val aggs = cs.zipWithIndex.map { case ((_, e), i) =>
      sum(when(!expr(e), 1L).otherwise(0L)).as(s"_c$i") }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cs.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i) // empty frame
      if (bad > 0) throw new IllegalArgumentException(
        s"CHECK constraint '$n' ($e) violated by $bad incoming row(s) " +
          s"in $what on graft table $dir — nothing was written")
    }
  }

  /** Apply a changelog (`op` = 'D' | 'U' + the table's columns, plus any
    * NEW columns — see schema evolution above) as the next committed
    * version; returns the new version number. The write arm is the
    * measured one ([[mergeOn]]); delta-size dispatch then picks the
    * broadcast or bucketed-SMJ merge form.
    */
  def merge(log: DataFrame): Int = mergeOn(currentVersion, log, "MERGE")

  /** [[merge]] under the name the perfbench harness calls; library code
    * calls [[merge]].
    */
  def mergeAuto(log: DataFrame): Int = merge(log)

  /** The files of version `n` whose key ranges the changelog touches —
    * the merge's admission and its arm signal. One interval-overlap join
    * of the manifest against the (broadcast, trickle-sized) distinct log
    * keys; only touched paths reach the driver.
    */
  private def touchedPaths(n: Int, log: DataFrame): Seq[String] =
    manifest(n)
      .join(broadcast(log.select(col(key)).distinct()),
        col(key) >= col("key_lo") && col(key) <= col("key_hi"), "left_semi")
      .select("path").collect().map(_.getString(0)).toSeq

  /** The one merge body behind every keyed write: lands `log` over
    * version `n` as version n+1.
    *
    *  1. admission — `touched`, the files of n whose key ranges the
    *     changelog's keys hit ([[touchedPaths]], unless the caller has
    *     measured them already);
    *  2. the arm, by measured touch fraction (the cdcMergeAuto
    *     discipline one level up): under half of n's files touched
    *     rewrites only those — cost ∝ touched files + changelog,
    *     untouched manifest rows carry forward VERBATIM (same paths,
    *     same bytes); anything wider rewrites every file, so the version
    *     is self-contained (nothing carried, no DV: whole-dir vacuum, and
    *     one range exchange lays the whole snapshot back out with tight
    *     per-file spans);
    *  3. the merge reads ONLY the rewritten files (plus the changelog) —
    *     untouched keys live in files no admitted range covers, so they
    *     cannot be superseded and need not be read;
    *  4. [[land]]: new files, manifest, schema, then marker.
    *
    * Schema evolution composes: an added column lands in the rewritten
    * files only; the version schema is the union and untouched files
    * read null-backfilled. The trade of the scoped arm: new versions
    * share files with old ones, so [[vacuum]] turns reference-aware,
    * and a [[mergeAs]] replay of a version that later versions still
    * reference is refused. `replay` drops version n+1's marker first
    * ([[mergeAs]]). A plain merge's marker names its arm (`MERGE` or
    * `MERGE SCOPED`); [[history]]'s `carried_files` shows it for every
    * operation.
    */
  private def mergeOn(n: Int, log: DataFrame, op: String,
      touched: Option[Seq[String]] = None, replay: Boolean = false): Int = {
    validateIncoming(log)
    if (replay) uncommit(s, dir, n + 1) // invisible for the rewrite's duration
    val all = pathsOf(manifestData(n)).toSeq
    val hit = touched.getOrElse(touchedPaths(n, log))
    val full = hit.size * 2 >= all.size
    val rewritten = if (full) all else hit
    val merged = Lake.cdcMergeAuto(
      alignForMerge(scanOf(n, schemaAsOf(n), rewritten), log), log, key = key)
    land(n + 1, merged, if (op == "MERGE" && !full) "MERGE SCOPED" else op,
      Some(n), rewritten)
  }

  /** Rewrite the CURRENT snapshot as one fresh SELF-CONTAINED version —
    * l01's lake compaction (Delta OPTIMIZE) owned by the facade. After a
    * chain of scoped trickle ticks the live manifest is a patchwork:
    * small per-tick rewrite files interleaved with old-version
    * survivors, file count growing with tick count and range spans
    * overlapping (each tick's files overlay the ranges they rewrote).
    * compact() reads the manifest's file list ONCE and lands it as
    * version n+1 at the size-derived fan — content no-op (hash-identical
    * to readAsOf(n)), layout reset: scan-sized files, zero references
    * into older versions (vacuum can drop the whole history; mergeAs
    * replays are legal again). Cost is one full read + write — the
    * operation you SCHEDULE (off-peak, every N ticks), which is exactly
    * why the per-tick path doesn't pay it. Returns the new version.
    *
    * Layout choice (Delta OPTIMIZE vs OPTIMIZE ZORDER BY, owned here):
    *  - `zorderBy = Nil` (default): range-partitioned + sorted on the
    *    table key — disjoint tight key spans, manifest pruning on the
    *    key maximally selective.
    *  - `zorderBy = Seq(a, b)`: Morton-clustered on TWO columns (l02's
    *    interleave under the facade) — every file covers a bounded
    *    rectangle of the (a, b) space, so per-file min/max prunes point
    *    or range predicates on EITHER column, and the manifest records
    *    the per-file `<col>_lo/_hi` spans ([[readRangeOn]] plans from
    *    them). The trade: the PRIMARY key's spans widen (files are
    *    z-contiguous, not key-contiguous) — z-order when the two
    *    secondary filter columns are hotter than key ranges.
    */
  def compact(zorderBy: Seq[String] = Nil): Int = {
    val n = currentVersion
    val snap = readAsOf(n)
    if (zorderBy.isEmpty) land(n + 1, snap, "OPTIMIZE")
    else {
      require(zorderBy.size == 2,
        s"compact(zorderBy) interleaves exactly two columns, got " +
          s"${zorderBy.mkString("[", ", ", "]")}")
      land(n + 1, snap, "OPTIMIZE ZORDER",
        write = writeFilesZ(s, _, zorderBy, _), statCols = zorderBy)
    }
  }

  /** BINPACK compaction — what a scheduled Delta OPTIMIZE actually does:
    * rewrite ONLY the files smaller than `smallBytes` (trickle-tick
    * debris, tiny stream batches), coalescing them into scan-sized
    * files, while every file already at size carries forward VERBATIM —
    * so the maintenance cost is ∝ small-file debris, never the
    * snapshot. At 100 TB this is the difference between an hourly
    * housekeeping job that rewrites megabytes and [[compact]]'s full
    * re-layout (which stays the right call when the GOAL is a layout
    * reset: globally tight key spans, zero carried references, z-order).
    * The new version's manifest composes carried rows with the packed
    * files' fresh spans — packed spans may overlap carried ones, which
    * manifest-planned reads already admit by interval overlap (the
    * scoped-arm property). Returns the new version, or the CURRENT
    * version untouched when fewer than two small files exist (packing
    * one file buys nothing — no version event, no churn).
    */
  def compactSmall(smallBytes: Long = 32L << 20): Int = {
    val n = currentVersion
    val (msch, mrows) = manifestData(n)
    val (pi, bi) = (msch.fieldIndex("path"), msch.fieldIndex("n_bytes"))
    val small = mrows
      .filter(r => !r.isNullAt(bi) && r.getLong(bi) < smallBytes)
      .map(_.getString(pi)).toSeq
    if (small.size < 2) return n
    land(n + 1, liveRows(n, small), "OPTIMIZE BINPACK", Some(n), small)
  }

  /** The EXACTLY-ONCE merge for streaming writers (s19's versioned
    * idempotence lifted into the facade): batch b lands as version
    * `v = b + 1`, always computed from v-1 through the same dispatch as
    * [[merge]]. A checkpoint replay of the same batch hits the same `v`
    * and OVERWRITES it from the same input — convergent, never
    * duplicated — and a crash between data and marker leaves an
    * uncommitted directory the replay finishes. Convergent in both
    * arms: the touch fraction is measured against the immutable v-1
    * manifest, so a replay re-takes the SAME arm and recomputes the
    * same version (full: a self-contained overwrite; scoped: the same
    * touched set, merged rows and carried references). Skipping ahead
    * (v beyond current+1) is a stream-offset bug and fails loudly; so
    * does a replay whose base v-1 was vacuumed away — and so does a
    * replay of a version whose files a LATER version still references
    * (the overwrite would tear that successor).
    */
  def mergeAs(log: DataFrame, v: Int): Int = {
    requireReplayable("mergeAs", v)
    mergeOn(v - 1, log, "MERGE", replay = true)
  }

  /** OPTIMISTIC CONCURRENT MERGE — the multi-writer form, for
    * INDEPENDENT writers that share no coordinator (two ingest services
    * upserting disjoint key spaces, a backfill racing live intake). The
    * single-writer merges stage data INSIDE the target version
    * directory, so a losing racer can corrupt the winner's bytes before
    * its commit fails (the class-comment caveat); this form closes
    * that: every attempt stages its data, manifest, and schema under
    * its OWN random token (`v{n+1}/d_<token>/`, `_manifest_<token>`,
    * `_graft_schema_<token>.json` — racers never share a path), and
    * the create-exclusive commit marker carries the winning token,
    * atomically binding THAT writer's metadata as the version
    * ([[metaSuffix]] — readers resolve through the marker). The loser
    * deletes its stage, re-reads the now-advanced current version,
    * RECOMPUTES the merge against it, and retries at the next number —
    * so a successful return means this changelog was applied on top of
    * the version chain exactly once, serialized after the racer's
    * (Delta's OCC commit loop over a marker file instead of a log
    * entry). Wasted work under contention is the recomputed merge —
    * the OCC trade; writers that CAN serialize should (the
    * single-writer forms skip the stage/rebase machinery).
    *
    * Failure posture: a writer that crashes after staging leaves
    * token'd debris in a committed version's directory — unreferenced
    * by any manifest, invisible to every reader, and swept when that
    * version is eventually vacuumed (retention-bounded, the Delta
    * VACUUM discipline). On stores whose create-exclusive is a checked
    * create (local FS), the winner re-reads the marker and yields if
    * another token landed — the race decides exactly one winner.
    * Retries are capped; exhaustion throws with the last race loss as
    * cause, never a silent partial commit.
    */
  def mergeConcurrent(log: DataFrame, maxAttempts: Int = 8): Int = {
    validateIncoming(log) // once — retries recompute the merge, not the log
    val f = fs
    var attempt = 0
    var lastLoss: Throwable = null
    while (attempt < maxAttempts) {
      val n = currentVersion
      val next = n + 1
      val token = "t" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      val vdir = s"$dir/v$next"
      val dataDir = s"$vdir/d_$token"
      def cleanup(): Unit = {
        f.delete(new HPath(dataDir), true)
        f.delete(new HPath(s"$vdir/_manifest_$token"), true)
        f.delete(new HPath(s"$vdir/_graft_schema_$token.json"), false)
      }
      clearDv(next) // debris from a crashed deleteVectored at this number
      val merged =
        Lake.cdcMergeAuto(alignForMerge(readAsOf(n), log), log, key = key)
      writeFiles(s, dataDir, key, merged)
      val (sch, rows) = fileStats(s, dataDir, key, merged.schema)
      val landed = writeManifest(s, s"$vdir/_manifest_$token", sch, rows)
      writeFsString(f, new HPath(s"$vdir/_graft_schema_$token.json"),
        nullable(merged.schema).json, overwrite = true)
      try {
        val payload = commit(s, dir, next, token, op = "MERGE")
        // on stores where create-exclusive is a checked create, two
        // racers can both pass it — the marker's final content decides
        if (metaSuffix(next) == s"_$token") {
          manifestMemo.putIfAbsent((next, payload), landed)
          return next
        }
        lastLoss = new IllegalStateException(
          s"lost the v$next marker race on graft table $dir")
        cleanup()
      } catch {
        case e: IllegalStateException => lastLoss = e; cleanup()
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"mergeConcurrent on graft table $dir gave up after $maxAttempts " +
        "lost commit races (heavy contention — serialize these writers " +
        "or raise maxAttempts)", lastLoss)
  }

  /** The exactly-once preconditions of [[mergeAs]]: target version is
    * current+1 (the normal tick) or a replay of a committed one that NO
    * later scoped version still references (overwriting it would tear
    * that successor's carried file references).
    */
  private def requireReplayable(what: String, v: Int): Unit = {
    val cur = currentVersion
    require(v >= 1 && v <= cur + 1,
      s"$what v$v on graft table $dir: committed max is v$cur " +
        s"(replays allowed, skips are a stream-offset bug)")
    if (v <= cur) {
      val marker = s"/v$v/"
      val holders = versions.filter(_ > v).filter(w =>
        pathsOf(manifestData(w)).exists(_.contains(marker)))
      if (holders.nonEmpty)
        throw new IllegalStateException(
          s"$what replay of v$v on graft table $dir would tear scoped " +
            s"version(s) ${holders.mkString("v", ", v", "")} that still " +
            "reference its files")
    }
  }

  /** Predicate DELETE (Delta's `DELETE FROM t WHERE cond`) as one new
    * version: the matching rows become a 'D' changelog and land through
    * the merge dispatch ([[mergeOn]]), so a selective delete's write cost
    * is touched-files + matches — untouched files carry forward verbatim
    * (at 100 TB it rewrites the files holding matches, never the
    * snapshot).
    * The read cost is one predicate scan of the current snapshot (plain
    * parquet pushdown; a key-range `cond` additionally prunes at the
    * row-group level). Rows are identified BY KEY — the table's merge
    * contract (one live row per key, what every upsert path maintains).
    * Returns the new version; time travel still reads the pre-delete
    * state until vacuum.
    */
  def delete(cond: Column): Int = {
    val n = currentVersion
    val base = readAsOf(n)
    val log = base.filter(cond)
      .select(lit("D").as("op") +: base.columns.map(col): _*)
    mergeOn(n, log, "DELETE")
  }

  /** Predicate UPDATE (Delta's `UPDATE t SET ... WHERE cond`): matching
    * rows re-land as 'U' upserts with the `set` expressions applied
    * (each evaluated against the OLD row, so swaps like
    * `Map(a -> col("b"), b -> col("a"))` behave SQL-UPDATE-correctly).
    * Same cost model and by-key row identity as [[delete]]. The table
    * key cannot be rewritten (an update that moves a row's identity is
    * a delete + insert — do it as a changelog merge); unknown columns
    * fail loudly. Returns the new version.
    */
  def update(cond: Column, set: Map[String, Column]): Int = {
    val base = read()
    val unknown = set.keySet.filterNot(base.columns.contains)
    require(unknown.isEmpty,
      s"update on graft table $dir sets unknown column(s) " +
        s"${unknown.mkString("[", ", ", "]")}")
    require(!set.contains(key),
      s"update on graft table $dir cannot rewrite the table key '$key' " +
        "(a row's identity is its key — express a key move as a " +
        "changelog merge with a 'D' and an 'U')")
    val cols = base.columns.map(c =>
      set.getOrElse(c, col(c)).as(c)) // old-row semantics: all exprs
    // evaluate against the pre-update row, applied in one projection
    val log = base.filter(cond).select(lit("U").as("op") +: cols: _*)
    mergeOn(currentVersion, log, "UPDATE")
  }

  /** Delta's `MERGE INTO` as a builder — the general upsert statement
    * for sources that DON'T arrive as op-tagged changelogs: rows are
    * matched BY KEY against the current snapshot, matched rows take the
    * first when-matched clause whose condition passes (update with SET
    * expressions or delete — Delta's first-match-wins rule), unmatched
    * source rows insert. Conditions and SET expressions are SQL strings
    * over the aliases `t` (target) and `s` (source) — Delta's own
    * spelling:
    *
    * {{{
    * table.mergeInto(src)
    *   .whenMatchedDelete("s.action = 'del'")
    *   .whenMatchedUpdate(Map("text" -> "concat(t.text, s.suffix)"),
    *                      "s.action = 'upd'")
    *   .whenNotMatchedInsertAll()
    *   .execute()
    * }}}
    *
    * Execution is two passes over the TOUCHED files only (the Delta
    * find-touched-then-rewrite shape): the manifest's interval join
    * against the source keys admits the files any match could live in,
    * the clause derivation runs as ONE full-outer join of those files
    * against the (broadcast-able, churn-sized) source, and the derived
    * changelog lands through the merge dispatch ([[mergeOn]], with those
    * touched files) — a selective source's write cost is ∝ touched
    * files + source, never snapshot. Schema evolution composes: source
    * columns the table lacks are ADDED (old rows read null), matching
    * the merge forms' evolution rule. Loud guards: a source with
    * multiple rows per key is refused up front (Delta's
    * multiple-matches error — which target image wins would be
    * nondeterministic), SET cannot rewrite the key, and insertAll
    * requires the source to carry every current column.
    */
  def mergeInto(source: DataFrame): MergeInto = new MergeInto(source)

  final class MergeInto private[sources] (source: DataFrame) {
    private var matched = Vector.empty[MergeClause]
    private var insertCond: Option[String] = None

    /** When matched (and `condition` holds), update the target row:
      * `set` maps column name → SQL expression over `t`/`s`; unset
      * columns keep their target values.
      */
    def whenMatchedUpdate(set: Map[String, String],
        condition: String = "true"): MergeInto = {
      require(!set.contains(key),
        s"mergeInto cannot rewrite the table key '$key' (a row's " +
          "identity is its key — a key move is a delete + insert)")
      require(set.nonEmpty, "whenMatchedUpdate needs a non-empty SET")
      matched :+= MergeClause(delete = false, condition, set); this
    }

    /** When matched (and `condition` holds), delete the target row. */
    def whenMatchedDelete(condition: String = "true"): MergeInto = {
      matched :+= MergeClause(delete = true, condition, Map.empty); this
    }

    /** Insert unmatched source rows (that satisfy `condition`) with the
      * source's own column values.
      */
    def whenNotMatchedInsertAll(condition: String = "true"): MergeInto = {
      require(insertCond.isEmpty,
        "mergeInto already has a whenNotMatched clause")
      insertCond = Some(condition); this
    }

    /** Run the merge; returns the new version number. */
    def execute(): Int = runMergeInto(source, matched, insertCond)
  }

  private case class MergeClause(delete: Boolean, cond: String,
      set: Map[String, String])

  private def runMergeInto(source: DataFrame, matched: Seq[MergeClause],
      insertCond: Option[String]): Int = {
    require(matched.nonEmpty || insertCond.nonEmpty,
      s"mergeInto on graft table $dir has no clauses")
    val srcCols = source.columns.toSeq
    require(srcCols.contains(key),
      s"mergeInto source must carry the table key '$key'")
    val n = currentVersion
    val baseSchema = schemaAsOf(n)
    val baseCols = baseSchema.fields.map(_.name).toSeq
    // Delta's multiple-matches rule, checked up front (churn-sized agg):
    // two source rows hitting one target row would make the surviving
    // image nondeterministic
    require(source.groupBy(col(key)).count()
        .filter(col("count") > 1).limit(1).count() == 0,
      s"mergeInto source for graft table $dir has multiple rows per " +
        s"'$key' — which row should win is ambiguous (Delta's " +
        "multiple-matches error); de-duplicate the source first")
    insertCond.foreach { _ =>
      val miss = baseCols.filterNot(srcCols.contains)
      require(miss.isEmpty,
        s"whenNotMatchedInsertAll on graft table $dir: source is " +
          s"missing table column(s) ${miss.mkString("[", ", ", "]")}")
    }
    matched.foreach(_.set.keys.foreach(c =>
      require(baseCols.contains(c) || srcCols.contains(c),
        s"mergeInto SET names unknown column '$c' (neither the table " +
          "nor the source carries it)")))
    // output columns: the table's, plus source additions (evolution)
    val outCols = (baseCols ++ srcCols.filterNot(baseCols.contains))
      .filterNot(_ == key)

    val touched = touchedPaths(n, source)
    val joined = scanOf(n, baseSchema, touched)
      .withColumn("_graft_t_in", lit(true)).alias("t")
      .join(source.withColumn("_graft_s_in", lit(true)).alias("s"),
        col(s"t.$key") === col(s"s.$key"), "full_outer")

    def typeOf(c: String) =
      if (baseCols.contains(c)) baseSchema(c).dataType
      else source.schema(c).dataType
    def tVal(c: String): Column =
      if (baseCols.contains(c)) col(s"t.$c")
      else lit(null).cast(typeOf(c))
    def sVal(c: String): Column =
      if (srcCols.contains(c)) col(s"s.$c")
      else lit(null).cast(typeOf(c))

    // first-match-wins: clause index per matched row, -1 = no clause
    val cl = matched.zipWithIndex
    val clauseIdx = cl.foldRight(lit(-1): Column) { case ((c, i), acc) =>
      when(expr(c.cond), lit(i)).otherwise(acc) }
    val opCol = cl.foldRight(lit(null).cast("string")) {
      case ((c, i), acc) =>
        when(col("_graft_cl") === i, lit(if (c.delete) "D" else "U"))
          .otherwise(acc) }
    def updVal(c0: String): Column = cl.foldRight(tVal(c0)) {
      case ((c, i), acc) =>
        when(col("_graft_cl") === i,
          if (c.delete) tVal(c0) // 'D' carries the old payload
          else c.set.get(c0).map(expr).getOrElse(tVal(c0)))
          .otherwise(acc) }
    val matchedLog = joined
      .filter(col("t._graft_t_in").isNotNull &&
        col("s._graft_s_in").isNotNull)
      .withColumn("_graft_cl", clauseIdx)
      .filter(col("_graft_cl") >= 0)
      .select(opCol.as("op") +: col(s"t.$key").as(key) +:
        outCols.map(c0 => updVal(c0).as(c0)): _*)
    val log = insertCond.fold(matchedLog) { ic =>
      matchedLog.unionByName(joined
        .filter(col("t._graft_t_in").isNull &&
          col("s._graft_s_in").isNotNull)
        .filter(expr(ic))
        .select(lit("U").as("op") +: col(s"s.$key").as(key) +:
          outCols.map(c0 => sVal(c0).as(c0)): _*))
    }
    // pin the derived changelog: its lineage carries the full-outer
    // clause join, and the landing path consumes it across several jobs
    // (dispatch count, the merge's anti-join build, file stats) — the
    // join should run once, not once per consumer (the streaming sink's
    // own discipline)
    log.persist()
    try {
      log.count()
      mergeOn(n, log, "MERGE INTO", touched = Some(touched))
    } finally { log.unpersist(); () }
  }

  /** Land `df` as a fresh SELF-CONTAINED version — the whole-table
    * REPLACE (the connector's `SaveMode.Overwrite`): version n+1 IS the
    * frame, range-partitioned + key-sorted like any full merge, with no
    * reference to what it replaced. The old versions stay committed —
    * time travel and [[diff]]/[[changes]] across the replacement keep
    * working until [[vacuum]] retires them; a replace is a version
    * event, not an erasure.
    */
  def replace(df: DataFrame): Int = {
    validateIncoming(df)
    land(currentVersion + 1, df, "REPLACE")
  }

  /** ROLLBACK as a new version (Delta RESTORE): version n+1's manifest
    * is version v's VERBATIM — same paths, same spans, same schema —
    * so the restore is METADATA-ONLY: one manifest copy + a schema file
    * + the marker, ZERO data bytes read or written at any table size
    * (the 100-TB "undo the bad merge" needs to cost megabytes, not a
    * snapshot rewrite). The restored version references the old files
    * exactly like a scoped tick does, so the reference-aware [[vacuum]]
    * keeps them alive as long as the restore is retained, and the
    * history stays intact — what happened (including the rolled-back
    * versions) remains auditable via [[changes]] until retention drops
    * it. Restoring a vacuumed version fails loudly ([[validate]]).
    */
  def restore(v: Int): Int = {
    validate(v)
    val next = currentVersion + 1
    clearDv(next)
    val (msch, mrows) = manifestData(v)
    val landed = writeManifest(s, s"$dir/v$next/_manifest", msch, mrows)
    // the restored state includes v's soft deletes: the DV is part of
    // the version's metadata and copies with the manifest
    val sch = schemaAsOf(v)
    dvOf(v, sch).foreach(_.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(dvPath(next).toString))
    writeSchema(s, dir, next, sch)
    commitWith(next, landed, "RESTORE")
    next
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`): a NEW
    * table at `destDir` whose v0 manifest is this table's CURRENT
    * manifest verbatim — zero data bytes copied, so forking a 100-TB
    * table for a dev/test sandbox or a what-if migration costs one
    * manifest write. The clone owns its own version chain (merges, DML,
    * compaction, vacuum — all independent; clone writes land in the
    * CLONE's directories and never touch the source), but its v0 (and
    * any scoped descendants) reference the SOURCE's files. The hazard,
    * stated loudly (Delta's own shallow-clone caveat): the source's
    * [[vacuum]] is reference-aware only WITHIN its own table — it
    * cannot see clones, so retiring source versions can delete files a
    * clone still references (the clone then fails LOUDLY mid-scan, the
    * reader-vs-vacuum contract — never silent partial data). A clone
    * meant to outlive the source's retention window calls [[compact]]
    * once: the compacted version is self-contained (zero cross-table
    * references), after which the source can vacuum freely.
    */
  def cloneTo(destDir: String): GraftTable = {
    val v = currentVersion
    val f = fsOf(s, destDir)
    require(!f.exists(markerPath(destDir, 0)),
      s"cloneTo: $destDir already holds a committed graft table")
    val (msch, mrows) = manifestData(v)
    writeManifest(s, s"$destDir/v0/_manifest", msch, mrows)
    // the clone-instant snapshot includes the source's soft deletes
    val sch = schemaAsOf(v)
    dvOf(v, sch).foreach(_.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$destDir/v0/_graft_dv"))
    writeSchema(s, destDir, 0, sch)
    // the clone inherits the constraint SET as of clone time (it is
    // part of the table definition); the two sets diverge thereafter
    val cs = constraints
    if (cs.nonEmpty)
      GraftTable.writeFsString(f,
        new HPath(s"$destDir/${GraftTable.ConstraintsFile}"),
        readFsString(fs, new HPath(s"$dir/${GraftTable.ConstraintsFile}")),
        overwrite = true)
    commit(s, destDir, 0, op = "CLONE")
    GraftTable.open(s, destDir, key)
  }

  /** The newest version committed at or before `ts` — `timestampAsOf`'s
    * resolution. The commit markers' payloads (written at commit time)
    * ARE the commit log, so this is one metadata pass over the retained
    * chain; ties at identical commit instants resolve to the higher
    * version (the one whose state `ts` observes). Loud when `ts`
    * precedes the oldest retained commit.
    */
  def versionAt(ts: java.time.Instant): Int = {
    val f = fs
    val ok = versions.filter(v => !java.time.Instant
      .parse(markerPayload(f, v).linesIterator.next().trim)
      .isAfter(ts))
    if (ok.isEmpty) throw new java.util.NoSuchElementException(
      s"graft table $dir has no version committed at or before $ts " +
        "(earlier versions may have been vacuumed)")
    ok.max
  }

  /** The table's audit surface (Delta's DESCRIBE HISTORY): one row per
    * committed version — commit time (the marker's payload), file/row/
    * byte totals and the carried-reference count (0 = self-contained;
    * >0 = a scoped tick's patchwork), all folded on the driver over the
    * version's manifest rows (n_bytes is a manifest column recorded at
    * write time, so history performs ZERO per-file size calls — at 10M
    * files a stat-per-file loop would be the planning-IO bug l09 exists
    * to avoid), plus the column count of the stored schema (watch
    * additive evolution land). Reads only metadata: the markers and the
    * per-version manifests (each a one-file parquet), never data files,
    * and starts no Spark job on a DV-free table; version count is
    * retention-bounded, so the per-version loop is model-sized by
    * construction.
    */
  def history(): DataFrame = {
    val sp = s
    import sp.implicits._
    val f = fs
    versions.map { v =>
      val committedAt = markerPayload(f, v).linesIterator.next().trim
      val (msch, rows) = manifestData(v)
      def total(c: String) = {
        val i = msch.fieldIndex(c)
        rows.iterator.map(r => if (r.isNullAt(i)) 0L else r.getLong(i)).sum
      }
      val pi = msch.fieldIndex("path")
      // n_rows counts PHYSICAL rows (the manifest's write-time stats);
      // dv_rows is how many of them the version's deletion vector hides
      // — live rows = n_rows - dv_rows (Delta reports DV'd files the
      // same way). One tombstone-sized parquet count per DV'd version.
      val sch = schemaAsOf(v)
      val dvRows = dvOf(v, sch).map(_.count()).getOrElse(0L)
      (v, committedAt, rows.length.toLong, total("n_rows"), total("n_bytes"),
        rows.count(r => !r.getString(pi).contains(s"/v$v/")).toLong,
        sch.fields.length, dvRows, opOf(f, v))
    }.toDF("version", "committed_at", "n_files", "n_rows", "bytes",
      "carried_files", "n_columns", "dv_rows", "operation")
  }

  /** Changelog BETWEEN two committed versions — time travel's other
    * half: not "what did the table look like at v" but "what happened
    * between vA and vB". It reads only the files the two versions do
    * not share, plus shared files a deletion vector names on either
    * side ([[delta]]): every other row is the same bytes on both sides.
    * One shuffle on the key groups each key's two sides; presence
    * decides I/D and a null-safe column compare decides U, so a key a
    * rewritten file re-lands unchanged emits nothing. Rows carry both
    * sides' payloads as `a_*` / `b_*` so a consumer can re-apply or
    * audit without re-reading either version. Schema asymmetry (an
    * evolution between vA and vB) compares over the UNION column set:
    * the absent side reads as a typed null, so a row whose only change
    * is a value in the new column is a U, and a row null there on both
    * sides is unchanged.
    */
  def diff(vA: Int, vB: Int): DataFrame = {
    val Seq(a, b) = snapsOf(Seq(vA, vB))
    val cols = (a.schema.fieldNames ++ b.schema.fieldNames)
      .distinct.filterNot(_ == key).toSeq
    val (pre, post) = (col("_graft_a"), col("_graft_b"))
    delta(Seq((vB, a, b)), cols).select(col(key) +:
      (cols.map(c => pre.getField(c).as(s"a_$c")) ++
        cols.map(c => post.getField(c).as(s"b_$c")) :+
        when(post.isNull, "D").when(pre.isNull, "I").otherwise("U")
          .as("op")): _*)
  }

  /** The CHANGE DATA FEED over the version chain (Delta's
    * `table_changes` shape): one row per changed key per version STEP
    * in (vA, vB] — the table's columns plus `_change_type` ('insert' |
    * 'delete' | 'update_preimage' | 'update_postimage'; updates emit
    * BOTH images, Delta-faithful, so a consumer can re-apply or audit
    * without reading any snapshot) and `_commit_version` (the step's
    * landing version). Derived purely from stored bytes: the versions
    * ARE the log, no changelog retention needed, and a CDC consumer
    * that polls `changes(lastSeen, currentVersion)` gets exactly the
    * ticks it missed. It reads the files each step changed — the files
    * one side of the step holds and the other does not, plus shared
    * files a deletion vector names on either side ([[delta]], Delta's
    * add/remove actions read off the manifests) — so its cost is the
    * churn of the span, not (span + 1) snapshots; a step that rewrites
    * everything (a full merge, `replace`, `compact`) costs its two
    * snapshots. All steps share one shuffle on (key, step). Schema
    * evolution composes: steps are unioned over the CHAIN's column set,
    * pre-evolution steps reading typed nulls in later columns. Step
    * count is retention-bounded (the version chain is), and the chain's
    * metadata is read once ([[snapsOf]]).
    */
  def changes(vA: Int, vB: Int): DataFrame = {
    // loud on vacuumed ends; the chain between them is gap-free by
    // construction (vacuum retires oldest-first)
    val chain = snapsOf(vA to vB)
    require(vA < vB,
      s"changes($vA, $vB) on graft table $dir: need vA < vB")
    // column order: the first step's columns, then the CDF columns, then
    // columns later steps introduce
    val firstPair = (chain(0).schema.fieldNames ++
      chain(1).schema.fieldNames).distinct.filterNot(_ == key).toSeq
    val laterCols = chain.drop(2).flatMap(_.schema.fieldNames).distinct
      .filterNot(c => c == key || firstPair.contains(c))
    val steps = chain.sliding(2).map { case Seq(a, b) => (b.v, a, b) }.toSeq
    val (pre, post) = (col("_graft_a"), col("_graft_b"))
    val both = pre.isNotNull && post.isNotNull
    def ev(ct: String, p: Column) = struct(lit(ct).as("ct"), p.as("p"))
    val e = col("_graft_cdf_e")
    delta(steps, firstPair ++ laterCols)
      .select(col(key), col("_graft_step"), explode(array_compact(array(
        when(pre.isNull, ev("insert", post)),
        when(post.isNull, ev("delete", pre)),
        when(both, ev("update_preimage", pre)),
        when(both, ev("update_postimage", post))))).as("_graft_cdf_e"))
      .select(col(key) +:
        (firstPair.map(c => e.getField("p").getField(c).as(c)) ++
          Seq(e.getField("ct").as("_change_type"),
              col("_graft_step").as("_commit_version")) ++
          laterCols.map(c => e.getField("p").getField(c).as(c))): _*)
  }

  /** One committed version's metadata as a change feed reads it: the
    * stored schema, the manifest rows and the deletion vector.
    */
  private case class Snap(v: Int, schema: StructType, m: ManifestIO.Data,
      dv: Option[DataFrame])

  /** The [[Snap]]s of versions `vs`, validated against ONE listing of
    * the committed chain (loud on a vacuumed or unknown version), each
    * version's marker read once for both its schema and its manifest.
    */
  private def snapsOf(vs: Seq[Int]): Seq[Snap] = {
    val committed = versions
    vs.foreach(validateIn(committed, _))
    val f = fs
    vs.map { v =>
      val payload = markerPayload(f, v)
      val sch = schemaAt(v, payload)
      Snap(v, sch, manifestAt(v, payload), dvOf(v, sch))
    }
  }

  /** The keys that differ between the two versions of each
    * `(step, before, after)` pair, one row per (key, step) with the
    * key's `before` payload as `_graft_a` and its `after` payload as
    * `_graft_b` — each a struct over `cols` (typed null where the
    * version lacks the column), NULL where that version does not hold
    * the key — kept only when the two differ (null-safe per column).
    *
    * Exact from the manifests alone: keys are unique within a version
    * and data files immutable, so a key whose row sits in a file both
    * versions hold, under the same deletion-vector rows, is unchanged.
    * Every differing row is in a file only one side holds or in a shared
    * file whose DV rows differ; each side scans those files under its
    * own schema minus its own DV. Shared files any DV of the pair names
    * are read on both sides — a superset, whose unchanged rows cancel in
    * the compare. The side scans are unioned and grouped ONCE on
    * (key, step).
    */
  private def delta(pairs: Seq[(Int, Snap, Snap)],
      cols: Seq[String]): DataFrame = {
    val snaps = pairs.flatMap(p => Seq(p._2, p._3))
    val types = snaps.flatMap(_.schema.fields)
      .map(f => f.name -> f.dataType).toMap
    val dvPaths = dvPathsOf(snaps)
    def side(step: Int, sn: Snap, paths: Seq[String], after: Boolean) = {
      val present = sn.schema.fieldNames.toSet
      scanWith(sn.schema, sn.dv, paths).select(col(key),
        lit(step).as("_graft_step"), lit(after).as("_graft_after"),
        struct(cols.map(c =>
          (if (present(c)) col(c) else lit(null).cast(types(c))).as(c)): _*)
          .as("_graft_p"))
    }
    val sides = pairs.flatMap { case (step, a, b) =>
      val (pa, pb) = (pathsOf(a.m), pathsOf(b.m))
      val (inA, inB) = (pa.toSet, pb.toSet)
      val dvd = dvPaths(a.v) ++ dvPaths(b.v)
      Seq(
        (a, pa.filter(p => !inB(p) || dvd(p)), false),
        (b, pb.filter(p => !inA(p) || dvd(p)), true))
        .collect { case (sn, ps, after) if ps.nonEmpty =>
          side(step, sn, ps.toSeq, after) }
    }
    val (pre, post) = (col("_graft_a"), col("_graft_b"))
    val changed = cols.map(c => !(pre.getField(c) <=> post.getField(c)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val p = col("_graft_p")
    val after = col("_graft_after")
    sides.reduceOption(_ union _)
      .getOrElse(side(pairs.head._1, pairs.head._3, Nil, after = true))
      .groupBy(col(key), col("_graft_step"))
      .agg(first(when(!after, p), ignoreNulls = true).as("_graft_a"),
        first(when(after, p), ignoreNulls = true).as("_graft_b"))
      .filter(pre.isNull || post.isNull || changed)
  }

  /** The data files each deletion vector among `snaps` names, by
    * version — one distinct job over those DVs, none when no version
    * has one.
    */
  private def dvPathsOf(snaps: Seq[Snap]): Map[Int, Set[String]] = {
    val named = snaps.distinctBy(_.v).flatMap(sn =>
      sn.dv.map(_.select(lit(sn.v).as("v"), col("path"))))
    named.reduceOption(_ union _).fold(Map.empty[Int, Set[String]])(
      _.distinct().collect().toSeq.groupMap(_.getInt(0))(_.getString(1))
        .map { case (v, ps) => v -> ps.toSet })
      .withDefaultValue(Set.empty)
  }

  /** Retire all but the newest `keep` committed versions (floored at 1 —
    * the current version always survives; uncommitted debris dirs are
    * not versions and are left for their writer). Marker first, bytes
    * second: a crash mid-vacuum leaves an unreadable (uncommitted)
    * stub that the next vacuum finishes deleting — idempotent, and no
    * reader who PLANS after the marker drop ever sees a half-deleted
    * version as live (a frame planned BEFORE it fails loudly mid-scan —
    * see the class comment's race contract). REFERENCE-AWARE: a retired
    * version's data files survive exactly as long as a retained
    * manifest (a scoped successor) still points at them; everything
    * else — marker, manifest, schema, unreferenced files — goes.
    * Returns the retired version numbers.
    */
  /** Time-based retention (Delta's `RETAIN n HOURS` shape): retire every
    * version committed strictly BEFORE `cutoff`, always keeping the
    * current version. Evaluated metadata-only — the marker payloads are
    * the commit log — then delegated to [[vacuum]]'s reference-aware
    * sweep, so a scoped successor still keeps the bytes it references
    * alive. The operational contract this enables: "readers and
    * streaming consumers may lag up to D" becomes
    * `vacuumOlderThan(now - D)` on a schedule, independent of how many
    * versions a bursty writer landed within D.
    */
  def vacuumOlderThan(cutoff: java.time.Instant): Seq[Int] = {
    val f = fs
    val vs = versions
    val keepFrom = vs.indexWhere(v => !java.time.Instant
      .parse(markerPayload(f, v).linesIterator.next().trim)
      .isBefore(cutoff))
    vacuum(if (keepFrom < 0) 1 else vs.length - keepFrom)
  }

  /** DRY RUN of [[vacuum]] (Delta's `VACUUM ... DRY RUN`): what would
    * `vacuum(keep)` do, without doing it — one row per file under the
    * to-be-retired version directories, labeled `delete` or `keep`
    * (kept = a retained manifest still references it, the
    * reference-aware rule). Metadata-only (version listing, manifest
    * reads, a directory walk of the doomed versions — no data IO), so
    * an operator can price a retention change before committing to it;
    * the real vacuum applies exactly this labeling.
    */
  def vacuumPreview(keep: Int): DataFrame = {
    val sp = s
    import sp.implicits._
    val f = fs
    def qual(p: String) = f.makeQualified(new HPath(p)).toString
    val vs = versions
    val doomed = vs.dropRight(math.max(1, keep))
    val retained = vs.drop(doomed.length)
    val referenced: Set[String] =
      if (doomed.isEmpty) Set.empty
      else retained
        .flatMap(v => pathsOf(manifestData(v)))
        .map(qual).toSet
    val rows = scala.collection.mutable.ArrayBuffer[(Int, String, String)]()
    doomed.foreach { v =>
      def sweep(p: HPath): Unit = f.listStatus(p).foreach { st =>
        if (st.isDirectory) sweep(st.getPath)
        else rows += ((v, st.getPath.toString,
          if (referenced(qual(st.getPath.toString))) "keep" else "delete"))
      }
      sweep(new HPath(s"$dir/v$v"))
    }
    rows.toSeq.toDF("version", "path", "action")
  }

  def vacuum(keep: Int): Seq[Int] = {
    val f = fs
    def qual(p: String) = f.makeQualified(new HPath(p)).toString
    val vs = versions
    val doomed = vs.dropRight(math.max(1, keep))
    if (doomed.isEmpty) return doomed
    val retained = vs.drop(doomed.length)
    val referenced: Set[String] = retained
      .flatMap(v => pathsOf(manifestData(v)))
      .map(qual).toSet
    doomed.foreach { v =>
      f.delete(markerPath(dir, v), false)
      val vdir = new HPath(s"$dir/v$v")
      f.delete(new HPath(vdir, "_manifest"), true)
      f.delete(new HPath(vdir, SchemaFile), false)
      // recursive listStatus rather than listFiles: the latter eagerly
      // materializes LocatedFileStatus (permissions and block locations
      // — local-FS implementations resolve those through java.io and
      // reject foreign schemes), and a metadata sweep needs neither
      var kept = false
      def sweep(p: HPath): Unit = f.listStatus(p).foreach { st =>
        if (st.isDirectory) sweep(st.getPath)
        else if (referenced(qual(st.getPath.toString))) kept = true
        else f.delete(st.getPath, false)
      }
      sweep(vdir)
      // nothing referenced survives → the whole directory goes (matches
      // the pre-scoped whole-dir retirement); otherwise the remaining
      // files ARE the retained manifests' references, dirs stay for them
      if (!kept) f.delete(vdir, true)
    }
    evictManifestMemo(doomed)
    doomed
  }
}

object GraftTable {

  import ManifestIO.{footerStats, writeManifest}

  private val SchemaFile = "_graft_schema.json"

  private[sources] val ConstraintsFile = "_graft_constraints"

  /** Marker-payload terminator — see [[GraftTable.markerPayload]]. */
  private val MarkerEnd = "\n#end"

  /** [[GraftTable.manifestMemo]] LRU bound (per table instance). */
  private[sources] val ManifestMemoMax = 64

  /** Test seam for the concurrent-writer spec: invoked immediately
    * before the commit marker's create-exclusive, so a spec can
    * interleave a second writer into the race window deterministically.
    * A no-op in production.
    */
  private[graft] var onBeforeCommit: (String, Int) => Unit = (_, _) => ()

  /** Floor on the per-version range-partition fan (keeps the manifest
    * non-degenerate — with one file there is nothing to prune), and the
    * per-file byte target the fan scales by above it.
    */
  private[graft] val VersionFilesFloor = 8
  private[graft] val TargetFileBytes = 128L << 20

  /** Data files for one version: Catalyst's size estimate over the
    * snapshot plan (driver-side, no job — exact for parquet-backed
    * frames, propagated estimates through joins/unions), divided by the
    * 128 MB file target, floored at [[VersionFilesFloor]]. A fixed fan
    * would be 12.5 TB/file at 100 TB; a size-derived fan keeps files
    * scan-sized at every table size — and on a merge's scoped arm it
    * sizes by the REWRITTEN SLICE, so a trickle tick lands a few small
    * files, not a snapshot-wide fan. Capped only by Int.MaxValue —
    * the range exchange itself bounds task counts via AQE.
    */
  private[graft] def versionFan(df: DataFrame): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // an UNKNOWN-stats leaf (an RDD-backed frame: the empty-version
    // read, a rewrapped stream batch) reports defaultSizeInBytes ≈
    // Long.MaxValue and poisons every estimate above it toward 2^63 —
    // without this guard a merge into an EMPTY table computed fan =
    // Int.MaxValue, and repartitionByRange paid a ~1M-point range
    // sampling plus thousands of bound partitions (measured: 24 s for a
    // 5000-row first batch through the streaming sink). Unknown means
    // unknown, not huge: every frame that reaches a landing with
    // RDD-backed lineage is churn-sized by construction (stream ticks,
    // merges against an empty base), so the floor fan is correct.
    val byBytes =
      if (bytes >= BigInt(Long.MaxValue)) 0
      else (bytes / TargetFileBytes).min(BigInt(Int.MaxValue)).toInt
    math.max(VersionFilesFloor, byBytes)
  }

  /** The Hadoop FileSystem serving `p` — resolved from the path's own
    * scheme against the session's Hadoop configuration, exactly as
    * Spark's file sources resolve it. Every metadata operation (markers,
    * schema files, version listing, the vacuum sweep) goes through this,
    * so the table runs unchanged on any configured lake URI.
    */
  private def fsOf(s: SparkSession, p: String): FileSystem =
    new HPath(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def readFsString(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def writeFsString(fs: FileSystem, p: HPath, body: String,
      overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def markerPath(dir: String, v: Int): HPath =
    new HPath(s"$dir/v$v/_GRAFT_COMMITTED")

  /** Commit version v: the marker is created CREATE-EXCLUSIVE, so of
    * two writers racing the same version number exactly one commits —
    * the loser fails loudly here instead of silently interleaving (the
    * class comment's concurrent-writer contract). The payload is the
    * commit-log record: line 1 the commit instant, line 2 the staging
    * token (empty outside [[GraftTable.mergeConcurrent]]), line 3 the
    * OPERATION name (Delta's DESCRIBE HISTORY column — what kind of
    * write created this version), framed by the terminator. Returns the
    * payload as [[GraftTable.markerPayload]] reads it back.
    */
  private def commit(s: SparkSession, dir: String, v: Int,
      token: String = null, op: String = "WRITE"): String = {
    onBeforeCommit(dir, v)
    // line 4 is a per-commit NONCE: no reader parses it; it exists so
    // the payload — the manifest-memo key — is unique per commit even
    // when an uncommit -> rewrite -> commit of the same version lands
    // within the commit instant's clock resolution
    val payload = java.time.Instant.now().toString +
      "\n" + Option(token).getOrElse("") + "\n" + op +
      "\n" + java.util.UUID.randomUUID().toString
    try writeFsString(fsOf(s, dir), markerPath(dir, v),
      payload + MarkerEnd, overwrite = false)
    catch {
      // RawLocalFileSystem raises FileAlreadyExistsException; other
      // connectors may surface the exclusive-create loss as a plain
      // IOException — the exists() guard keeps genuine IO failures loud
      // under their own type
      case e: java.io.IOException
          if fsOf(s, dir).exists(markerPath(dir, v)) =>
        throw new IllegalStateException(
          s"concurrent writer detected on graft table $dir: v$v was " +
            "committed by another writer during this write (single-" +
            "writer contract violated); this writer's version is " +
            "abandoned", e)
    }
    payload.trim
  }

  private def uncommit(s: SparkSession, dir: String, v: Int): Unit =
    fsOf(s, dir).delete(markerPath(dir, v), false)

  /** All fields read-nullable — what a parquet scan yields anyway, and
    * what lets an explicit-schema read backfill evolved columns.
    */
  private def nullable(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(nullable = true)))

  /** Write one version's data files: range-partitioned + sorted on the
    * key, so each file spans a tight contiguous key range — what makes
    * the manifest selective.
    */
  private def writeFiles(s: SparkSession, vdir: String, key: String,
      df: DataFrame): Unit =
    df.repartitionByRange(versionFan(df), col(key))
      .sortWithinPartitions(key)
      .write.mode(SaveMode.Overwrite).parquet(vdir)

  /** Write one version's data files MORTON-CLUSTERED on two columns —
    * l02's interleave under the facade: each key normalized to an 8-bit
    * bucket by integer DIV over its own max (rank-like for roughly
    * uniform keys; what balances the interleave when the dims' widths
    * differ), bits interleaved ([[Lake.zValue]]), range-partitioned on
    * the z-value and sorted within — every file a bounded rectangle of
    * the 2-D key space.
    */
  private def writeFilesZ(s: SparkSession, vdir: String,
      zCols: Seq[String], df: DataFrame): Unit = {
    val Seq(a, b) = zCols
    val stats = df.agg(max(col(a)).cast("long").as("__graft_amx"),
                       max(col(b)).cast("long").as("__graft_bmx"))
    df.crossJoin(broadcast(stats))
      .withColumn("__graft_ab",
        expr(s"CAST($a * 256 DIV (__graft_amx + 1) AS BIGINT)"))
      .withColumn("__graft_bb",
        expr(s"CAST($b * 256 DIV (__graft_bmx + 1) AS BIGINT)"))
      .withColumn("__graft_z",
        Lake.zValue(col("__graft_ab"), col("__graft_bb"), 8))
      .repartitionByRange(versionFan(df), col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_ab", "__graft_bb", "__graft_z",
            "__graft_amx", "__graft_bmx")
      .write.mode(SaveMode.Overwrite).parquet(vdir)
  }

  /** Per-file (path, key_lo, key_hi, n_rows, n_bytes) stats for the
    * files under `vdir`, recorded at write time (the file size too, so
    * [[GraftTable.history]] and any byte accounting read the manifest,
    * never stat files). `statCols` adds per-file `<col>_lo/_hi` spans
    * for a z-order compact's clustering keys. Taken from the footers
    * the writer just produced ([[ManifestIO.footerStats]]) — no Spark
    * job; the one fallback is [[scanStats]], when a stat column's
    * footer statistics are missing, truncated or of a type whose parquet
    * order is not Spark's, or the version wrote more files than Spark's
    * driver-side listing threshold. An EMPTY version (a tick that
    * deleted every touched row and inserted none) yields zero rows.
    */
  private def fileStats(s: SparkSession, vdir: String, key: String,
      schema: StructType, statCols: Seq[String] = Nil): ManifestIO.Data =
    footerStats(s, vdir, key, schema, statCols)
      .getOrElse(scanStats(s, vdir, key, schema, statCols))

  /** [[fileStats]] derived in one scan grouped on the file-source
    * `_metadata` column (which also carries the file size). The
    * explicit schema keeps an empty version readable — zero files, zero
    * rows.
    */
  private[graft] def scanStats(s: SparkSession, vdir: String, key: String,
      schema: StructType, statCols: Seq[String] = Nil): ManifestIO.Data = {
    val extraNames = statCols.filterNot(_ == key)
      .flatMap(c => Seq(s"${c}_lo", s"${c}_hi"))
    val extra = statCols.filterNot(_ == key).flatMap(c =>
      Seq(min(col(c)).as(s"${c}_lo"), max(col(c)).as(s"${c}_hi")))
    val aggs = Seq(min(key).as("key_lo"), max(key).as("key_hi"),
      count(lit(1)).as("n_rows")) ++ extra
    val df = s.read.schema(nullable(schema)).parquet(vdir)
      .groupBy(col("_metadata.file_path").as("path"),
               col("_metadata.file_size").as("n_bytes"))
      .agg(aggs.head, aggs.tail: _*)
      .select((Seq("path", "key_lo", "key_hi", "n_rows", "n_bytes") ++
        extraNames).map(col): _*)
    (nullable(df.schema), df.collect())
  }

  /** `a unionByName(b, allowMissingColumns = true)` over manifests held
    * on the driver: `a`'s columns, then `b`'s extra ones; a row missing
    * a column reads NULL there.
    */
  private def unionByName(a: ManifestIO.Data,
      b: ManifestIO.Data): ManifestIO.Data = {
    val sch = StructType(a._1.fields ++
      b._1.fields.filterNot(f => a._1.fieldNames.contains(f.name)))
    def align(m: ManifestIO.Data): Array[Row] = {
      val idx = sch.fieldNames.map(n =>
        if (m._1.fieldNames.contains(n)) m._1.fieldIndex(n) else -1)
      m._2.map(r =>
        Row.fromSeq(idx.toSeq.map(i => if (i < 0) null else r.get(i))))
    }
    (sch, align(a) ++ align(b))
  }

  private def writeSchema(s: SparkSession, dir: String, v: Int,
      schema: StructType): Unit =
    writeFsString(fsOf(s, dir), new HPath(s"$dir/v$v/$SchemaFile"),
      nullable(schema).json, overwrite = true)

  /** Create a table at `dir` with `df` as committed version 0. */
  def create(s: SparkSession, dir: String, df: DataFrame,
      key: String = "doc_id"): GraftTable = {
    val t = new GraftTable(s, dir, key)
    t.land(0, df, "CREATE")
    t
  }

  /** Open an existing table (at least one committed version required). */
  def open(s: SparkSession, dir: String,
      key: String = "doc_id"): GraftTable = {
    val t = new GraftTable(s, dir, key)
    t.currentVersion // loud if nothing committed
    t
  }
}
