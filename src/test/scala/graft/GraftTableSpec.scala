package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Lake
import graft.sources.{GraftTable, Tables}

/** GraftTable (l11) — the contract pieces the gate hash can't carry:
  * loud failures for vacuumed/nonexistent versions, byte-stable
  * retained versions through vacuum, torn (uncommitted) version
  * directories invisible to readers and recovered by the next merge,
  * and idempotent vacuum.
  */
class GraftTableSpec extends AnyFunSuite with SparkFixture {

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("doc_id").collect().map(_.toString).toSeq

  /** One canonical spelling for file-path strings: `inputFiles` emits
    * `file:///x` while the manifest's `_metadata.file_path` emits
    * `file:/x` — Hadoop Path normalizes both to the latter.
    */
  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toString

  private def fileState(dir: String): Map[String, (Long, String)] = {
    val base = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.Map[String, (Long, String)]()
    java.nio.file.Files.walk(base).forEach { p =>
      if (java.nio.file.Files.isRegularFile(p)) {
        val bytes = java.nio.file.Files.readAllBytes(p)
        val md = java.security.MessageDigest.getInstance("MD5")
        out(base.relativize(p).toString) =
          (bytes.length.toLong,
           md.digest(bytes).map("%02x".format(_)).mkString)
      }
    }
    out.toMap
  }

  test("version chain, time travel, loud retention, torn-dir recovery") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")

    val t = GraftTable.create(spark, dir, docs)
    assert(t.versions == Seq(0) && t.currentVersion == 0)

    val log = Lake.cdcChangelog(t.read())
    val even = log.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odd = log.filter(pmod(col("doc_id"), lit(2)) === 1)
    assert(t.merge(even) == 1)
    assert(t.merge(odd) == 2)
    assert(t.versions == Seq(0, 1, 2))

    // time travel reproduces every committed state
    assert(collectSorted(t.readAsOf(0)) == collectSorted(docs))
    assert(collectSorted(t.readAsOf(1)) ==
      collectSorted(Lake.cdcMerge(docs, even)))
    assert(collectSorted(t.readAsOf(2)) == collectSorted(t.read()))
    assert(collectSorted(t.read()) ==
      collectSorted(Lake.cdcMerge(Lake.cdcMerge(docs, even), odd)))

    // retained versions are byte-identical through vacuum
    val before = Seq(1, 2).map(v => fileState(s"$dir/v$v"))
    assert(t.vacuum(keep = 2) == Seq(0))
    assert(Seq(1, 2).map(v => fileState(s"$dir/v$v")) == before,
      "vacuum touched retained version bytes")
    assert(t.versions == Seq(1, 2))

    // vacuumed read fails loudly and names retention
    val gone = intercept[java.util.NoSuchElementException](t.readAsOf(0))
    assert(gone.getMessage.contains("vacuum") &&
           gone.getMessage.contains("v1"),
      s"retention failure message unhelpful: ${gone.getMessage}")
    // never-committed read names the committed range
    val missing = intercept[java.util.NoSuchElementException](t.readAsOf(7))
    assert(missing.getMessage.contains("[1, 2]"),
      s"missing-version message unhelpful: ${missing.getMessage}")

    // vacuum is idempotent
    assert(t.vacuum(keep = 2).isEmpty)

    // a torn (crashed, uncommitted) version directory is invisible...
    docs.limit(3).write.parquet(s"$dir/v3")
    assert(t.versions == Seq(1, 2) && t.currentVersion == 2)
    intercept[java.util.NoSuchElementException](t.readAsOf(3))
    // ...and the next merge overwrites it with a real committed v3
    assert(t.merge(odd.limit(0).select(log.columns.map(col): _*)) == 3)
    assert(t.versions == Seq(1, 2, 3))
    assert(collectSorted(t.readAsOf(3)) == collectSorted(t.readAsOf(2)))

    // open() on the populated dir sees the same chain; on an empty dir
    // it refuses loudly
    assert(GraftTable.open(spark, dir).currentVersion == 3)
    val empty = java.nio.file.Files.createTempDirectory("graft_tbl_e").toString
    intercept[IllegalStateException](GraftTable.open(spark, empty))

    Lake.deleteTree(java.nio.file.Paths.get(dir))
    Lake.deleteTree(java.nio.file.Paths.get(empty))
  }

  test("vacuumOlderThan retires by commit time, keeps current, " +
      "composes with the reference-aware sweep") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_vt").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    val log = Lake.cdcChangelog(t.read())
    t.merge(log.filter(pmod(col("doc_id"), lit(2)) === 0))
    t.merge(log.filter(pmod(col("doc_id"), lit(2)) === 1))
    // materialize BEFORE vacuuming: `log` was planned over v0's files,
    // which the vacuum below retires (the reader-vs-vacuum contract)
    val expected = collectSorted(Lake.cdcMerge(docs, log))

    def committedAt(v: Int) = java.time.Instant.parse(
      t.history().filter(col("version") === v)
        .select("committed_at").head().getString(0))

    // cutoff at v1's own commit instant: strictly-before retires v0 only
    assert(t.vacuumOlderThan(committedAt(1)) == Seq(0))
    assert(t.versions == Seq(1, 2))
    // idempotent at the same cutoff
    assert(t.vacuumOlderThan(committedAt(1)).isEmpty)
    // a cutoff after everything keeps only the current version
    assert(t.vacuumOlderThan(committedAt(2).plusSeconds(3600)) == Seq(1))
    assert(t.versions == Seq(2))
    assert(collectSorted(t.read()) == expected)
    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("compactSmall binpacks only the small-file debris; sized files " +
      "carry forward byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_bp").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    // three trickle ticks, each on its own eighth of the key span (so
    // each takes the scoped arm), leave small per-tick files in the manifest
    val w = docs.agg(max("doc_id")).head().getLong(0) / 8
    (0 until 3).foreach { i =>
      t.merge(docs.filter(col("doc_id") >= i * w && col("doc_id") < (i + 1) * w)
        .select(lit("U").as("op"), col("doc_id"), col("source"),
          concat(col("text"), lit(s" (tick $i)")).as("text")))
    }
    val before = collectSorted(t.read())
    val m = t.manifest(t.currentVersion)
    // dynamic threshold: everything below v0's smallest file is debris
    val th = t.manifest(0).agg(min("n_bytes")).head().getLong(0)
    val smallBefore = m.filter(col("n_bytes") < th).count()
    val bigBefore = m.filter(col("n_bytes") >= th)
      .select("path", "n_bytes").collect().map(_.toString).toSet
    assert(smallBefore >= 2, s"setup: expected debris, got $smallBefore")

    val v = t.compactSmall(th)
    assert(v == t.currentVersion)
    // content is untouched; the debris collapsed; sized files carried
    // forward as the SAME manifest rows (same paths, same bytes)
    assert(collectSorted(t.read()) == before)
    val after = t.manifest(v)
    assert(after.filter(col("n_bytes") < th).count() < smallBefore)
    assert(after.filter(col("n_bytes") >= th)
      .select("path", "n_bytes").collect().map(_.toString).toSet
      .intersect(bigBefore) == bigBefore)
    // idempotent-ish: with at most one small file left, no version event
    val v2 = t.compactSmall(th)
    if (after.filter(col("n_bytes") < th).count() < 2)
      assert(v2 == v)
    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("CHECK constraints gate every write path, exempt deletes, and " +
      "follow clones") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_ck").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, s"$dir/tbl", docs)

    // adding a constraint the snapshot violates is loud and not persisted
    val bad = intercept[IllegalArgumentException] {
      t.addConstraint("impossible", "doc_id < 0")
    }
    assert(bad.getMessage.contains("impossible") &&
      bad.getMessage.contains("current snapshot"))
    assert(t.constraints.isEmpty)

    t.addConstraint("has_text", "length(text) > 0")
    t.addConstraint("id_range", "doc_id >= 0 AND doc_id < 2000000000")
    assert(t.constraints.keySet == Set("has_text", "id_range"))
    intercept[IllegalArgumentException] {
      t.addConstraint("has_text", "true")
    }

    // a violating merge is loud, names the constraint, and lands nothing
    val v0 = t.currentVersion
    val violation = docs.limit(3)
      .select(lit("U").as("op"), col("doc_id"), col("source"),
        lit("").as("text"))
    val e = intercept[IllegalArgumentException] { t.merge(violation) }
    assert(e.getMessage.contains("has_text") &&
      e.getMessage.contains("3 incoming row(s)"))
    assert(t.currentVersion == v0)
    // ...on the full arm (a violation spread over every file), the DML
    // and the connector writer too
    intercept[IllegalArgumentException] {
      t.merge(docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(lit("U").as("op"), col("doc_id"), col("source"),
          lit("").as("text")))
    }
    intercept[IllegalArgumentException] {
      t.update(col("doc_id") < 5, Map("text" -> lit("")))
    }
    intercept[Exception] {
      violation.drop("op").write.format("graft").mode("append")
        .save(s"$dir/tbl")
    }
    assert(t.currentVersion == v0)

    // passing writes land; deletes are exempt (D rows carry old payloads)
    val log = Lake.cdcChangelog(t.read())
    t.merge(log)
    t.delete(col("doc_id") % 7 === 0)
    assert(t.currentVersion == v0 + 2)

    // a clone inherits the constraint set and enforces it independently
    val c = t.cloneTo(s"$dir/clone")
    assert(c.constraints == t.constraints)
    intercept[IllegalArgumentException] { c.merge(violation) }
    c.dropConstraint("has_text")
    c.merge(violation) // the clone diverged; the source still enforces
    intercept[IllegalArgumentException] { t.merge(violation) }

    // drop is loud on unknowns and lifts the gate
    intercept[IllegalArgumentException] { t.dropConstraint("nope") }
    t.dropConstraint("has_text")
    t.merge(violation)
    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("manifest-planned range reads prune to admitted files, per version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_m").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    t.merge(Lake.cdcChangelog(t.read()))

    for (v <- Seq(0, 1)) {
      // answer identity: the planned read equals the full read filtered
      val ranged = t.readRangeAsOf(v, 100L, 350L)
      assert(ranged.count() > 0, s"v$v: empty range read; spec is vacuous")
      assert(collectSorted(ranged) ==
        collectSorted(t.readAsOf(v)
          .filter(col("doc_id") >= 100 && col("doc_id") < 350)),
        s"v$v: manifest-planned range read changed the answer")

      // plan identity: the executed scan opened ONLY manifest-admitted
      // files, and the admission actually pruned (selective manifest)
      val all = t.readAsOf(v).inputFiles.map(norm).toSet
      val admitted = spark.read.parquet(s"$dir/v$v/_manifest")
        .filter(col("key_hi") >= 100 && col("key_lo") < 350)
        .select("path").collect().map(r => norm(r.getString(0))).toSet
      val opened = ranged.inputFiles.map(norm).toSet
      assert(opened.subsetOf(admitted),
        s"v$v: scan opened ${opened -- admitted} beyond the manifest admission")
      assert(admitted.size < all.size,
        s"v$v: manifest admitted all ${all.size} files; pruning is vacuous")

      // the manifest is data-read-invisible (underscore prefix) and
      // covers every data file exactly once
      val manifest = spark.read.parquet(s"$dir/v$v/_manifest")
      assert(manifest.select("path").collect()
        .map(r => norm(r.getString(0))).toSet
        == all, s"v$v: manifest paths != data files")
      assert(all.forall(!_.contains("_manifest")),
        s"v$v: data read saw manifest files")
    }

    // empty admission: empty frame, table schema intact
    val none = t.readRange(100000000L, 100000001L)
    assert(none.columns.toSeq == t.read().columns.toSeq)
    assert(none.count() == 0)

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("the version fan scales with snapshot size above the floor") {
    // gate-scale snapshots land at the 8-file floor (a degenerate
    // 1-file version would make the manifest unprunable); a snapshot
    // whose Catalyst size estimate exceeds floor x 128 MB fans wider —
    // the 100-TB property, checked on stats alone (no job runs)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    assert(GraftTable.versionFan(docs) == GraftTable.VersionFilesFloor)
    // a snapshot whose stats say ~2.4 GB (range: 8 bytes/row, exact
    // Catalyst estimate) must fan to ~19 files of ~128 MB
    val big = spark.range(300L << 20).toDF("doc_id")
    val fan = GraftTable.versionFan(big)
    assert(fan > GraftTable.VersionFilesFloor,
      s"a 2.4 GB snapshot still fanned to $fan files")
    val expect = (big.queryExecution.optimizedPlan.stats.sizeInBytes /
      GraftTable.TargetFileBytes).toInt
    assert(fan == math.max(GraftTable.VersionFilesFloor, expect))
  }

  test("mergeAs: replay-convergent versioned merges for streaming writers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_s").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    val log = Lake.cdcChangelog(t.read())
    val even = log.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odd = log.filter(pmod(col("doc_id"), lit(2)) === 1)

    // batch 0 -> v1, batch 1 -> v2 (the streaming foreachBatch shape)
    assert(t.mergeAs(even, 1) == 1)
    assert(t.mergeAs(odd, 2) == 2)
    val v2 = collectSorted(t.readAsOf(2))

    // checkpoint REPLAY of batch 0: same version, same base, same input
    // — overwrites v1 convergently and leaves v2 untouched
    assert(t.mergeAs(even, 1) == 1)
    assert(t.versions == Seq(0, 1, 2))
    assert(collectSorted(t.readAsOf(1)) ==
      collectSorted(Lake.cdcMerge(docs, even)))
    assert(collectSorted(t.readAsOf(2)) == v2)

    // torn replay: v1's marker gone (crash between data and marker) —
    // the version disappears from every reader until a replay finishes it
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir, "v1", "_GRAFT_COMMITTED"))
    assert(t.versions == Seq(0, 2))
    intercept[java.util.NoSuchElementException](t.readAsOf(1))
    assert(t.mergeAs(even, 1) == 1)
    assert(t.versions == Seq(0, 1, 2))

    // a skipped offset is a stream bug, not a silent gap
    intercept[IllegalArgumentException](t.mergeAs(odd, 9))

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("schema evolution: additive merge, old/new reader matrix, diff asymmetry") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_ev").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    val log = Lake.cdcChangelog(t.read())
      .withColumn("rev", pmod(col("doc_id"), lit(97L)).cast("int"))
    t.merge(log)

    // old reader: time travel returns the pre-evolution schema VERBATIM
    assert(t.readAsOf(0).columns.toSeq == Seq("doc_id", "source", "text"))
    assert(t.schemaAsOf(0).fieldNames.toSeq == Seq("doc_id", "source", "text"))
    // new reader: the union schema — upserts define rev, survivors null
    assert(t.read().columns.toSeq == Seq("doc_id", "source", "text", "rev"))
    val v1 = t.read()
    assert(v1.join(log.select("doc_id"), Seq("doc_id"), "left_anti")
      .filter(col("rev").isNotNull).count() == 0,
      "null backfill leaked values into untouched rows")
    val ups = v1.join(log.filter(col("op") === "U").select("doc_id"),
      Seq("doc_id"), "left_semi")
    assert(ups.count() > 0 && ups.filter(col("rev").isNull ||
      col("rev") =!= pmod(col("doc_id"), lit(97L)).cast("int")).count() == 0,
      "upserts did not carry the evolved column")

    // diff across the evolution compares the UNION column set: the
    // pre-evolution side of the new column reads as typed null...
    val d = t.diff(0, 1)
    assert(d.columns.contains("a_rev") && d.columns.contains("b_rev"))
    assert(d.filter(col("a_rev").isNotNull).count() == 0)
    // ...and re-applying diff(0,1) onto v0 reproduces v1 row-for-row
    val rebuilt = t.readAsOf(0)
      .withColumn("rev", lit(null).cast("int"))
      .join(d.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(d.filter(col("op").isin("I", "U"))
        .select(col("doc_id"), col("b_source").as("source"),
                col("b_text").as("text"), col("b_rev").as("rev")))
    assert(collectSorted(rebuilt) == collectSorted(v1),
      "re-applied diff(0,1) did not reproduce v1")

    // additions evolve; silent drops fail loudly by column name
    val bad = intercept[IllegalArgumentException](t.merge(log.drop("text")))
    assert(bad.getMessage.contains("text"),
      s"missing-column failure unhelpful: ${bad.getMessage}")

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("scoped merge: untouched bytes carry forward, manifest agrees, " +
       "vacuum is reference-aware") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_sc").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 8
    // a key-local changelog: touches under half the files, so the
    // merge takes the scoped arm
    val log = Lake.cdcChangelog(t.read()).filter(col("doc_id") < cut)
    val full = collectSorted(Lake.cdcMerge(docs, log))

    val v0State = fileState(s"$dir/v0")
    t.merge(log)

    // content identity with the whole-snapshot CDC merge
    assert(collectSorted(t.read()) == full)

    // untouched files carry forward as the SAME paths and bytes; the
    // rewritten slice is a strict subset
    assert(fileState(s"$dir/v0") == v0State,
      "scoped merge touched v0 bytes")
    val m0 = t.manifest(0).select("path").collect().map(_.getString(0)).toSet
    val m1 = t.manifest(1).select("path").collect().map(_.getString(0)).toSet
    val carried = m1.intersect(m0)
    assert(carried.nonEmpty, "scoped merge carried nothing; spec is vacuous")
    assert(carried.size < m0.size, "scoped merge rewrote nothing; spec is vacuous")
    assert((m1 -- m0).forall(_.contains("/v1/")),
      "rewritten files landed outside the new version directory")

    // manifest/file agreement: stats recomputed from the actual files
    // (including the write-time n_bytes column) equal the committed
    // manifest rows
    val recomputed = spark.read.parquet(m1.toSeq: _*)
      .groupBy(col("_metadata.file_path").as("path"),
               col("_metadata.file_size").as("bytes"))
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"),
           count(lit(1)).as("n"))
      .collect().map(r => norm(r.getString(0)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(1))).toMap
    val committed = t.manifest(1)
      .select("path", "key_lo", "key_hi", "n_rows", "n_bytes")
      .collect().map(r => norm(r.getString(0)) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(recomputed == committed, "manifest rows disagree with file stats")

    // manifest-planned range reads still work across mixed-vintage files
    assert(collectSorted(t.readRange(0L, cut)) ==
      collectSorted(t.read().filter(col("doc_id") >= 0 && col("doc_id") < cut)))

    // reference-aware vacuum: v0 retires, but the files v1 still
    // references survive byte-identical; everything else in v0 goes
    assert(t.vacuum(keep = 1) == Seq(0))
    def local(p: String) = java.nio.file.Paths.get(java.net.URI.create(p))
    assert(carried.forall(p => java.nio.file.Files.exists(local(p))),
      "vacuum deleted files a retained manifest references")
    assert((m0 -- carried).forall(p => !java.nio.file.Files.exists(local(p))),
      "vacuum kept unreferenced files")
    assert(collectSorted(t.read()) == full,
      "post-vacuum scoped version lost rows")
    val gone = intercept[java.util.NoSuchElementException](t.readAsOf(0))
    assert(gone.getMessage.contains("vacuum"))

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("every keyed writer dispatches by measured touch fraction") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_au").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    val log = Lake.cdcChangelog(t.read())
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 8
    val narrow = col("doc_id") < cut
    // hash-spread keys: every file holds some
    val wide = pmod(col("doc_id"), lit(7)) === 2
    // the arm version v took, from the audit trail: the scoped arm
    // carries earlier versions' files forward, the full arm carries none
    def armOf(g: GraftTable, v: Int): String = {
      val carried = g.history().filter(col("version") === v).head()
        .getAs[Long]("carried_files")
      if (carried > 0) "scoped" else "full"
    }
    def arm(v: Int): String = armOf(t, v)
    def upserts(c: org.apache.spark.sql.Column, tag: String) =
      docs.filter(c).select(lit("U").as("op"), col("doc_id"),
        col("source"), concat(col("text"), lit(tag)).as("text"))

    // a key-local trickle (touches < half the files) merges SCOPED:
    // the new manifest carries old paths forward
    t.merge(log.filter(col("doc_id") < cut))
    val m1 = t.manifest(1).select("path").collect().map(_.getString(0))
    assert(m1.exists(_.contains("/v0/")),
      "trickle tick did not take the scoped path")
    assert(collectSorted(t.readAsOf(1)) ==
      collectSorted(Lake.cdcMerge(docs, log.filter(col("doc_id") < cut))))
    assert(arm(1) == "scoped")
    assert(t.history().filter(col("version") === 1).head()
      .getAs[String]("operation") == "MERGE SCOPED")

    // the full md5-bucket changelog touches hash-spread keys in every
    // file — a wide tick merges FULL: the new version is self-contained
    // (re-applying the first tick's D/U rows is idempotent by payload)
    t.merge(log)
    val m2 = t.manifest(2).select("path").collect().map(_.getString(0))
    assert(m2.forall(_.contains("/v2/")),
      "wide tick did not take the full self-contained path")
    assert(arm(2) == "full")
    assert(t.history().filter(col("version") === 2).head()
      .getAs[String]("operation") == "MERGE")

    // the same measurement behind every other keyed writer, each input
    // landed as v1 of a fresh table: a narrow input takes the scoped
    // arm, a wide one the full arm
    def both(what: String)(write: (GraftTable, String,
        org.apache.spark.sql.Column) => Unit): Unit =
      Seq(narrow -> "scoped", wide -> "full").foreach { case (c, expect) =>
        val d = java.nio.file.Files.createTempDirectory("graft_tbl_aw").toString
        val g = GraftTable.create(spark, d, docs)
        write(g, d, c)
        assert(g.versions == Seq(0, 1))
        assert(armOf(g, 1) == expect,
          s"$what over a $expect-arm input took the other arm")
        Lake.deleteTree(java.nio.file.Paths.get(d))
      }
    both("mergeAs")((g, _, c) => g.mergeAs(upserts(c, " (as)"), 1))
    both("delete")((g, _, c) => g.delete(c && pmod(col("doc_id"), lit(3)) === 0))
    both("update")((g, _, c) =>
      g.update(c, Map("text" -> concat(col("text"), lit("!")))))
    both("mergeInto") { (g, _, c) =>
      g.mergeInto(docs.filter(c))
        .whenMatchedUpdate(Map("text" -> "concat(t.text, ' (into)')"))
        .execute()
    }
    both("connector Append") { (_, d, c) =>
      upserts(c, " (append)").drop("op").write.format("graft")
        .mode("append").save(d)
    }

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("compact resets a scoped patchwork into one self-contained version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_cp").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    val log = Lake.cdcChangelog(t.read())
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 3
    // key-disjoint thirds: each touches under half its base's files
    t.merge(log.filter(col("doc_id") < cut))
    t.merge(log.filter(col("doc_id") >= cut && col("doc_id") < 2 * cut))
    t.merge(log.filter(col("doc_id") >= 2 * cut))

    // the scoped chain left a cross-version patchwork
    val before = t.manifest(3).select("path").collect().map(_.getString(0))
    assert(before.exists(!_.contains("/v3/")),
      "no cross-version references after 3 scoped ticks; spec is vacuous")
    val content = collectSorted(t.read())

    // compact: content no-op, layout reset, zero references
    assert(t.compact() == 4)
    assert(collectSorted(t.readAsOf(4)) == content,
      "compaction changed the answer")
    val m4 = t.manifest(4).select("path").collect().map(_.getString(0))
    assert(m4.forall(_.contains("/v4/")),
      "compacted version still references older files")
    assert(m4.length <= before.length,
      s"compaction grew the file count ${before.length} -> ${m4.length}")

    // with no references left, vacuum drops the WHOLE history
    assert(t.vacuum(keep = 1) == Seq(0, 1, 2, 3))
    for (v <- 0 to 3)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, s"v$v")),
        s"v$v directory survived vacuum after compaction")
    assert(collectSorted(t.read()) == content)

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("mergeAs replay refuses to tear a scoped successor") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_rt").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    val log = Lake.cdcChangelog(t.read())
    val even = log.filter(pmod(col("doc_id"), lit(2)) === 0)
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 8
    t.mergeAs(even, 1) // full v1 (the streaming shape)
    t.merge(log.filter(pmod(col("doc_id"), lit(2)) === 1 &&
      col("doc_id") < cut)) // key-local: scoped v2 carries v1 files forward
    assert(t.manifest(2).filter(col("path").contains("/v1/")).count() > 0,
      "scoped v2 references nothing under v1; guard spec is vacuous")

    // a checkpoint replay of batch 0 would overwrite v1's files out from
    // under v2's manifest — refused loudly, naming the scoped holder
    val torn = intercept[IllegalStateException](t.mergeAs(even, 1))
    assert(torn.getMessage.contains("scoped") && torn.getMessage.contains("v2"),
      s"replay-tear failure unhelpful: ${torn.getMessage}")
    // v2 is untorn and still reads
    assert(t.read().count() > 0)

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("mergeAs: exactly-once scoped ticks for streaming writers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_ss").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    val log = Lake.cdcChangelog(t.read())
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 3
    val tick0 = log.filter(col("doc_id") < cut)
    val tick1 = log.filter(col("doc_id") >= cut && col("doc_id") < 2 * cut)

    // key-disjoint thirds: each tick touches under half its base's files
    assert(t.mergeAs(tick0, 1) == 1)
    assert(t.manifest(1).filter(col("path").contains("/v0/")).count() > 0,
      "tick 0 carried no v0 files; the scoped leg is vacuous")
    assert(t.mergeAs(tick1, 2) == 2)
    assert(t.manifest(2).filter(col("path").contains("/v1/")).count() > 0,
      "tick 1 carried no v1 files; the tear leg below is vacuous")
    val content = collectSorted(t.readAsOf(2))
    // carried = the references into EARLIER versions; v2's own files
    // get a fresh write-job uuid in their names on every (re)write, so
    // only the carried set is name-stable — and it is what a tear
    // would tear
    def carriedRefs(): Seq[String] = t.manifest(2).select("path")
      .collect().map(_.getString(0)).filterNot(_.contains("/v2/"))
      .sorted.toSeq
    val carried = carriedRefs()
    assert(carried.nonEmpty, "v2 carried nothing; replay leg is vacuous")
    val priorFiles = (fileState(s"$dir/v0"), fileState(s"$dir/v1"))

    // checkpoint replay of the LATEST batch (the only replay a correct
    // stream issues): recomputed from v1's immutable manifest — same
    // touched set, same content, same carried references, earlier
    // versions' bytes untouched. Convergent without self-containment.
    assert(t.mergeAs(tick1, 2) == 2)
    assert(t.versions == Seq(0, 1, 2))
    assert(collectSorted(t.readAsOf(2)) == content)
    assert(carriedRefs() == carried)
    assert((fileState(s"$dir/v0"), fileState(s"$dir/v1")) == priorFiles,
      "a scoped replay touched earlier versions' bytes")

    // torn replay: crash between data and marker — the version is
    // invisible until a replay finishes it, then reads identically
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir, "v2", "_GRAFT_COMMITTED"))
    assert(t.versions == Seq(0, 1))
    assert(t.mergeAs(tick1, 2) == 2)
    assert(collectSorted(t.readAsOf(2)) == content)

    // a skipped offset is a stream bug, not a silent gap
    intercept[IllegalArgumentException](t.mergeAs(tick1, 9))
    // replaying an older version whose files a scoped successor still
    // references would tear that successor — refused, naming the holder
    val torn = intercept[IllegalStateException](t.mergeAs(tick0, 1))
    assert(torn.getMessage.contains("v2"),
      s"replay-tear failure unhelpful: ${torn.getMessage}")

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("mergeAs: one streaming call takes trickle ticks and backfills") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_as").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    val log = Lake.cdcChangelog(t.read())
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 8

    // trickle tick -> the scoped arm: v1 carries v0 files forward
    assert(t.mergeAs(log.filter(col("doc_id") < cut), 1) == 1)
    assert(t.manifest(1).filter(col("path").contains("/v0/")).count() > 0,
      "trickle tick took the full arm")
    // wide backfill -> the full arm: v2 is self-contained
    assert(t.mergeAs(log.filter(col("doc_id") >= cut), 2) == 2)
    assert(t.manifest(2).filter(!col("path").contains("/v2/")).count() == 0,
      "wide tick took the scoped arm")
    val content = collectSorted(t.readAsOf(2))
    // the whole table is the full CDC merge, arms invisible
    assert(content == collectSorted(Lake.cdcMerge(docs, log)))

    // replay of the latest batch re-measures against the same immutable
    // v1 manifest, re-takes the full arm, converges
    assert(t.mergeAs(log.filter(col("doc_id") >= cut), 2) == 2)
    assert(t.versions == Seq(0, 1, 2))
    assert(collectSorted(t.readAsOf(2)) == content)

    // skips stay loud, naming the caller
    val skip = intercept[IllegalArgumentException](
      t.mergeAs(log, 9))
    assert(skip.getMessage.contains("mergeAs"))

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("mergeAs replay finishes a crash at every boundary of the landing step") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 8
    val log = Lake.cdcChangelog(docs)
    // the landing step's artifacts in write order; a crash after one of
    // them leaves it (and everything before it) on disk, nothing after
    val artifacts = Seq("data", "_manifest", "_graft_schema.json",
      "_GRAFT_COMMITTED")
    // a narrow changelog takes the scoped arm, a wide one the full arm
    for ((arm, tick) <- Seq("scoped" -> log.filter(col("doc_id") < cut),
                            "full" -> log);
         crashAfter <- Seq("data", "_manifest", "_graft_schema.json")) {
      val leg = s"$arm arm, crash after $crashAfter"
      val dir = java.nio.file.Files.createTempDirectory("graft_tbl_cr").toString
      val t = GraftTable.create(spark, dir, docs)
      val v0State = fileState(s"$dir/v0")
      assert(t.mergeAs(tick, 1) == 1)
      def carriedRefs(): Seq[String] = t.manifest(1).select("path")
        .collect().map(_.getString(0)).filterNot(_.contains("/v1/"))
        .sorted.toSeq
      val twinCarried = carriedRefs()
      assert((arm == "scoped") == twinCarried.nonEmpty,
        s"$leg: the tick took the other arm")

      // the crash: every artifact after `crashAfter` is gone
      artifacts.dropWhile(_ != crashAfter).drop(1).foreach(a =>
        Lake.deleteTree(java.nio.file.Paths.get(dir, "v1", a)))
      // and a crashed deleteVectored left a stale DV at v1 naming a
      // live v0 row (v0's last file: untouched by the narrow tick)
      val last = t.manifest(0).orderBy(col("key_lo").desc).head()
      spark.createDataFrame(Seq((last.getAs[String]("path"),
          last.getAs[Long]("key_hi")))).toDF("path", "doc_id")
        .write.parquet(s"$dir/v1/_graft_dv")
      assert(t.versions == Seq(0), s"$leg: the crashed version is visible")

      // a fault-free replay finishes the version
      assert(t.mergeAs(tick, 1) == 1)
      assert(t.versions == Seq(0, 1), leg)
      assert(collectSorted(t.readAsOf(1)) ==
        collectSorted(Lake.cdcMerge(docs, tick)), s"$leg: content")
      assert(fileState(s"$dir/v0") == v0State, s"$leg: v0 bytes moved")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "v1", "_graft_dv")),
        s"$leg: the replay inherited the stale DV")
      assert(carriedRefs() == twinCarried, s"$leg: carried references")
      Lake.deleteTree(java.nio.file.Paths.get(dir))
    }
  }

  test("history reports the version audit trail from metadata alone") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_h").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    val log = Lake.cdcChangelog(t.read())
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 8
    t.merge(log.filter(col("doc_id") < cut))  // v1: key-local, scoped patchwork
    t.merge(log.filter(col("doc_id") >= cut)  // v2: wide, full, +1 column
      .withColumn("rev", lit(1)))

    val h = t.history().orderBy("version").collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    // v0/v2 self-contained; v1 carries earlier versions' files
    assert(h(0).getLong(5) == 0 && h(2).getLong(5) == 0,
      "full versions must not carry references")
    assert(h(1).getLong(5) > 0, "the scoped version shows no carry")
    // row totals match the readers, per version
    assert(h(0).getLong(3) == t.readAsOf(0).count())
    assert(h(2).getLong(3) == t.readAsOf(2).count())
    // the evolved column is visible as schema width
    assert(h(2).getInt(6) == h(0).getInt(6) + 1)
    // commit stamps parse as instants; byte totals are real
    h.foreach { r =>
      java.time.Instant.parse(r.getString(1))
      assert(r.getLong(4) > 0)
    }
    // the byte totals are the manifest's write-time n_bytes sums
    // (history is metadata-only: zero per-file size calls), and the
    // manifest column in turn equals the files' true on-disk sizes
    for (v <- 0 to 2) {
      val mSum = t.manifest(v).agg(sum("n_bytes")).head().getLong(0)
      assert(h(v).getLong(4) == mSum,
        s"v$v: history bytes != manifest n_bytes sum")
      val diskSum = t.manifest(v).select("path").collect().map { r =>
        java.nio.file.Files.size(
          java.nio.file.Paths.get(java.net.URI.create(r.getString(0))))
      }.sum
      assert(mSum == diskSum, s"v$v: manifest n_bytes != on-disk sizes")
    }

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("two writers racing one version: exactly one commits, loser fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_cw").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    val log = Lake.cdcChangelog(t.read())
    val even = log.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odd = log.filter(pmod(col("doc_id"), lit(2)) === 1)

    // writer B lands its own v1 inside A's commit window (the
    // onBeforeCommit seam = the instant after A wrote data+manifest+
    // schema, before its marker): B's create-exclusive wins, A's loses
    val tB = GraftTable.open(spark, dir)
    @volatile var fired = false
    GraftTable.onBeforeCommit = (d, v) =>
      if (!fired && v == 1 && d == dir) { fired = true; tB.merge(odd); () }
    val loser =
      try intercept[IllegalStateException](t.merge(even))
      finally GraftTable.onBeforeCommit = (_, _) => ()

    assert(loser.getMessage.contains("concurrent writer"),
      s"racing-writer failure unhelpful: ${loser.getMessage}")
    // exactly one v1 exists — the winner's, complete and readable
    assert(t.versions == Seq(0, 1))
    assert(collectSorted(t.read()) == collectSorted(Lake.cdcMerge(docs, odd)))

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("compact(zorderBy) Morton-clusters; the manifest prunes BOTH keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_z").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
              "l_quantity")
    val t = GraftTable.create(spark, dir, li, key = "l_orderkey")
    // (l_orderkey, l_linenumber) repeats in the synthetic lineitem, so
    // a column sort is not total — compare fully-sorted row strings
    val content = li.collect().map(_.toString).sorted.toSeq

    assert(t.compact(zorderBy = Seq("l_partkey", "l_suppkey")) == 1)

    // content no-op, self-contained
    assert(t.readAsOf(1).collect().map(_.toString).sorted.toSeq == content,
      "z-order compaction changed the answer")
    val m = t.manifest(1)
    assert(m.filter(!col("path").contains("/v1/")).count() == 0)

    // the manifest records per-file spans for BOTH clustering keys, and
    // a point probe on EITHER admits a strict subset of the files —
    // ZOrderSpec's measurement at the manifest level (the date-sorted
    // counterexample there shows a single-column layout admits ~all)
    val total = m.count()
    assert(total >= GraftTable.VersionFilesFloor)
    // probe the 25th percentile, not the median: the median sits at the
    // top z-bit's split boundary, where every file legitimately straddles
    val mid = li.agg(expr("percentile(l_partkey, 0.25)").cast("long"),
                     expr("percentile(l_suppkey, 0.25)").cast("long")).head()
    def admits(c: String, v: Long): Long =
      m.filter(col(s"${c}_lo") <= v && col(s"${c}_hi") >= v).count()
    val (aP, aS) = (admits("l_partkey", mid.getLong(0)),
                    admits("l_suppkey", mid.getLong(1)))
    assert(aP < total, s"partkey probe admits all $total files")
    assert(aS < total, s"suppkey probe admits all $total files")

    // readRangeOn plans from those spans: answer identity + the scan
    // opened only span-admitted files
    val pMid = mid.getLong(0)
    val ranged = t.readRangeOn("l_partkey", pMid, pMid + 8)
    assert(ranged.count() > 0, "empty secondary range; spec is vacuous")
    assert(ranged.collect().map(_.toString).sorted.toSeq ==
      t.read().filter(col("l_partkey") >= pMid && col("l_partkey") < pMid + 8)
        .collect().map(_.toString).sorted.toSeq)
    val admitted = m.filter(col("l_partkey_lo").isNull ||
        (col("l_partkey_hi") >= pMid && col("l_partkey_lo") < pMid + 8))
      .select("path").collect().map(r => norm(r.getString(0))).toSet
    assert(ranged.inputFiles.map(norm).toSet.subsetOf(admitted))
    assert(admitted.size < total, "secondary-range admission is vacuous")

    // a later scoped tick writes files with NULL spans (unprofiled on
    // the z keys) — readRangeOn must still admit them, never lose rows.
    // Every Morton file spans ~all order keys, so updating existing keys
    // would touch every file (the full arm); the tick instead copies the
    // low orders to new keys past the table's last, which touch no file
    // (the scoped arm), with part keys inside the probed range, so a
    // skipped NULL-span file would lose rows the probe must return
    val mx = li.agg(max("l_orderkey")).head().getLong(0)
    // a complete-key-group U tick (l_orderkey repeats per line number,
    // so the tick must carry every row of each touched key)
    val tick = t.read().filter(col("l_orderkey") < mx / 64)
      .withColumn("l_quantity", col("l_quantity") + 1)
      .select(lit("U").as("op"), (col("l_orderkey") + mx + 1).as("l_orderkey"),
              col("l_linenumber"), (pmod(col("l_partkey"), lit(8L)) + pMid)
                .as("l_partkey"), col("l_suppkey"), col("l_quantity"))
    t.merge(tick)
    val m2 = t.manifest(2)
    assert(m2.filter(col("l_partkey_lo").isNull).count() > 0,
      "scoped tick left no NULL-span files; the widen leg is vacuous")
    val expect = t.read()
      .filter(col("l_partkey") >= pMid && col("l_partkey") < pMid + 8)
      .collect().map(_.toString).sorted.toSeq
    assert(t.readRangeOn("l_partkey", pMid, pMid + 8)
      .collect().map(_.toString).sorted.toSeq == expect,
      "NULL-span files were not admitted; rows lost")

    // asking for a span the table never recorded is loud
    val e = intercept[IllegalArgumentException](
      t.readRangeOn("l_quantity", 0L, 10L))
    assert(e.getMessage.contains("zorderBy"))

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("changes: the CDF composes steps, survives evolution, refuses vacuumed ends") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_cf").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    val log = Lake.cdcChangelog(t.read())
    t.merge(log.filter(pmod(col("doc_id"), lit(2)) === 0))
    // the second step EVOLVES the schema — the feed must union columns
    t.merge(log.filter(pmod(col("doc_id"), lit(2)) === 1)
      .withColumn("rev", lit(7)))

    val cf = t.changes(0, 2)
    assert(Set("_change_type", "_commit_version").subsetOf(cf.columns.toSet))
    assert(cf.columns.contains("rev"), "evolved column missing from the feed")

    // per-step rows agree with diff(): I->insert, D->delete, U->both images
    for (v <- 0 to 1) {
      val d = t.diff(v, v + 1)
      val byOp = d.groupBy("op").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      val step = cf.filter(col("_commit_version") === v + 1)
      val byCt = step.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      assert(byCt("insert") == byOp("I") && byCt("delete") == byOp("D") &&
             byCt("update_preimage") == byOp("U") &&
             byCt("update_postimage") == byOp("U"),
        s"step $v: CDF counts $byCt diverge from diff ops $byOp")
    }
    // step-1 rows (pre-evolution) read the evolved column as null;
    // step-2 postimages carry it
    assert(cf.filter(col("_commit_version") === 1 &&
      col("rev").isNotNull).count() == 0)
    assert(cf.filter(col("_commit_version") === 2 &&
      col("_change_type") === "update_postimage" &&
      col("rev").isNull).count() == 0)

    // a vacuumed end fails loudly by name
    t.vacuum(keep = 1)
    val gone = intercept[java.util.NoSuchElementException](t.changes(0, 2))
    assert(gone.getMessage.contains("vacuum"))

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("reader-vs-vacuum race: pre-vacuum plans fail loudly, never partial") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_rv").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, dir, docs)
    t.merge(Lake.cdcChangelog(t.read()))

    // a frame planned BEFORE the vacuum holds resolved paths…
    val planned = t.readAsOf(0)
    assert(planned.count() > 0)
    t.vacuum(keep = 1)
    // …and acting on it after the vacuum fails LOUDLY mid-scan (the
    // single-writer contract: stale plans error, they never return
    // silent partial data)
    intercept[Exception](planned.count())
    // a read planned AFTER the marker drop fails by name instead
    val e = intercept[java.util.NoSuchElementException](t.readAsOf(0))
    assert(e.getMessage.contains("vacuum"))

    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  // ── the driver-side manifest plane ───────────────────────────────────

  /** Version v's manifest rows for the files the version itself wrote,
    * against the scan-derived stats ([[GraftTable.scanStats]]) of the
    * directories holding them: same columns, same types, same rows —
    * paths compared verbatim, since DV rows and readers match on the
    * exact `_metadata.file_path` spelling. `footers` says whether the
    * footer statistics were usable for those files (else the scan was
    * the fallback). An empty version is compared on its own directory.
    */
  private def assertManifestMatchesScan(t: GraftTable, dir: String,
      v: Int, key: String, statCols: Seq[String] = Nil,
      footers: Boolean = true): Unit = {
    val m = t.manifest(v)
    val own = m.filter(col("path").contains(s"/v$v/")).collect()
    val dirs =
      if (own.isEmpty) Seq(s"$dir/v$v")
      else own.map(r => new org.apache.hadoop.fs.Path(
        r.getAs[String]("path")).getParent.toString).distinct.toSeq
    val schema = t.schemaAsOf(v)
    val scanned = dirs.map(d =>
      GraftTable.scanStats(spark, d, key, schema, statCols))
    val (sch, _) = scanned.head
    sch.fields.foreach(f => assert(m.schema(f.name).dataType == f.dataType,
      s"v$v manifest column ${f.name}: ${m.schema(f.name).dataType} " +
        s"vs scanned ${f.dataType}"))
    val expected = scanned.flatMap(_._2.map(_.toSeq)).toSet
    val actual = own.map(r => sch.fieldNames.toSeq.map(r.getAs[Any])).toSet
    assert(actual == expected, s"v$v footer-derived manifest != scan")
    dirs.foreach(d => assert(
      graft.sources.ManifestIO.footerStats(spark, d, key, schema, statCols)
        .isDefined == footers,
      s"v$v: footer stats ${if (footers) "unusable" else "used"} for $d"))
  }

  test("footer-derived manifests equal the scan-derived ones") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_fs").toString
    val t = GraftTable.create(spark, dir, docs)
    assertManifestMatchesScan(t, dir, 0, "doc_id") // keyed full version
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 8
    assert(t.merge(Lake.cdcChangelog(t.read())
      .filter(col("doc_id") < cut)) == 1)
    assertManifestMatchesScan(t, dir, 1, "doc_id") // scoped patch
    // evolved schema: the changelog ADDS a column
    val evolved = t.read().filter(col("doc_id") < cut)
      .withColumn("op", lit("U")).withColumn("score", col("doc_id") * 2)
    assert(t.merge(evolved) == 2)
    assert(t.schemaAsOf(2).fieldNames.contains("score"))
    assertManifestMatchesScan(t, dir, 2, "doc_id")
    // a mergeConcurrent token manifest (files under v3/d_<token>/)
    val v3 = t.mergeConcurrent(t.read().filter(col("doc_id") >= cut * 4)
      .withColumn("op", lit("U")).withColumn("text", lit("t")))
    assert(t.manifest(v3).filter(col("path").contains("/d_t")).count() > 0)
    assertManifestMatchesScan(t, dir, v3, "doc_id")
    // empty version: every row deleted, zero-row files skipped
    val v4 = t.delete(lit(true))
    assert(t.manifest(v4).count() == 0 && t.readAsOf(v4).count() == 0)
    assertManifestMatchesScan(t, dir, v4, "doc_id")
    // the empty manifest still infers the manifest schema under Spark
    assert(spark.read.parquet(s"$dir/v$v4/_manifest").schema ==
      t.manifest(v4).schema)

    // compact(zorderBy): key spans plus both clustering columns' spans
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val zdir = java.nio.file.Files.createTempDirectory("graft_tbl_fz").toString
    val tz = GraftTable.create(spark, zdir, li, key = "l_orderkey")
    assert(tz.compact(zorderBy = Seq("l_partkey", "l_suppkey")) == 1)
    assertManifestMatchesScan(tz, zdir, 1, "l_orderkey",
      statCols = Seq("l_partkey", "l_suppkey"))
    Seq(dir, zdir).foreach(d => Lake.deleteTree(java.nio.file.Paths.get(d)))
  }

  test("a key without footer statistics falls back to the stats scan") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_ns").toString
    val statsKey = "parquet.column.statistics.enabled"
    spark.conf.set(statsKey, "false") // data files land without min/max
    try {
      val t = GraftTable.create(spark, dir, docs)
      assertManifestMatchesScan(t, dir, 0, "doc_id", footers = false)
      val cut = docs.agg(max("doc_id")).head().getLong(0) / 8
      t.merge(Lake.cdcChangelog(t.read()).filter(col("doc_id") < cut))
      assertManifestMatchesScan(t, dir, 1, "doc_id", footers = false)
      assert(collectSorted(t.readRange(0L, cut)) ==
        collectSorted(t.read().filter(col("doc_id") < cut)))
    } finally spark.conf.unset(statsKey)
    // a DATE key: footer min/max are not used for it, and its manifest
    // reads back through Spark's reader function on the driver
    val ddir = java.nio.file.Files.createTempDirectory("graft_tbl_dk").toString
    val dated = docs.withColumn("day",
      date_add(lit("2020-01-01").cast("date"), col("doc_id").cast("int")))
    val td = GraftTable.create(spark, ddir, dated, key = "day")
    assertManifestMatchesScan(td, ddir, 0, "day", footers = false)
    val cold = GraftTable.open(spark, ddir, "day")
    val (m0, jobs) = jobsDuring(cold.manifest(0).collect())
    assert(jobs == 0, s"cold date-keyed manifest(0) started $jobs job(s)")
    assert(m0.map(_.toSeq).toSet ==
      td.manifest(0).collect().map(_.toSeq).toSet)
    assert(collectSorted(cold.read()) == collectSorted(dated))
    Seq(dir, ddir).foreach(d => Lake.deleteTree(java.nio.file.Paths.get(d)))
  }

  test("a manifest written by a Spark job still reads, and the driver " +
       "writer's manifests infer the same schema under Spark") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_om").toString
    val t = GraftTable.create(spark, dir, docs)
    val m0 = t.manifest(0)
    val rows0 = m0.collect().map(_.toSeq).toSet
    assert(spark.read.parquet(s"$dir/v0/_manifest").schema == m0.schema)
    // rewrite v0's manifest the way it was written before the driver
    // plane: a coalesced Spark write of the same rows
    spark.createDataFrame(java.util.Arrays.asList(m0.collect(): _*),
        m0.schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v0/_manifest")
    val cold = GraftTable.open(spark, dir)
    assert(cold.manifest(0).schema == m0.schema)
    assert(cold.manifest(0).collect().map(_.toSeq).toSet == rows0,
      "a Spark-written manifest read back differently")
    assert(collectSorted(cold.readAsOf(0)) == collectSorted(docs))
    // and a later version still patches on top of it (an identity
    // upsert of the low keys: content unchanged, files rewritten)
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 8
    assert(cold.merge(cold.read().filter(col("doc_id") < cut)
      .withColumn("op", lit("U"))) == 1)
    assert(collectSorted(GraftTable.open(spark, dir).read()) ==
      collectSorted(docs))
    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("manifest read, scoped manifest landing and history start no job") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_nj").toString
    val t = GraftTable.create(spark, dir, docs)
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 8
    assert(t.merge(Lake.cdcChangelog(t.read())
      .filter(col("doc_id") < cut)) == 1)

    // a cold handle loads the manifest on the driver
    val cold = GraftTable.open(spark, dir)
    val (m1, coldJobs) = jobsDuring(cold.manifest(1).collect())
    assert(coldJobs == 0, s"cold manifest(1) started $coldJobs job(s)")
    assert(m1.nonEmpty)

    // the manifest half of the landing step, re-run over v1's own
    // files: footer stats, the carried-rows filter and the write, no job
    val v0Paths = t.manifest(0).select("path").collect().map(_.getString(0))
    val touched = v0Paths.filterNot(m1.map(_.getAs[String]("path")).toSet)
    assert(touched.nonEmpty, "the scoped merge rewrote nothing")
    val (landed, landJobs) = jobsDuring(
      t.landManifest(s"$dir/v1", t.schemaAsOf(1), Some(0), touched.toSeq))
    assert(landJobs == 0, s"manifest landing started $landJobs job(s)")
    assert(landed._2.map(_.toSeq).toSet == m1.map(_.toSeq).toSet)
    assert(GraftTable.open(spark, dir).manifest(1).collect()
      .map(_.toSeq).toSet == m1.map(_.toSeq).toSet)

    // history folds the manifests on the driver (DV-free table)
    val (h, histJobs) = jobsDuring(GraftTable.open(spark, dir).history()
      .collect())
    assert(histJobs == 0, s"history() started $histJobs job(s)")
    assert(h.map(_.getAs[Long]("n_files")).toSeq ==
      Seq(0, 1).map(v => t.manifest(v).count()))
    assert(h(1).getAs[Long]("carried_files") ==
      t.manifest(1).filter(!col("path").contains("/v1/")).count())
    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }
}
