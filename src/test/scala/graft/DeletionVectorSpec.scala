package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Lake
import graft.sources.{GraftTable, Tables}

/** Deletion vectors (l27) — the contract pieces the gate hash can't
  * carry: the zero-data-write property itself (the new version holds
  * ONLY metadata + the tombstone set), per-file semantics under
  * re-insertion (a key-global DV would kill the re-inserted row),
  * carry/restriction through scoped merges and binpack compaction,
  * materialization by compact, survival through vacuum, restore/clone
  * copies, connector visibility, and the change feed emitting soft
  * deletes as ordinary 'delete' events.
  */
class DeletionVectorSpec extends AnyFunSuite with SparkFixture {

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("doc_id").collect().map(_.toString).toSeq

  private def freshDocs() =
    Tables.documents(spark, sfDir).select("doc_id", "source", "text")

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_dv").toString

  private def vdirNames(dir: String, v: Int): Set[String] =
    new java.io.File(s"$dir/v$v").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet

  test("a DV delete writes zero data files and reads correctly") {
    val dir = tmp()
    val docs = freshDocs()
    val t = GraftTable.create(spark, dir, docs)
    val v = t.deleteVectored(pmod(col("doc_id"), lit(10)) === 3)
    assert(v == 1)
    // the version directory holds ONLY metadata + the tombstone set
    assert(vdirNames(dir, 1) == Set("_manifest", "_graft_dv",
      "_graft_schema.json", "_GRAFT_COMMITTED"),
      s"DV delete wrote data: ${vdirNames(dir, 1)}")
    assert(collectSorted(t.read()) ==
      collectSorted(docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)))
    // time travel reads the pre-delete state; history shows the DV
    assert(collectSorted(t.readAsOf(0)) == collectSorted(docs))
    val h = t.history().filter(col("version") === 1).head()
    assert(h.getLong(h.fieldIndex("dv_rows")) ==
      docs.filter(pmod(col("doc_id"), lit(10)) === 3).count())
    assert(t.history().filter(col("version") === 0).head()
      .getLong(h.fieldIndex("dv_rows")) == 0)
    // a second DV delete accumulates (still zero data writes)
    t.deleteVectored(pmod(col("doc_id"), lit(10)) === 4)
    assert(vdirNames(dir, 2).contains("_graft_dv"))
    assert(collectSorted(t.read()) == collectSorted(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
        .filter(pmod(col("doc_id"), lit(10)) =!= 4)))
  }

  test("per-file DV: an upsert re-inserts a DV-deleted key cleanly") {
    val docs = freshDocs()
    val dir = tmp()
    val t = GraftTable.create(spark, dir, docs)
    t.deleteVectored(pmod(col("doc_id"), lit(10)) === 3)
    // re-insert a key-local subset of the deleted keys with new
    // payloads (a narrow upsert: the merge takes the scoped arm, so the
    // DV carries forward onto the untouched files); the new rows land
    // in NEW files no DV row names — a key-global tombstone would
    // (wrongly) hide them
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 4
    val backKeys = pmod(col("doc_id"), lit(20)) === 3 && col("doc_id") < cut
    val back = docs.filter(backKeys)
      .select(lit("U").as("op"), col("doc_id"), col("source"),
        concat(col("text"), lit(" (back)")).as("text"))
    t.merge(back)
    assert(vdirNames(dir, 2).contains("_graft_dv"),
      "the upsert carried no DV; the per-file leg is vacuous")
    val expect = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
      .unionByName(docs.filter(backKeys)
        .withColumn("text", concat(col("text"), lit(" (back)"))))
    assert(collectSorted(t.read()) == collectSorted(expect))
    // and a DV delete over the mixed-vintage snapshot hits both
    t.deleteVectored(pmod(col("doc_id"), lit(7)) === 1)
    assert(collectSorted(t.read()) == collectSorted(
      expect.filter(pmod(col("doc_id"), lit(7)) =!= 1)))
  }

  test("full merge materializes; compact and compactSmall collect DVs") {
    val dir = tmp()
    val docs = freshDocs()
    val t = GraftTable.create(spark, dir, docs)
    t.deleteVectored(pmod(col("doc_id"), lit(10)) === 3)
    val afterDel = t.read().persist()
    afterDel.count()

    // compact: self-contained, no DV dir, content identical
    val vC = t.compact()
    assert(!vdirNames(dir, vC).contains("_graft_dv"))
    assert(collectSorted(t.read()) == collectSorted(afterDel))
    val hC = t.history().filter(col("version") === vC).head()
    assert(hC.getLong(hC.fieldIndex("dv_rows")) == 0)

    // a fresh DV delete, then a FULL merge: the landed version is
    // self-contained and the deleted rows stay gone
    t.deleteVectored(pmod(col("doc_id"), lit(10)) === 4)
    val log = Lake.cdcChangelog(t.read())
    val vM = t.merge(log)
    assert(!vdirNames(dir, vM).contains("_graft_dv"))
    assert(collectSorted(t.read()) == collectSorted(
      Lake.cdcMerge(afterDel.filter(pmod(col("doc_id"), lit(10)) =!= 4),
        log)))
    afterDel.unpersist()
  }

  test("DV survives vacuum; restore and clone copy it") {
    val dir = tmp()
    val docs = freshDocs()
    val t = GraftTable.create(spark, dir, docs)
    t.deleteVectored(pmod(col("doc_id"), lit(10)) === 3)
    val expected = collectSorted(t.read())

    // restore of the DV'd version copies its tombstones
    t.merge(Lake.cdcChangelog(t.read())
      .filter(col("op") === "U" && pmod(col("doc_id"), lit(5)) === 0))
    val vR = t.restore(1)
    assert(collectSorted(t.read()) == expected)
    assert(vdirNames(dir, vR).contains("_graft_dv"))

    // clone of a DV'd state carries the soft deletes
    val clone = t.cloneTo(s"${tmp()}/clone")
    assert(collectSorted(clone.read()) == expected)

    // vacuum to the restored version only: the carried files AND the
    // DV semantics survive (v1's own dv dies with v1, vR has its copy)
    t.vacuum(keep = 1)
    assert(t.versions == Seq(vR))
    assert(collectSorted(t.read()) == expected)
  }

  test("reorgPurge collects tombstones only where they concentrate") {
    val dir = tmp()
    val docs = freshDocs()
    val t = GraftTable.create(spark, dir, docs)
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    // concentrated deletes in the low key range (heavy DV fraction in a
    // few files) plus a genuinely scattered sprinkle (light everywhere)
    t.deleteVectored(col("doc_id") < mx / 8)
    t.deleteVectored(pmod(col("doc_id"), lit(97)) === 1)
    val expected = collectSorted(t.read())
    val dvBefore = t.history().orderBy(col("version").desc).head()
    val before = dvBefore.getLong(dvBefore.fieldIndex("dv_rows"))

    // threshold 0.5: only the heavily-deleted files rewrite; the
    // sprinkle's tombstones stay
    val v = t.reorgPurge(minDvFraction = 0.5)
    assert(v > 0 && t.currentVersion == v)
    assert(collectSorted(t.read()) == expected, "purge changed content")
    val hAfter = t.history().filter(col("version") === v).head()
    val after = hAfter.getLong(hAfter.fieldIndex("dv_rows"))
    assert(after > 0 && after < before,
      s"expected partial collection, got $before -> $after")

    // threshold 0 collects everything DV'd; below it, purge is a no-op
    val v2 = t.reorgPurge(minDvFraction = 0.0)
    assert(collectSorted(t.read()) == expected)
    val h2 = t.history().filter(col("version") === v2).head()
    assert(h2.getLong(h2.fieldIndex("dv_rows")) == 0)
    assert(t.reorgPurge() == v2, "purge without DVs must not version")
  }

  test("deleteAuto dispatches by measured spread") {
    val docs = freshDocs()
    val dir1 = tmp()
    val t1 = GraftTable.create(spark, dir1, docs)
    // scattered: matches in (virtually) every file -> the DV arm
    val v1 = t1.deleteAuto(pmod(col("doc_id"), lit(13)) === 0)
    assert(vdirNames(dir1, v1).contains("_graft_dv"))
    assert(collectSorted(t1.read()) == collectSorted(
      docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)))

    val dir2 = tmp()
    val t2 = GraftTable.create(spark, dir2, docs)
    // concentrated: one key-local slice -> the scoped-rewrite arm
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val v2 = t2.deleteAuto(col("doc_id") < mx / 64)
    assert(!vdirNames(dir2, v2).contains("_graft_dv"))
    val h = t2.history().filter(col("version") === v2).head()
    assert(h.getLong(h.fieldIndex("carried_files")) > 0,
      "concentrated deleteAuto rewrote every file")
    assert(collectSorted(t2.read()) == collectSorted(
      docs.filter(col("doc_id") >= mx / 64)))
  }

  test("connector and change feed see DV deletes; replay clears them") {
    val dir = tmp()
    val docs = freshDocs()
    val t = GraftTable.create(spark, dir, docs)
    t.deleteVectored(pmod(col("doc_id"), lit(10)) === 3)

    // batch connector
    assert(collectSorted(
      spark.read.format("graft").load(dir)) == collectSorted(t.read()))
    // with a pushed key range (manifest admission + DV anti-join)
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    assert(collectSorted(spark.read.format("graft").load(dir)
        .filter(col("doc_id") < mx / 4)) ==
      collectSorted(t.read().filter(col("doc_id") < mx / 4)))

    // the change feed emits the soft deletes as ordinary deletes
    val feed = t.changes(0, 1)
    assert(feed.filter(col("_change_type") =!= "delete").count() == 0)
    assert(feed.count() ==
      docs.filter(pmod(col("doc_id"), lit(10)) === 3).count())

    // replay protection: a mergeAs overwrite of the DV'd version clears
    // the stale tombstones (the landed full version is self-contained)
    val log = Lake.cdcChangelog(t.readAsOf(0)).filter(col("op") === "U")
    t.mergeAs(log, 1)
    assert(!vdirNames(dir, 1).contains("_graft_dv"))
    assert(collectSorted(t.read()) ==
      collectSorted(Lake.cdcMerge(docs, log)))
  }
}
