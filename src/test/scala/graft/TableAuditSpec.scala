package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Lake
import graft.sources.{GraftTable, Tables}

/** The table's operational audit surfaces: the per-version OPERATION
  * column in history() (Delta DESCRIBE HISTORY — which write form
  * created each version, recorded in the commit marker's payload at
  * commit time, zero extra IO to read back) and vacuumPreview (Delta's
  * VACUUM DRY RUN — the exact delete/keep labeling the real vacuum
  * applies, priced without moving a byte).
  */
class TableAuditSpec extends AnyFunSuite with SparkFixture {

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("doc_id").collect().map(_.toString).toSeq

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_audit").toString

  test("history records the operation that created each version") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, tmp(), docs)
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    t.merge(Lake.cdcChangelog(t.read()))                    // v1 MERGE
    t.update(col("doc_id") < mx / 8,
      Map("text" -> concat(col("text"), lit("!"))))         // v2 UPDATE
    t.delete(col("doc_id") < mx / 16)                       // v3 DELETE
    t.deleteVectored(pmod(col("doc_id"), lit(13)) === 1)    // v4 DV
    t.reorgPurge(0.0)                                       // v5 PURGE
    t.mergeInto(docs.limit(5).select(
        (col("doc_id") + lit(2000000000L)).as("doc_id"),
        col("source"), col("text")))
      .whenNotMatchedInsertAll().execute()                  // v6 MERGE INTO
    t.compactSmall()                                        // v7 BINPACK
    t.compact()                                             // v8 OPTIMIZE
    t.restore(1)                                            // v9 RESTORE

    val ops = t.history().orderBy("version")
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("CREATE", "MERGE", "UPDATE", "DELETE",
      "DELETE VECTORED", "REORG PURGE", "MERGE INTO", "OPTIMIZE BINPACK",
      "OPTIMIZE", "RESTORE"), ops.mkString(", "))

    // the concurrent form stamps MERGE too (payload carries its token)
    val t2 = GraftTable.create(spark, tmp(), docs)
    t2.mergeConcurrent(Lake.cdcChangelog(t2.read())
      .filter(pmod(col("doc_id"), lit(2)) === 0))
    val op2 = t2.history().filter(col("version") === 1)
      .select("operation").head().getString(0)
    assert(op2 == "MERGE")
  }

  test("vacuumPreview labels exactly what vacuum then does") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val t = GraftTable.create(spark, tmp(), docs)
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val log = Lake.cdcChangelog(t.read())
    t.merge(log.filter(col("doc_id") < mx / 8))  // key-local: v1 carries v0 files
    t.merge(log.filter(col("doc_id") >= mx / 8)) // wide: v2 self-contained

    val before = collectSorted(t.read())
    val preview = t.vacuumPreview(keep = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    // only v0 is doomed; its files referenced by v1's manifest are kept
    assert(preview.nonEmpty && preview.forall(_._1 == 0))
    val kept = preview.filter(_._3 == "keep").map(_._2)
    val gone = preview.filter(_._3 == "delete").map(_._2)
    assert(kept.nonEmpty, "scoped v1 must keep some v0 files alive")
    assert(gone.exists(_.contains("_GRAFT_COMMITTED")))
    assert(gone.exists(_.contains("_manifest")))
    // the preview was a dry run: nothing moved
    assert(t.versions == Seq(0, 1, 2))
    assert(collectSorted(t.read()) == before)

    // the real vacuum applies the labeling exactly
    assert(t.vacuum(keep = 2) == Seq(0))
    def exists(p: String) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(new java.net.URI(
        if (p.startsWith("file:")) p else s"file://$p").getPath))
    assert(kept.forall(exists), "a previewed-keep file was deleted")
    assert(gone.forall(!exists(_)), "a previewed-delete file survived")
    assert(collectSorted(t.read()) == before)
  }
}
