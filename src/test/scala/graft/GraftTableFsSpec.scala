package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Lake
import graft.sources.{GraftTable, Tables}

/** The Hadoop-FileSystem port, proven: the WHOLE GraftTable lifecycle —
  * create, scoped + full merges (with schema evolution), time travel,
  * manifest-planned range reads, history, reference-aware vacuum — runs
  * over a NON-`file:` scheme ([[MockLakeFileSystem]]), producing exactly
  * the content a twin table on plain local paths produces. Any metadata
  * op still on `java.io.File`/`java.nio` would fail on the `mockfs:/…`
  * strings immediately; the twin comparison additionally pins that the
  * scheme changes nothing semantic. Tables.stamp (the train-once memo
  * key) is held to the same standard.
  */
class GraftTableFsSpec extends AnyFunSuite with SparkFixture {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("doc_id").collect().map(_.toString).toSeq

  test("the whole table lifecycle runs on a non-file: Hadoop scheme") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockLakeFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory("graft_mockfs")
    val localTwin = java.nio.file.Files.createTempDirectory("graft_mockfs_twin")
    val dir = s"mockfs:$local/tbl"

    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val log = Lake.cdcChangelog(docs)
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 8
    val trickle = log.filter(col("doc_id") < cut)
    val wide = log.filter(col("doc_id") >= cut).withColumn("rev", lit(1))

    val t = GraftTable.create(spark, dir, docs)
    assert(t.merge(trickle) == 1) // key-local, scoped: carried mockfs: refs
    assert(t.merge(wide) == 2)    // wide, full, +1 evolved column

    // the manifests speak the scheme — the point of the port — and v1
    // really is a cross-scheme-invisible patchwork (carried v0 refs)
    for (v <- 0 to 2)
      assert(t.manifest(v).select("path").collect()
        .map(_.getString(0)).forall(_.startsWith("mockfs:")),
        s"v$v manifest paths lost the scheme")
    assert(t.manifest(1).filter(col("path").contains("/v0/")).count() > 0,
      "scoped merge carried nothing; the scheme leg is vacuous")

    // content identity with a plain-local twin, per version
    val twin = GraftTable.create(spark, localTwin.toString, docs)
    twin.merge(trickle)
    twin.merge(wide)
    for (v <- 0 to 2) {
      assert(rows(t.readAsOf(v)) == rows(twin.readAsOf(v)),
        s"v$v content differs from the local twin")
      assert(t.schemaAsOf(v) == twin.schemaAsOf(v),
        s"v$v schema differs from the local twin")
    }
    assert(rows(t.readRange(0L, cut)) == rows(twin.readRange(0L, cut)))

    // history is metadata-only and scheme-clean
    val h = t.history().orderBy("version").collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    assert(h.forall(_.getLong(4) > 0), "history bytes missing over mockfs")
    assert(h(1).getLong(5) > 0, "scoped version shows no carried refs")

    // deletion vectors are scheme-clean too: the tombstone table lands
    // under the version dir on mockfs:, the anti-join reads it back, and
    // the twin (same delete through the local path) matches
    assert(t.deleteVectored(pmod(col("doc_id"), lit(11)) === 4) == 3)
    twin.deleteVectored(pmod(col("doc_id"), lit(11)) === 4)
    assert(rows(t.read()) == rows(twin.read()),
      "DV delete over mockfs diverged from the local twin")
    val h3 = t.history().filter(col("version") === 3).head()
    assert(h3.getLong(h3.fieldIndex("dv_rows")) > 0 &&
      h3.getString(h3.fieldIndex("operation")) == "DELETE VECTORED")

    // reference-aware vacuum sweeps through the FileSystem API
    assert(t.vacuum(keep = 2) == Seq(0, 1))
    assert(rows(t.read()) == rows(twin.read()),
      "vacuum over mockfs lost rows")
    intercept[java.util.NoSuchElementException](t.readAsOf(0))

    // the content stamp (every train-once memo key) is FS-routed too:
    // stable across calls, sensitive to content, over the same scheme
    docs.limit(50).write.parquet(s"mockfs:$local/corpus/documents.parquet")
    val s1 = Tables.stamp(s"mockfs:$local/corpus", "documents")
    assert(s1 == Tables.stamp(s"mockfs:$local/corpus", "documents"))
    docs.limit(80).write.mode("overwrite")
      .parquet(s"mockfs:$local/corpus/documents.parquet")
    assert(s1 != Tables.stamp(s"mockfs:$local/corpus", "documents"),
      "stamp blind to content change over mockfs")

    Lake.deleteTree(local)
    Lake.deleteTree(localTwin)
  }
}
