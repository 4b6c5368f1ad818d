package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Lake
import graft.sources.Tables

/** The two scale forms of CDC apply (l07/l08) — what the gate hash can't
  * see: the PLAN of the bucketed merge (zero Exchange on either side of
  * the sort-merge anti join) and the SCOPING of the partitioned apply
  * (untouched partitions keep byte-identical files; a fully-deleted
  * partition disappears). Semantics equivalence with the broadcast form
  * is asserted here AND by the gate (all three entries share one DuckDB
  * oracle verbatim).
  */
class CdcScaleSpec extends AnyFunSuite with SparkFixture {

  private def docs =
    Tables.documents(spark, sfDir).select("doc_id", "source", "text")

  test("l07's bucketed sort-merge anti join runs with zero Exchange") {
    val buckets = 8
    docs.repartition(pmod(hash(col("doc_id")), lit(buckets)))
      .write.bucketBy(buckets, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable("graft_cdcspec_snap")
    val v1 = spark.table("graft_cdcspec_snap")
    Lake.cdcChangelog(v1)
      .repartition(pmod(hash(col("doc_id")), lit(buckets)))
      .write.bucketBy(buckets, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable("graft_cdcspec_log")
    val log = spark.table("graft_cdcspec_log")

    // plan of the supersede step alone (the union's other leg is a bare
    // bucket read): merge-hinted SMJ anti over co-bucketed scans
    val anti = v1.join(log.select("doc_id").hint("merge"),
      Seq("doc_id"), "left_anti")
    anti.write.format("noop").mode("overwrite").save()
    val plan = anti.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && plan.contains("LeftAnti"),
      s"big-delta supersede must be a sort-merge anti join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"the merge hint must stop AQE from broadcasting the delta:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"co-bucketed scans must make the SMJ exchange-free:\n$plan")

    // and the full merge computes exactly what the broadcast form does
    val a = Lake.cdcMergeShuffled(v1, log)
      .select("doc_id", "source", "text").orderBy("doc_id").collect()
    val b = Lake.cdcMerge(v1, log)
      .select("doc_id", "source", "text").orderBy("doc_id").collect()
    assert(a.sameElements(b), "the two merge forms must agree row-for-row")
  }

  test("cdcMergeAuto dispatches on delta size") {
    val v1 = docs
    val tiny = Lake.cdcChangelog(v1).limit(5)
    val tinyPlan = Lake.cdcMergeAuto(v1, tiny)
      .queryExecution.sparkPlan.toString
    assert(tinyPlan.contains("BroadcastHashJoin"),
      s"a trickle delta must broadcast:\n$tinyPlan")
    val bigPlan = Lake.cdcMergeAuto(v1, Lake.cdcChangelog(v1),
      broadcastMaxKeys = 1).queryExecution.sparkPlan.toString
    assert(bigPlan.contains("SortMergeJoin"),
      s"a backfill delta must sort-merge:\n$bigPlan")
  }

  /** (file name -> mtime) per partition dir of a partitioned lake. */
  private def partFiles(dir: String): Map[String, Map[String, Long]] = {
    val root = new java.io.File(dir)
    root.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
      .map { p =>
        p.getName -> p.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toMap
      }.toMap
  }

  test("partition-scoped apply rewrites only touched partitions") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_cdcspec_l08").toString
    docs.repartition(col("source"))
      .write.mode("overwrite").partitionBy("source").parquet(s"$base/snap")
    val before = partFiles(s"$base/snap")

    // a changelog confined to two sources: update every src1 doc,
    // delete three src2 docs
    val v1 = spark.read.parquet(s"$base/snap")
      .select("doc_id", "source", "text")
    val log = v1.filter(col("source") === "src1")
      .select(lit("U").as("op"), col("doc_id"), col("source"),
              concat(col("text"), lit(" (patched)")).as("text"))
      .unionByName(v1.filter(col("source") === "src2").limit(3)
        .select(lit("D").as("op"), col("doc_id"), col("source"), col("text")))
      .cache()
    val expect = Lake.cdcMerge(v1, log)
      .select("doc_id", "source", "text").orderBy("doc_id").collect()

    Lake.cdcApplyPartitioned(spark, s"$base/snap", log, s"$base/stage")

    val after = partFiles(s"$base/snap")
    val untouched = before.keySet -- Set("source=src1", "source=src2")
    untouched.foreach { p =>
      assert(after(p) == before(p),
        s"untouched partition $p was rewritten (files/mtimes changed)")
    }
    Seq("source=src1", "source=src2").foreach { p =>
      assert(after(p) != before(p), s"touched partition $p was not rewritten")
    }
    val got = spark.read.parquet(s"$base/snap")
      .select("doc_id", "source", "text").orderBy("doc_id").collect()
    assert(got.sameElements(expect),
      "in-place apply must equal the full broadcast merge")
    Lake.deleteTree(java.nio.file.Paths.get(base))
  }

  test("a partition whose every row is deleted disappears") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_cdcspec_l08e").toString
    docs.repartition(col("source"))
      .write.mode("overwrite").partitionBy("source").parquet(s"$base/snap")
    val v1 = spark.read.parquet(s"$base/snap")
      .select("doc_id", "source", "text")
    val log = v1.filter(col("source") === "src5")
      .select(lit("D").as("op"), col("doc_id"), col("source"), col("text"))
    Lake.cdcApplyPartitioned(spark, s"$base/snap", log, s"$base/stage")
    assert(!new java.io.File(s"$base/snap/source=src5").exists(),
      "dynamic overwrite can't delete an empty partition — the explicit " +
        "sweep must")
    val got = spark.read.parquet(s"$base/snap")
    assert(got.filter(col("source") === "src5").count() == 0)
    assert(got.count() ==
      docs.filter(col("source") =!= "src5").count())
    Lake.deleteTree(java.nio.file.Paths.get(base))
  }

  test("partition-scoped apply leaves the session conf alone, during and after") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val key = "spark.sql.sources.partitionOverwriteMode"
    val base = java.nio.file.Files
      .createTempDirectory("graft_cdcspec_l08c").toString
    docs.repartition(col("source"))
      .write.mode("overwrite").partitionBy("source").parquet(s"$base/snap")
    val v1 = spark.read.parquet(s"$base/snap")
      .select("doc_id", "source", "text")
    val others = v1.filter(col("source") =!= "src1").orderBy("doc_id").collect()
    val log = v1.filter(col("source") === "src1")
      .select(lit("U").as("op"), col("doc_id"), col("source"),
              concat(col("text"), lit(" (patched)")).as("text"))
      .cache()
    val nPatched = log.count()
    val confBefore = spark.conf.getAll

    // a SQL execution copies the session's set confs into its jobs'
    // properties, so each job start shows the conf its write ran under
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(String.valueOf(Option(e.properties).map(_.getProperty(key)).orNull))
        ()
      }
    }
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      Lake.cdcApplyPartitioned(spark, s"$base/snap", log, s"$base/stage")
      org.apache.spark.ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(l)

    assert(!seen.isEmpty)
    assert(seen.toArray.forall(_ == "null"),
      s"a job of the apply ran with $key set on the session: $seen")
    assert(spark.conf.getAll == confBefore)
    val snap = spark.read.parquet(s"$base/snap")
    assert(snap.filter(col("source") =!= "src1").orderBy("doc_id")
      .select("doc_id", "source", "text").collect().sameElements(others),
      "untouched partitions must survive the dynamic overwrite")
    assert(snap.filter(col("text").endsWith(" (patched)")).count() == nPatched)
    log.unpersist()
    Lake.deleteTree(java.nio.file.Paths.get(base))
  }
}
