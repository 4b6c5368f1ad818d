package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Lake
import graft.sources.GraftTable

/** `GraftTable.changes` and `diff` plan from the manifests' per-step set
  * differences; these specs hold them to the whole-snapshot
  * [[ReferenceFeed]] on seeded chains that mix every landing path, pin
  * the plan's cost (jobs and files read), and check that the stream and
  * connector consumers see the same feed.
  */
class ChangeFeedSpec extends AnyFunSuite with SparkFixture {

  private val Key = "id"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString

  private def base(n: Long): DataFrame =
    spark.range(n).select(col("id"), pmod(col("id"), lit(13L)).as("a"),
      concat(lit("b"), col("id").cast("string")).as("b"),
      (col("id") * 0.5).as("c"))

  /** Rows for fresh keys `[lo, hi)` shaped as the table's columns `cols`. */
  private def fresh(cols: Seq[String], lo: Long, hi: Long): DataFrame = {
    val r = base(hi).filter(col("id") >= lo).withColumn("d", lit(3L))
    r.select(cols.map(c => if (r.columns.contains(c)) col(c)
      else lit(null).cast("long").as(c)): _*)
  }

  /** A changelog over the current keys in `[lo, hi)`: a third change
    * their payload, a third re-upsert themselves unchanged, a third are
    * deleted; `ins` fresh keys from `next` are inserted. `extra` adds
    * columns (schema evolution).
    */
  private def upserts(t: GraftTable, lo: Long, hi: Long, next: Long,
      ins: Int, extra: Seq[(String, Column)] = Nil): DataFrame = {
    val cur = extra.foldLeft(t.read()) { case (df, (c, e)) =>
      df.withColumn(c, e) }
    val win = cur.filter(col("id") >= lo && col("id") < hi)
    val m = pmod(col("id"), lit(3L))
    val upd = win.filter(m === 0).withColumn("c", col("c") + 1.5)
      .select(cur.columns.map(col): _*)
    val same = win.filter(m === 1)
    val del = win.filter(m === 2)
    upd.unionByName(same).unionByName(fresh(cur.columns.toSeq, next,
        next + ins))
      .withColumn("op", lit("U"))
      .unionByName(del.withColumn("op", lit("D")))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def fields(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.map(f => f.name -> f.dataType.sql).toSeq

  private def assertSameFeed(got: DataFrame, want: DataFrame,
      what: String): Unit = {
    assert(fields(got) == fields(want), s"$what: columns differ")
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"$what: ${g.size} rows vs the reference's ${w.size}; " +
      s"first difference ${g.diff(w).headOption} / ${w.diff(g).headOption}")
  }

  test("changes and diff equal the whole-snapshot reference on a seeded " +
      "chain of every landing path") {
    val dir = tmp("cf_eq")
    val rnd = new scala.util.Random(20261)
    val t = GraftTable.create(spark, dir, base(400), Key)
    var next = 1000L
    def window(w: Int): (Long, Long) = {
      val lo = rnd.nextInt(400 - w).toLong
      (lo, lo + w)
    }
    def scoped(extra: Seq[(String, Column)] = Nil): Int = {
      val (lo, hi) = window(30)
      val log = upserts(t, lo, hi, next, 4, extra)
      next += 4
      t.merge(log)
    }
    def full(): Int = {
      val log = upserts(t, 0, next, next, 6)
      next += 6
      t.merge(log)
    }
    scoped()
    scoped()
    val dv1 = t.deleteVectored(pmod(col("id"), lit(7L)) === rnd.nextInt(7))
    scoped()
    t.reorgPurge(0.01)
    val (ulo, uhi) = window(40)
    t.update(col("id") >= ulo && col("id") < uhi,
      Map("b" -> concat(col("b"), lit("!"))))
    val (dlo, dhi) = window(20)
    t.delete(col("id") >= dlo && col("id") < dhi)
    val (mlo, mhi) = window(30)
    val cur = t.read()
    val src = cur.filter(col("id") >= mlo && col("id") < mhi)
      .withColumn("c", when(pmod(col("id"), lit(4L)) === 0, lit(-1.0))
        .otherwise(col("c") * 2))
      .unionByName(fresh(cur.columns.toSeq, next, next + 3))
    next += 3
    t.mergeInto(src)
      .whenMatchedDelete("s.c < 0")
      .whenMatchedUpdate(Map("c" -> "s.c"))
      .whenNotMatchedInsertAll()
      .execute()
    scoped(extra = Seq("d" -> lit(rnd.nextInt(100).toLong)))
    t.compactSmall()
    t.deleteVectored(pmod(col("id"), lit(5L)) === rnd.nextInt(5))
    t.restore(dv1)
    full()
    t.compact(zorderBy = Seq("id", "a"))
    val (clo, chi) = window(30)
    t.mergeConcurrent(upserts(t, clo, chi, next, 2)); next += 2
    scoped()
    t.compact()
    scoped()

    val ops = t.history().select("operation").collect().map(_.getString(0))
      .toSet
    Seq("MERGE SCOPED", "MERGE", "DELETE VECTORED", "REORG PURGE", "UPDATE",
      "DELETE", "MERGE INTO", "OPTIMIZE BINPACK", "RESTORE", "OPTIMIZE",
      "OPTIMIZE ZORDER").foreach(op =>
      assert(ops(op), s"the chain never landed a $op version: $ops"))

    val last = t.currentVersion
    val check = new scala.util.Random(7)
    (1 to last).foreach { span =>
      val vA = check.nextInt(last - span + 1)
      assertSameFeed(t.changes(vA, vA + span),
        ReferenceFeed.changes(t, Key, vA, vA + span),
        s"changes($vA, ${vA + span})")
    }
    (Seq((0, last), (last, 0), (dv1, dv1)) ++ (1 to 6).map(_ =>
        (check.nextInt(last + 1), check.nextInt(last + 1)))).foreach {
      case (a, b) =>
        assertSameFeed(t.diff(a, b), ReferenceFeed.diff(t, Key, a, b),
          s"diff($a, $b)")
    }
    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("the feed reads only the files each step changed, in two jobs") {
    val dir = tmp("cf_cost")
    val rnd = new scala.util.Random(20262)
    val t = GraftTable.create(spark, dir, base(4000), Key)
    var next = 10000L
    def tick(): Int = {
      val lo = rnd.nextInt(3900).toLong
      val v = t.merge(upserts(t, lo, lo + 60, next, 5))
      next += 5
      v
    }
    (1 to 4).foreach(_ => tick())
    val v0 = t.currentVersion
    (1 to 10).foreach(_ => tick())
    val v = t.currentVersion
    def paths(u: Int): Set[String] =
      t.manifest(u).select("path").collect().map(_.getString(0)).toSet
    assert((v0 to v).forall(paths(_).size > 32),
      "a version holds 32 files or fewer; the listing threshold is not hit")
    assert(t.history().filter(col("version") > v0)
      .filter(col("operation") =!= "MERGE SCOPED").count() == 0,
      "a tick took the full arm")
    def norm(p: String): String = new Path(p).toUri.getPath
    def changedFiles(vA: Int, vB: Int): Set[String] =
      (vA + 1 to vB).flatMap { u =>
        val (a, b) = (paths(u - 1), paths(u))
        (a diff b) ++ (b diff a)
      }.map(norm).toSet

    t.changes(v - 10, v).collect() // first call: class loading, codegen
    val (_, jobs) = jobsDuring(t.changes(v - 10, v).collect())
    assert(jobs <= 3, s"changes(v-10, v) ran $jobs jobs")
    Seq(2, 5, 10).foreach { span =>
      val read = t.changes(v - span, v).inputFiles.map(norm).toSet
      assert(read == changedFiles(v - span, v),
        s"span $span read ${read.size} files, " +
          s"${changedFiles(v - span, v).size} changed")
      val snapshots = (v - span to v).map(paths(_).size).sum
      assert(read.size * 2 < snapshots,
        s"span $span read ${read.size} of the span's $snapshots files")
    }
    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("DV reads log no 'All paths were ignored' warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val dir = tmp("cf_dvlog")
    val t = GraftTable.create(spark, dir, base(300), Key)
    val dvV = t.deleteVectored(pmod(col("id"), lit(9L)) === 4)
    val name = "org.apache.spark.sql.execution.datasources.DataSource"
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-dv-paths", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        seen.add(e.getMessage.getFormattedMessage); ()
      }
    }
    val before = logger.getLevel
    app.start()
    Configurator.setLevel(name, Level.WARN)
    logger.addAppender(app)
    def ignored: Int = {
      var n = 0
      seen.forEach(m => if (m.contains("All paths were ignored")) n += 1)
      n
    }
    try {
      // the appender sees the warning a scan rooted at the DV dir logs
      spark.read.parquet(s"$dir/v$dvV/_graft_dv").count()
      assert(ignored > 0, "the appender missed a known warning")
      seen.clear()
      assert(t.readAsOf(dvV).count() == 300 - base(300)
        .filter(pmod(col("id"), lit(9L)) === 4).count())
      assert(t.changes(dvV - 1, dvV).count() > 0)
      assert(ignored == 0, s"DV reads logged: ${seen.toArray.mkString("; ")}")
    } finally {
      logger.removeAppender(app)
      Configurator.setLevel(name, before)
      app.stop()
    }
    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("stream, connector and changes() emit the reference feed over " +
      "a mixed chain") {
    val dir = tmp("cf_consumers")
    val tdir = s"$dir/tbl"
    val t = GraftTable.create(spark, tdir, base(400), Key)
    t.merge(upserts(t, 100, 130, 1000, 4)) // scoped
    t.merge(upserts(t, 0, 2000, 1004, 4)) // full
    val dv = t.deleteVectored(pmod(col("id"), lit(6L)) === 1)
    t.compactSmall()
    t.restore(dv)
    val v = t.merge(upserts(t, 200, 240, 1008, 3, Seq("d" -> lit(5L))))
    val ops = t.history().select("operation").collect().map(_.getString(0))
    assert(Seq("MERGE SCOPED", "MERGE", "DELETE VECTORED",
      "OPTIMIZE BINPACK", "RESTORE").forall(ops.contains),
      ops.mkString(", "))
    assert(t.schemaAsOf(v).fieldNames.contains("d"))

    val ref = ReferenceFeed.changes(t, Key, 0, v)
    val cols = t.schemaAsOf(v).fieldNames.toSeq ++
      Seq("_change_type", "_commit_version")
    def norm(df: DataFrame): Seq[String] =
      rows(df.select(cols.map(c => col(c).cast("string")): _*))

    assert(norm(t.changes(0, v)) == norm(ref))
    assert(norm(spark.read.format("graft").option("key", Key)
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .option("endingVersion", v.toString).load(tdir)) == norm(ref))

    val q = spark.readStream.format("graft").option("key", Key)
      .option("readChangeFeed", "true")
      .option("startingVersion", "earliest").load(tdir)
      .writeStream.format("memory").queryName("cf_consumers")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val snap = t.readAsOf(0).withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(0))
    assert(norm(spark.table("cf_consumers")) ==
      norm(snap.unionByName(ref, allowMissingColumns = true)))
    Lake.deleteTree(java.nio.file.Paths.get(dir))
  }
}
