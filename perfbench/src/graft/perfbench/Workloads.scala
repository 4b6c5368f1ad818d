package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.HashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.perfbench.Main.{Checks, Op, Workload}
import graft.sources.GraftTable

/** Seeded shuffled passes over a fixed list of SparkEntry entries, each
  * built and executed into the `noop` sink. One op = one entry. */
final class QueryMix(s: SparkSession, tr: Tracer, data: String, out: String,
    seed: Long) extends Workload {

  // The sotah query surface (pricelist, price history, running total,
  // as-of join, item search) and the LLM-data operators (exact dedup,
  // TF-IDF, brute kNN): every entry has a DuckDB oracle.
  private val entries = Seq(
    "q01_pricelist", "q07_price_history", "q21_running_total",
    "q26_asof_join", "q33_item_search_norm",
    "d01_exact_dedup", "d20_tfidf", "e01_knn_brute")
  private val queries = graft.SparkEntry.queries
  // a round of 24 ops (~13 s on 4 cores) evens out the machine's noise
  private val Passes = 3

  private def build(name: String): DataFrame =
    tr.span("operators.build") { queries(name)(s, data) }

  private def exec(name: String): Unit = {
    val df = build(name)
    tr.span("operators.execute") {
      df.write.format("noop").mode("overwrite").save()
    }
  }

  /** The warm-up pass runs every entry once, into parquet: those are the
    * results check.py compares with the DuckDB oracle. */
  def setup(): Unit = tr.span("warmup") {
    entries.foreach { n =>
      build(n).coalesce(1).write.mode("overwrite").parquet(s"$out/results/$n")
    }
  }

  /** `Passes` passes over the entries, each in its own seeded order. */
  def round(r: Int): Seq[Op] = (0 until Passes).flatMap { p =>
    new scala.util.Random(seed * 1000003L + Passes * r + p).shuffle(entries)
      .map(n => Op(n, () => exec(n)))
  }

  def check(c: Checks): Unit = {
    val sql = graft.SparkEntry.oracleSql
    c("oracle_sql_present", entries.forall(sql.contains),
      entries.filterNot(sql.contains).mkString(","))
    val j = new Json
    entries.filter(sql.contains).foreach(n => j(n, sql(n)))
    Files.writeString(Paths.get(s"$out/oracle.json"), j.render)
  }
}

/** A GraftTable over `orders`, trickled. Each op applies a seeded changelog
  * (updates, deletes and inserts in a 400-key window) with mergeAuto, then
  * reads a seeded earlier version, alternating the writer's handle (its
  * manifest memo warm) and a freshly opened one (cold). The last op of a
  * round also reads the change feed of the round's versions, compacts
  * small files and reads the history. Set-up also builds a corpus lake and
  * folds one streamed tick into it (see [[CorpusFeed]]). The benchmark
  * keeps its own model of every version (a map keyed by o_orderkey) and
  * checks reads and change feeds against it. */
final class LakeTrickle(s: SparkSession, tr: Tracer, data: String,
    work: String, out: String, seed: Long) extends Workload {

  private type Model = HashMap[Long, Seq[Any]]
  private val dir = s"$work/orders_lake"
  private val key = "o_orderkey"
  private val rnd = new scala.util.Random(seed)
  private val Window = 400
  // commits per round: 9 plain ones and one with the maintenance calls,
  // so the round's median op is a plain commit, over enough changelog
  // windows that the seed moves it little
  private val Steps = 10
  private var schema: StructType = _
  private var t: GraftTable = _
  private var models = Vector.empty[Model]
  private var nextKey = 0L
  private var firstTimedVersion = 0
  private val countErrors = scala.collection.mutable.ArrayBuffer.empty[String]
  private val feeds = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Row])]
  private val corpus = new CorpusFeed(s, tr, data, s"$work/corpus", out, seed)

  private def toModel(rows: Iterable[Row]): Model =
    HashMap.from(rows.iterator.map(r => r.getLong(0) -> r.toSeq.tail))

  private def collectModel(df: DataFrame): Model =
    toModel(df.select(schema.fieldNames.map(col).toIndexedSeq: _*).collect())

  def setup(): Unit = {
    val df = s.read.parquet(s"$data/orders.parquet")
    schema = df.schema
    require(schema.fieldNames.head == key)
    models = Vector(collectModel(df))
    nextKey = models(0).keysIterator.max + 1
    t = tr.span("sources.GraftTable.create") { GraftTable.create(s, dir, df, key) }
    // the corpus build and its tick also warm the JVM and Spark up
    corpus.build()
    firstTimedVersion = t.currentVersion + 1
  }

  /** The next seeded changelog against model `m`, and the model it yields. */
  private def changelog(m: Model): (Seq[Row], Model) = {
    val lo = (rnd.nextDouble() * math.max(1L, nextKey - Window)).toLong
    val present = rnd.shuffle((lo until lo + Window).filter(m.contains))
    val absent = (lo until lo + Window).filterNot(m.contains).take(10)
    val upd = present.take(40).map { k =>
      val p = m(k).toIndexedSeq
      k -> p.updated(1, Seq("F", "O", "P")(rnd.nextInt(3)))
        .updated(2, (100000 + rnd.nextInt(49900000)) / 100.0)
    }
    val del = present.slice(40, 60)
    val fresh = absent ++ (0 until 10).map(_ => { nextKey += 1; nextKey - 1 })
    val donor = m(present.headOption.getOrElse(m.keysIterator.next()))
    val ins = fresh.map(k => k -> donor.toIndexedSeq
      .updated(2, (100000 + rnd.nextInt(49900000)) / 100.0))
    val rows = upd.map { case (k, p) => Row.fromSeq("U" +: k +: p) } ++
      del.map(k => Row.fromSeq("D" +: k +: m(k))) ++
      ins.map { case (k, p) => Row.fromSeq("U" +: k +: p) }
    (rows, (m -- del) ++ upd ++ ins)
  }

  /** Commit step `i`; `toMaintain` steps later the maintenance calls run
    * (0 means this step runs them, over the last `Steps` versions). */
  private def step(i: Int, toMaintain: Int): Unit = {
    val (rows, next) = changelog(models.last)
    val log = s.createDataFrame(rows.asJava,
      StructType(StructField("op", StringType) +: schema.fields))
    val v = tr.span("sources.GraftTable.merge") { t.mergeAuto(log) }
    models :+= next
    require(v == models.size - 1, s"merge landed v$v, model is at v${models.size - 1}")
    val rv = rnd.nextInt(v + 1)
    val n =
      if (i % 2 == 0) tr.span("sources.GraftTable.read_warm") { t.readAsOf(rv).count() }
      else tr.span("sources.GraftTable.read_cold") {
        val cold = GraftTable.open(s, dir, key)
        tr.span("sources.GraftTable.manifest") { cold.manifest(rv) }
        cold.readAsOf(rv).count()
      }
    if (n != models(rv).size) countErrors += s"v$rv: read $n rows, model ${models(rv).size}"
    if (toMaintain == 0) {
      val feed = tr.span("sources.GraftTable.changes") { t.changes(v - Steps, v).collect() }
      feeds += ((v - Steps, v, feed))
      val cv = tr.span("sources.GraftTable.compact") { t.compactSmall() }
      if (cv != v) models :+= models.last
      val h = tr.span("sources.GraftTable.history") { t.history().collect() }
      if (h.length != models.size)
        countErrors += s"history lists ${h.length} versions, model has ${models.size}"
    }
  }

  private var stepNo = 0

  def round(r: Int): Seq[Op] = (0 until Steps).map { k =>
    val i = stepNo; stepNo += 1
    Op("commit", () => step(i, Steps - 1 - k))
  }

  /** Rows of a read against the model: None when they agree. */
  private def compareRead(m: Model, got: Model, rowsRead: Long): Option[String] =
    if (rowsRead != got.size) Some(s"$rowsRead rows read, ${got.size} distinct keys")
    else if (got == m) None
    else {
      val k = (m.keySet ++ got.keySet).find(k => m.get(k) != got.get(k)).get
      Some(s"${m.size} model rows vs ${got.size} read; first key $k: " +
        s"model ${m.get(k)} read ${got.get(k)}")
    }

  private type Change = (Long, String, Int, Seq[Any])

  /** The model's per-step difference over (vA, vB], in the change feed's shape. */
  private def expectedChanges(vA: Int, vB: Int): Seq[Change] =
    (vA + 1 to vB).flatMap { u =>
      val (a, b) = (models(u - 1), models(u))
      if (a eq b) Nil
      else (a.keySet ++ b.keySet).toSeq.flatMap { k =>
        (a.get(k), b.get(k)) match {
          case (None, Some(p)) => Seq((k, "insert", u, p))
          case (Some(p), None) => Seq((k, "delete", u, p))
          case (Some(p), Some(q)) if p != q =>
            Seq((k, "update_preimage", u, p), (k, "update_postimage", u, q))
          case _ => Nil
        }
      }
    }

  private def asChanges(rows: Array[Row]): Seq[Change] = rows.toSeq.map { r =>
    (r.getAs[Long](key), r.getAs[String]("_change_type"),
      r.getAs[Int]("_commit_version"),
      schema.fieldNames.tail.toSeq.map(f => r.getAs[Any](f)))
  }

  private def compareChanges(exp: Seq[Change], got: Seq[Change]): Option[String] = {
    val (e, g) = (exp.groupBy(identity).view.mapValues(_.size).toMap,
      got.groupBy(identity).view.mapValues(_.size).toMap)
    if (e == g) None
    else Some(s"${exp.size} expected change rows vs ${got.size}; first " +
      s"difference ${(e.keySet ++ g.keySet).find(k => e.get(k) != g.get(k))}")
  }

  def check(c: Checks): Unit = {
    corpus.check(c)
    c("read_counts_match_model", countErrors.isEmpty, countErrors.take(3).mkString("; "))
    val last = t.currentVersion
    c("versions_match_model", last == models.size - 1,
      s"table at v$last, model at v${models.size - 1}")
    val checkRnd = new scala.util.Random(seed + 1)
    val vs = Seq(last, checkRnd.nextInt(last)).distinct
    vs.foreach { v =>
      Seq("warm" -> t, "cold" -> GraftTable.open(s, dir, key)).foreach { case (h, tb) =>
        val df = tb.readAsOf(v)
        c(s"read_v${v}_$h", compareRead(models(v), collectModel(df), df.count()) match {
          case None => true
          case Some(e) => System.err.println(s"[perfbench] read v$v ($h): $e"); false
        })
      }
    }
    feeds.foreach { case (vA, vB, rows) =>
      val got = asChanges(rows)
      val err = compareChanges(expectedChanges(vA, vB), got)
      c(s"changes_v${vA}_v$vB", err.isEmpty, err.getOrElse(""))
      val net = got.count(_._2 == "insert") - got.count(_._2 == "delete")
      val diff = t.readAsOf(vB).count() - t.readAsOf(vA).count()
      c(s"changes_v${vA}_v${vB}_net_rows", net == diff, s"inserts-deletes $net, rows $diff")
    }
    // self-tests: each checker must reject a perturbed row, a missing row
    // and the wrong version
    val v = last
    val good = collectModel(t.readAsOf(v))
    val (k0, p0) = good.head
    c.mustFail("read_perturbed_row", compareRead(models(v),
      good.updated(k0, p0.updated(2, p0(2).asInstanceOf[Double] + 0.01)), good.size))
    c.mustFail("read_missing_row", compareRead(models(v), good - k0, good.size - 1))
    val older = (0 until v).reverse.find(u => models(u) != models(v)).get
    c.mustFail("read_wrong_version", compareRead(models(older), good, good.size))
    feeds.lastOption.foreach { case (vA, vB, rows) =>
      val got = asChanges(rows)
      c.mustFail("changes_missing_row", compareChanges(expectedChanges(vA, vB), got.tail))
      c.mustFail("changes_wrong_version",
        compareChanges(expectedChanges(vA, vB), got.map(x => x.copy(_3 = x._3 + 1))))
    }
  }

  override def layerMetrics(t0: Long, t1: Long): Map[String, Double] = {
    // new data files and their bytes per commit landed in the timed phase
    val landedFiles = (firstTimedVersion to t.currentVersion).map { v =>
      val vd = Paths.get(s"$dir/v$v")
      if (!Files.isDirectory(vd)) (0L, 0L)
      else {
        val fs = Files.list(vd).iterator.asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      }
    }
    val allBytes = Files.walk(Paths.get(dir)).iterator.asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    val liveBytes = t.manifest(t.currentVersion).agg(
      org.apache.spark.sql.functions.sum("n_bytes")).head().getLong(0)
    corpus.layerMetrics() ++ Map(
      "sources.GraftTable.files_per_commit" ->
        landedFiles.map(_._1).sum.toDouble / math.max(1, landedFiles.size),
      "sources.GraftTable.bytes_per_commit" ->
        landedFiles.map(_._2).sum.toDouble / math.max(1, landedFiles.size),
      "sources.GraftTable.space_amp" -> allBytes.toDouble / liveBytes)
  }
}
