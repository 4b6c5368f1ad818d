package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pipeline

/** p02_incr_corpus — the incremental corpus build. The gate's DuckDB
  * oracle proves tick(base)+delta == full rebuild at sf0.01; this spec
  * proves the properties that hash can't localize:
  *
  *   1. every RETROACTIVE flow, each on a planted family with disjoint
  *      vocabulary: a delta doc bridges two base near-dup clusters (the
  *      losing canonical's corpus row deletes), a smaller-id exact dup
  *      steals a keeper, a delta test doc newly FLAGS a base train doc
  *      (bench growth), and a delta near-dup evicts a base TEST doc so
  *      a train doc flagged only by its shingles UN-flags and its row
  *      RE-INSERTS — placement is pure metadata, so the re-insert needs
  *      no text;
  *   2. base text is never re-read: the base parquet is DELETED from
  *      disk between build 1 and the tick;
  *   3. ticks chain: two sequential deltas land the same state as one
  *      full rebuild over all three corpora;
  *   4. the lake patch is partition-scoped: an append-only delta
  *      confined to one source leaves every other (split, source)
  *      partition's files byte-identical (names + mtimes).
  */
class IncrCorpusSpec extends AnyFunSuite with SparkFixture {

  /** The d11 split bucket (md5 60-bit prefix % 100), driver-side. */
  private def bucket(id: Long): Int =
    (java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16) % 100L).toInt

  private def split(id: Long): String = {
    val b = bucket(id)
    if (b < 80) "train" else if (b < 90) "val" else "test"
  }

  private def findId(from: Long, p: Long => Boolean): Long =
    Iterator.iterate(from)(_ + 1).find(p).get

  private var run = 0

  private def docsDF(rows: Seq[(Long, String, String)]) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  private def newBase(): String = {
    run += 1
    java.nio.file.Files.createTempDirectory(s"p02spec$run").toString
  }

  private def lakeRows(base: String): Map[Long, (String, String, Int, Int, Long, Long)] =
    spark.read.parquet(s"$base/lake")
      .select("doc_id", "source", "split", "n_tokens", "shard",
              "bin_id", "bin_offset")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getInt(3), r.getInt(4), r.getLong(5), r.getLong(6))).toMap

  private def fullRebuild(rows: Seq[(Long, String, String)]) =
    Pipeline.p01Build(spark, docsDF(rows), s"p02specref$run",
        s"spec-stamp-$run")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getInt(3), r.getInt(4), r.getLong(5), r.getLong(6))).toMap

  test("every retroactive flow lands; base text deleted before the tick") {
    // --- planted families, pairwise-disjoint vocabularies -------------
    def words(tag: String, n: Int): Seq[String] =
      (1 to n).map(i => s"$tag$i$tag")
    def text(ws: Seq[String]): String = ("the" +: ws).mkString(" ")

    // NOTE on the vocabulary tags: banded-minhash candidacy is a PURE
    // function of the text (the affine family is a fixed constant), so
    // every planted near-dup pair below was verified OFFLINE to share
    // at least one band key under the shipped constants — a moderate-
    // Jaccard pair (the 0.3-0.5 bridge regime) only collides for some
    // vocabularies, and a plant that never becomes a candidate would
    // vacuously pass nothing.

    // cluster bridge: A and B are separate base near-dup clusters; the
    // delta doc carries 12-word runs of BOTH (J = 0.42/0.37 to the
    // sides, 0 between them) — the merged component keeps min(a1) and
    // the B-cluster's canonical must RETROACTIVELY leave the corpus
    val wA = words("ac", 15)
    val wB = words("ay", 15)
    val a1 = 10L; val a2 = 11L; val b1 = 12L; val b2 = 13L
    val aText = text(wA)
    val bText = text(wB)
    val bridgeText = ("the" +: (wA.take(12) ++ wB.take(12))).mkString(" ")

    // keeper steal: identical text, the delta id is SMALLER
    val eOld = 100L; val eNew = 90L
    val eText = text(words("echo", 12))

    // flag-new: a delta TEST doc's segment is contained in a base train
    // doc (containment 0.35 >= 0.2, Jaccard 0.25 < 0.3 — flags without
    // merging)
    val seg2 = words("ga", 10)
    val tr2 = findId(200, split(_) == "train")
    val t2 = findId(1200, split(_) == "test")
    val tr2Text = ("the" +: (words("ha", 14) ++ seg2)).mkString(" ")
    val t2Text = ("the" +: (seg2 ++ words("ia", 8))).mkString(" ")

    // bench shrink + un-flag: base test doc t1 carries segment S that
    // flags base train doc tr in build 1; the delta doc t0 (smaller id)
    // near-dups t1 via the shared 18-word FILLER (J = 0.52, no S words),
    // evicts it from survivorship, S's shingles leave the bench set,
    // and tr must re-enter the corpus WITHOUT its text being re-read
    val segS = words("sd", 8)
    val filler1 = words("ta", 18)
    val t1 = findId(300, split(_) == "test")
    val tr = findId(400, split(_) == "train")
    val t0 = findId(1, i => i < t1 && i > 13 && i != 90 &&
      i != 100 && i != tr2 && i != tr)
    val t1Text = ("the" +: (filler1 ++ segS)).mkString(" ")
    val trText = ("the" +: (words("ua", 14) ++ segS)).mkString(" ")
    val t0Text = ("the" +: (filler1 ++ words("vd", 8))).mkString(" ")

    val baseRows = Seq(
      (a1, "src0", aText),
      (a2, "src0", aText.replace("alpha15alpha", "alphaXalpha")),
      (b1, "src0", bText),
      (b2, "src0", bText.replace("bravo15bravo", "bravoXbravo")),
      (eOld, "src0", eText),
      (tr2, "src0", tr2Text),
      (t1, "src0", t1Text),
      (tr, "src0", trText))
    val deltaRows = Seq(
      (601L, "src0", bridgeText),
      (eNew, "src0", eText),
      (t2, "src0", t2Text),
      (t0, "src0", t0Text))

    val base = newBase()
    // build 1 reads base docs from parquet; the tick must not
    val baseDir = java.nio.file.Files.createTempDirectory("p02basedocs")
    docsDF(baseRows).write.mode("overwrite").parquet(baseDir.toString)
    Pipeline.p02Build1(spark,
      spark.read.parquet(baseDir.toString), base)

    val v1 = lakeRows(base)
    assert(v1.contains(a1) && !v1.contains(a2), "A keeps its canonical")
    assert(v1.contains(b1) && !v1.contains(b2), "B keeps its canonical")
    assert(v1.contains(eOld) && v1.contains(tr2) && v1.contains(t1))
    assert(!v1.contains(tr),
      "tr must be flagged by t1's segment in build 1")

    // ---- delete the base text: the tick can only use the artifacts
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(baseDir).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    assert(!java.nio.file.Files.exists(baseDir))

    Pipeline.p02Tick(spark, base, docsDF(deltaRows))
    val v2 = lakeRows(base)

    assert(v2.contains(a1), "merged bridge component keeps min id a1")
    assert(!v2.contains(b1),
      "the bridged B-cluster's old canonical must retroactively delete")
    assert(!v2.contains(601L), "the bridge doc itself is not canonical")
    assert(!v2.contains(eOld) && v2.contains(eNew),
      "the smaller-id exact dup steals the keeper")
    assert(!v2.contains(tr2),
      "the delta test doc's segment must newly flag tr2")
    assert(v2.contains(t2), "the delta test doc itself survives")
    assert(!v2.contains(t1),
      "t0 evicts t1 from test-split survivorship")
    assert(v2.contains(tr),
      "tr must RE-INSERT once t1's bench shingles leave")

    // ---- and the whole landed state equals a full rebuild
    assert(v2 == fullRebuild(baseRows ++ deltaRows),
      "incremental lake != full rebuild over the union")
  }

  test("ticks chain: two deltas == one full rebuild") {
    def doc(i: Long) = (i, "src0",
      "the " + ('a' to 'l').map(c => s"w$i$c$c").mkString(" "))
    val baseRows = (1L to 30L).map(doc)
    // d1 carries an exact dup of a base doc (41 duplicates 31's text —
    // wait: 31 is itself in d1, so 41 exact-dups a DELTA doc) plus ten
    // fresh docs; d2 is pure growth — between them the two ticks
    // exercise dup probes against both the base index and a prior tick
    val d1 = (31L to 40L).map(doc) :+ ((41L, "src0", doc(31L)._3))
    val d2 = (50L to 60L).map(doc) :+ ((61L, "src0", doc(7L)._3))
    val base = newBase()
    Pipeline.p02Build1(spark, docsDF(baseRows), base)
    Pipeline.p02Tick(spark, base, docsDF(d1), tick = 0)
    Pipeline.p02Tick(spark, base, docsDF(d2), tick = 1)
    assert(lakeRows(base) == fullRebuild(baseRows ++ d1 ++ d2),
      "two chained ticks != full rebuild")
  }

  test("an append-only delta rewrites only its own lake partitions") {
    def doc(i: Long, src: String, tag: String) = (i, src,
      "the " + ('a' to 'l').map(c => s"$tag$i$c$c").mkString(" "))
    // base: both sources in every split; delta: source src0 only, all
    // ids LARGER than base ids (appends at shard tails), and only
    // test/val splits so mixture rates cannot move (train counts fixed)
    val baseRows = (1L to 40L).map(i =>
      doc(i, if (i % 2 == 0) "src0" else "src4", "m"))
    val deltaIds = Iterator.iterate(1000L)(_ + 1)
      .filter(i => split(i) != "train").take(6).toSeq
    val deltaRows = deltaIds.map(doc(_, "src0", "z"))

    val base = newBase()
    Pipeline.p02Build1(spark, docsDF(baseRows), base)
    def listing(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(base, "lake")
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    val before = listing()
    Pipeline.p02Tick(spark, base, docsDF(deltaRows))
    val after = listing()

    val touched = deltaIds.map(i => s"split=${split(i)}/source=src0").toSet
    def partOf(rel: String) =
      rel.split('/').init.mkString("/") // split=X/source=Y
    before.foreach { case (rel, mtime) =>
      if (!touched.contains(partOf(rel)))
        assert(after.get(rel).contains(mtime),
          s"untouched partition file $rel was rewritten")
    }
    assert(after.keys.exists(r => !before.contains(r)),
      "the tick wrote nothing")
    after.keys.filterNot(before.contains).foreach(rel =>
      assert(touched.contains(partOf(rel)),
        s"new file $rel outside the delta's partitions"))
    // and the content is still the full rebuild
    assert(lakeRows(base) == fullRebuild(baseRows ++ deltaRows))
  }

  test("a tick that fails after launching its index writes leaves no " +
       "write running, and its replay converges") {
    def doc(i: Long) = (i, "src0",
      "the " + ('a' to 'l').map(c => s"f$i$c$c").mkString(" "))
    val baseRows = (1L to 30L).map(doc)
    val deltaRows = (31L to 40L).map(doc) :+ ((41L, "src0", doc(5L)._3))
    val base = newBase()
    Pipeline.p02Build1(spark, docsDF(baseRows), base)
    Pipeline.onTickStage = _ =>
      throw new IllegalStateException("injected tick fault")
    val e =
      try intercept[IllegalStateException](
        Pipeline.p02Tick(spark, base, docsDF(deltaRows)))
      finally Pipeline.onTickStage = _ => ()
    assert(e.getMessage == "injected tick fault")
    // both early index writes finished before the failure surfaced, and
    // the session runs no job of the failed attempt
    Seq("postings", "bands").foreach(a => assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(base, a, "t1", "_SUCCESS")),
      s"the failed tick's $a/t1 write was still running"))
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a job of the failed tick is still running")
    Pipeline.p02Tick(spark, base, docsDF(deltaRows))
    assert(lakeRows(base) == fullRebuild(baseRows ++ deltaRows),
      "the replayed tick != full rebuild")
  }
}
