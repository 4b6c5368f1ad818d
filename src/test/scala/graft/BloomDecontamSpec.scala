package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** d30's contract: the Bloom prefilter is a pure economy move — because a
  * Bloom filter built from the benchmark set has NO false negatives,
  * `bloom prefilter -> exact verify join` must produce d16's output
  * BIT-IDENTICALLY, while the verify join's probe side shrinks to the
  * true hits plus the fp fraction. Checked on a hand-built corpus with
  * planted overlap (full copy, partial >= 0.2, sub-threshold, disjoint)
  * so every verdict is independently known, plus plan-shape asserts for
  * the scale story (in-scan bloom probe, pinned shuffle join, no
  * broadcast) and a measured no-false-negative / fp-bound check.
  * s15's in-row kernel path (CountInSortedLongs against the collected
  * bench list) is held to the same output on the same corpus.
  */
class BloomDecontamSpec extends AnyFunSuite with SparkFixture {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def splitOf(id: Long): String = {
    val hex = md5hex(id.toString).substring(0, 15)
    val b = java.lang.Long.parseLong(hex, 16) % 100
    if (b < 80) "train" else if (b < 90) "val" else "test"
  }

  /** A corpus where decontamination verdicts are known by construction:
    * bench (test-split) docs carry distinct word runs; train docs are a
    * verbatim copy (overlap 1.0), a half-overlap doc (>= 0.2), a doc
    * sharing one shingle (< 0.2), and disjoint filler.
    */
  private lazy val corpusDir: String = {
    val ids = (1L to 600L)
    val testIds = ids.filter(splitOf(_) == "test")
    val trainIds = ids.filter(splitOf(_) == "train")
    assert(testIds.size >= 2 && trainIds.size >= 4)

    def run(tag: String, n: Int): String =
      (0 until n).map(i => s"w${tag}_$i").mkString(" ")

    val benchText0 = run("a", 12) // 10 3-shingles
    val benchText1 = run("b", 12)
    // half-overlap: 6 bench-a words then fresh words -> 4 shared shingles
    // of 10 total (0.4 >= 0.2)
    val partial = run("a", 6) + " " + run("c", 6)
    // one shared shingle: 3 bench-b words inside fresh text (1/10 < 0.2)
    val below = run("d", 5) + " wb_0 wb_1 wb_2 " + run("e", 4)
    val rows = Seq(
      (testIds(0), benchText0), (testIds(1), benchText1),
      (trainIds(0), benchText0),                    // exact copy: overlap 1.0
      (trainIds(1), partial),                       // 0.4
      (trainIds(2), below),                         // 0.1
      (trainIds(3), run("f", 12))                   // disjoint
    )
    val dir = java.nio.file.Files.createTempDirectory("bloom_decon").toString
    val sess = spark
    import sess.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  private def resultKey(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toSeq

  test("d30 bloom prefilter + exact verify == d16, with the planted verdicts") {
    val d16 = resultKey(SparkEntry.queries("d16_decontaminate")(spark, corpusDir))
    val d30 = resultKey(SparkEntry.queries("d30_bloom_decontam")(spark, corpusDir))
    assert(d16.nonEmpty, "planted corpus produced no d16 hits — spec is vacuous")
    assert(d30 == d16, s"bloom path diverged:\n d16=$d16\n d30=$d30")
    // the planted facts themselves: copy + partial flagged, below + disjoint not
    val flagged = d16.map(_._1).toSet
    val ids = (1L to 600L)
    val trainIds = ids.filter(splitOf(_) == "train")
    assert(flagged.contains(trainIds(0)) && flagged.contains(trainIds(1)))
    assert(!flagged.contains(trainIds(2)) && !flagged.contains(trainIds(3)))
    val byId = d16.map(r => r._1 -> r._4).toMap
    assert(byId(trainIds(0)) == 1.0)
    assert(byId(trainIds(1)) == 0.4)
  }

  test("s15's in-row kernel verdict (CountInSortedLongs) == d16 on the same corpus") {
    val d16 = resultKey(SparkEntry.queries("d16_decontaminate")(spark, corpusDir))
    val bench = graft.operators.Dedup.benchShingleList(spark, corpusDir)
    assert(bench.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, corpusDir)
      .filter(graft.operators.Dedup.splitOf(
        graft.operators.Dedup.splitBucket(col("doc_id"))) === "train")
      .select("doc_id", "text")
    val inRow = resultKey(
      graft.operators.Dedup.decontamVerdicts(docs, bench)
        .orderBy("doc_id"))
    assert(inRow == d16, s"in-row kernel path diverged:\n d16=$d16\n s15=$inRow")
  }

  test("d30 plan: in-scan bloom probe, shuffle-hash verify join, no broadcast") {
    val p = SparkEntry.queries("d30_bloom_decontam")(spark, corpusDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("bloom_contains_long"),
      "bloom probe expression not in the physical plan")
    assert(p.contains("ShuffledHashJoin"),
      "verify join must stay a shuffle join (the bench-too-big-to-broadcast path)")
    assert(!p.contains("BroadcastHashJoin"),
      "verify join was broadcast — the plan no longer demonstrates the scale path")
  }

  test("s15's stream leg is stateless: zero state operators in progress") {
    // the intake-placement claim: the verdict is one codegen'd kernel
    // call per row against a closure-resident list — nothing
    // accumulates between micro-batches
    val sp = spark
    import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bench = graft.operators.Dedup.benchShingleList(spark, corpusDir)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.operators.Dedup.decontamVerdicts(
        in.toDF().toDF("doc_id", "text"), bench)
      .writeStream.format("memory").queryName("s15_probe")
      .outputMode("append").start()
    try {
      in.addData((1L, "just some words that are long enough to shingle"),
                 (2L, "more words here that also make a few shingles"))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        s"s15 accumulated state: ${q.lastProgress.stateOperators.map(_.operatorName).mkString(", ")}")
    } finally {
      q.stop()
      spark.catalog.dropTempView("s15_probe")
    }
  }

  test("bloom prefilter: no false negatives, fp fraction within bound") {
    val docs = graft.sources.Tables.documents(spark, corpusDir)
      .withColumn("split", graft.operators.Dedup.splitOf(
        graft.operators.Dedup.splitBucket(col("doc_id"))))
      .withColumn("mh", expr("md5_shingle3_hashes(text)"))
      .filter(size(col("mh")) > 0)
    val bench = docs.filter(col("split") === "test")
      .select(explode(col("mh")).as("h")).distinct()
    val benchSet = bench.collect().map(_.getLong(0)).toSet
    val bloom = bench.stat.bloomFilter("h", benchSet.size.toLong, 0.01)
    val train = docs.filter(col("split") === "train")
      .select(explode(col("mh")).as("h")).collect().map(_.getLong(0))
    val trueHits = train.count(benchSet)
    val passed = train.count(bloom.mightContainLong)
    assert(passed >= trueHits, "bloom dropped a true member — impossible by contract")
    val fpBudget = math.ceil(0.05 * train.length).toInt
    assert(passed <= trueHits + fpBudget,
      s"bloom passed $passed of ${train.length} shingles (true: $trueHits) — fp rate above bound")
  }
}
