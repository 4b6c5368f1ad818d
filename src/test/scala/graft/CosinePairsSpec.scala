package graft

import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** d42_cosine_pairs — the inverted-index self-join must equal the
  * unfiltered brute replay (proving the hot-feature drop is idle on
  * the real corpus), the threshold must behave at the boundary, the
  * join must stay equi, and the sound hot-feature drop must ENGAGE on
  * a planted stopword corpus without changing a single pair. The
  * gate's oracle proves value parity at sf0.01.
  */
class CosinePairsSpec extends AnyFunSuite with SparkFixture {

  private def runOn(rows: Seq[(Long, String, String)]) = {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("d42spec")
    rows.toDF("doc_id", "source", "text").write.mode("overwrite")
      .parquet(dir.resolve("documents.parquet").toString)
    SparkEntry.queries("d42_cosine_pairs")(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  test("matches a brute-force all-pairs replay on the real corpus") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val tf = docs
      .select(col("doc_id"), explode(expr("md5_span3_hashes(text)")).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("h").agg(count(lit(1)).as("df"))
    val n = docs.count()
    val wr = tf.join(dfq, "h")
      .withColumn("wr", (col("tf") * lit(n)).cast("double") / col("df"))
    val nrm = wr.groupBy("doc_id")
      .agg(sqrt(sum(round(col("wr") * col("wr") + lit(1e-8), 4)
        .cast(org.apache.spark.sql.types.DecimalType(38, 4))).cast("double")).as("nrm"))
    val w = wr.join(nrm, "doc_id")
      .select(col("doc_id"), col("h"), (col("wr") / col("nrm")).as("w"))
    // brute force: every co-occurring feature pair, no prefix filter
    val brute = w.toDF("a", "h", "wa")
      .join(w.toDF("b", "h2", "wb"), col("h") === col("h2") && col("a") < col("b"))
      .groupBy("a", "b")
      .agg(round(sum(round(col("wa") * col("wb") + lit(1e-12), 12)
        .cast(org.apache.spark.sql.types.DecimalType(38, 12))).cast("double") + lit(1e-8), 4)
        .as("cos"))
      .filter(col("cos") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = SparkEntry.queries("d42_cosine_pairs")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute,
      s"gate diverged from brute replay: missing=${brute -- got} extra=${got -- brute}")
    assert(brute.nonEmpty, "corpus must contain at least one similar pair")
  }

  test("hot-feature drop engages on a stopword corpus without changing pairs") {
    // every doc opens with the same three words, so the trigram
    // "the quick brown" has df = 1300 > HotDf = 1024, and its max
    // normalized weight squared is ~1e-7 (idf crushes it) — well
    // under the 1e-5 budget, so the rule MUST drop it from the join.
    // Docs 1/2 share a 21-word tail differing in the last word:
    // cos = (1 + 21*650^2) / (1 + 21*650^2 + 1300^2) ~ 0.840 — the
    // one true pair, and its value must survive the drop bit-exact
    // at 4dp (the dropped contribution is ~9e-8).
    val boiler = "the quick brown"
    val sharedTail = (1 to 21).map(j => s"shw$j").mkString(" ")
    val rows = Seq(
      (1L, "s", s"$boiler $sharedTail endA"),
      (2L, "s", s"$boiler $sharedTail endB")) ++
      (3 to 1300).map(i =>
        (i.toLong, "s", s"$boiler " + (1 to 22).map(j => s"d${i}w$j").mkString(" ")))
    assert(1300 > graft.operators.TextAnalysis.HotDf,
      "corpus must clear the hot cutoff or this test is vacuous")
    val out = runOn(rows)
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"expected exactly the planted pair, got $out")
    val expected = BigDecimal(1.0 + 21 * 650.0 * 650.0) /
      BigDecimal(1.0 + 21 * 650.0 * 650.0 + 1300.0 * 1300.0)
    assert(math.abs(out.head._3 - expected.toDouble) < 2e-4,
      s"cos drifted: got ${out.head._3}, expected ~$expected")
  }

  test("unit norms: every doc's squared feature mass sums to ~1") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val tf = docs
      .select(col("doc_id"), explode(expr("md5_span3_hashes(text)")).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("h").agg(count(lit(1)).as("df"))
    val n = docs.count()
    val wr = tf.join(dfq, "h")
      .withColumn("wr", (col("tf") * lit(n)).cast("double") / col("df"))
    val nrm = wr.groupBy("doc_id")
      .agg(sqrt(sum(round(col("wr") * col("wr") + lit(1e-8), 4)
        .cast(org.apache.spark.sql.types.DecimalType(38, 4))).cast("double")).as("nrm"))
    val bad = wr.join(nrm, "doc_id")
      .groupBy("doc_id")
      .agg(sum(pow(col("wr") / col("nrm"), 2)).as("ss"))
      .filter(abs(col("ss") - 1.0) > 1e-6)
      .count()
    assert(bad == 0, s"$bad docs off unit norm")
  }

  test("threshold boundary: a shared-majority pair passes, disjoint docs never pair") {
    // idf discounts SHARED features (df=2 halves the weight vs the
    // df=1 uniques), so with 2 unique trailing trigrams a doc pair
    // needs >= 38 shared ones to clear 0.8: cos = 2.25*38 /
    // (2.25*38 + 9*2) ~ 0.826. The disjoint doc shares no trigram —
    // it must not even be a candidate, let alone a pair.
    val shared = (1 to 40).map(i => s"w$i").mkString(" ")
    val a = shared + " ax ay"
    val b = shared + " bx by"
    val c = (1 to 42).map(i => s"z$i").mkString(" ")
    val out = runOn(Seq((1L, "s", a), (2L, "s", b), (3L, "s", c)))
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"expected exactly the (1,2) pair, got $out")
    assert(out.head._3 >= 0.8 && out.head._3 <= 0.85,
      s"expected cos ~0.826, got ${out.head._3}")
  }

  test("candidate stage plans as an equi-join, never a cartesian") {
    val df = SparkEntry.queries("d42_cosine_pairs")(spark, sfDir)
    df.collect()
    val bad = df.queryExecution.executedPlan.collect {
      case c: CartesianProductExec        => c.nodeName
      case b: BroadcastNestedLoopJoinExec => b.nodeName
    }
    assert(bad.isEmpty, s"non-equi join in the d42 plan: $bad")
  }
}
