package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis

/** d43_lm_perplexity: the trained char-bigram LM's probabilities on a
  * hand corpus are arithmetically pinned, short-doc policy is explicit,
  * and the score separates in-distribution from out-of-distribution text
  * on the real table (the signal's reason to exist).
  */
class LmPerplexitySpec extends AnyFunSuite with SparkFixture {

  test("hand corpus: Laplace probabilities match arithmetic") {
    val s = spark
    import s.implicits._
    // ref text "abab": bigrams ab, ba, ab -> n(ab)=2, n(ba)=1
    // contexts: a -> n1=2, b -> n1=1; charset V = {a, b} = 2
    val ref = Seq((0L, "en", "abab")).toDF("doc_id", "lang", "text")
    val m = TextAnalysis.lmModel(ref)
    // score "ab": one bigram, logp(ab) = ln((2+1)/(2+2)) = ln(0.75)
    // score "ba": logp(ba) = ln((1+1)/(1+2)) = ln(2/3)
    // score "bb": unseen bigram, seen context b -> ln(1/(1+2))
    // score "ca": unseen context -> ln(1/V) = ln(0.5)
    val docs = Seq(
      (1L, "en", "ab"), (2L, "en", "ba"), (3L, "en", "bb"),
      (4L, "en", "ca"), (5L, "en", "x"), (6L, "en", "")
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.lmScore(docs, m)
      .orderBy("doc_id")
      .select("doc_id", "n_big", "nll")
      .collect()
    def expect(p: Double): Double =
      BigDecimal(-(math.rint((math.log(p) + 1e-12) * 1e6) / 1e6) + 1e-9)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0).getInt(1) == 1 && out(0).getDouble(2) == expect(0.75))
    assert(out(1).getDouble(2) == expect(2.0 / 3))
    assert(out(2).getDouble(2) == expect(1.0 / 3))
    assert(out(3).getDouble(2) == expect(0.5))
    // len<2 docs: zero bigrams, nll NULL — visible, not dropped
    assert(out(4).getInt(1) == 0 && out(4).isNullAt(2))
    assert(out(5).getInt(1) == 0 && out(5).isNullAt(2))
  }

  test("real table: in-distribution text scores lower nll") {
    val out = SparkEntry.queries("d43_lm_perplexity")(spark, sfDir)
    val byLang = out.filter(col("nll").isNotNull)
      .groupBy("lang").agg(avg("nll").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the model is trained on the en slice; en must be the best-scored
    // language on average, or the signal is not a signal
    val en = byLang("en")
    byLang.filterKeys(_ != "en").foreach { case (l, m) =>
      assert(en < m, s"en avg nll $en not below $l avg nll $m")
    }
    // every document appears exactly once (short docs included)
    val n = SparkEntry.queries("d43_lm_perplexity")(spark, sfDir).count()
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(n == total)
  }
}
