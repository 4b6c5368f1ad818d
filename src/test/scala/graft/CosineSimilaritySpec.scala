package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CosineSimilaritySpec extends AnyFunSuite with SparkFixture {

  private def sim(a: Seq[Float], b: Seq[Float]): Double = {
    val sp = spark
    import sp.implicits._
    Seq((a, b)).toDF("a", "b")
      .select(expr("cosine_sim(a, b)")).head.getDouble(0)
  }

  test("identical vectors score 1") {
    assert(math.abs(sim(Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)) - 1.0) < 1e-12)
  }
  test("orthogonal vectors score 0") {
    assert(sim(Seq(1f, 0f), Seq(0f, 1f)) == 0.0)
  }
  test("opposite vectors score -1") {
    assert(math.abs(sim(Seq(1f, 1f), Seq(-1f, -1f)) + 1.0) < 1e-12)
  }
  test("zero vector scores NaN (0/0), matching DuckDB") {
    assert(sim(Seq(0f, 0f), Seq(1f, 2f)).isNaN)
  }
  test("mismatched dims fail loudly instead of scoring a prefix") {
    val e = intercept[Exception](sim(Seq(1f, 2f), Seq(1f, 2f, 3f)))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null && c.getMessage.contains("dims differ")))
  }

  test("topk_by over a corpus with a zero embedding matches Spark's own NaN-greatest sort") {
    val sp = spark
    import sp.implicits._
    // corpus vec 99 is all-zero -> cosine NaN, which Spark sorts GREATEST
    val corpus = (Seq((99L, Seq(0f, 0f, 0f))) ++
        (1L to 10L).map(i => (i, Seq(i.toFloat, 1f, 0.5f))))
      .toDF("cid", "cvec")
    val query = Seq((1L, Seq(1f, 0f, 0f))).toDF("qid", "qvec")
    val scored = query.crossJoin(corpus)
      .select(col("qid"), col("cid"), expr("cosine_sim(qvec, cvec)").as("s"))
    val viaTopk = scored
      .groupBy("qid").agg(expr("topk_by(s, cid, 3)").as("top"))
      .select(explode(col("top")).as("t")).select("t.id").as[Long].collect()
    val viaSort = scored.orderBy(col("s").desc, col("cid"))
      .limit(3).select("cid").as[Long].collect()
    assert(viaTopk.toSeq == viaSort.toSeq,
      s"topk_by=${viaTopk.toSeq} sort=${viaSort.toSeq}")
    assert(viaTopk.head == 99L, "NaN-scored zero vector must rank first")
  }

  test("codegen and interpreted paths agree on real embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir).limit(50)
      .select(col("vec_id"), col("embedding"))
    val pairs = emb.crossJoin(
        emb.select(col("vec_id").as("v2"), col("embedding").as("e2")))
      .filter(col("vec_id") < col("v2"))
      .select(expr("cosine_sim(embedding, e2)").as("s"))
    val fromExpr = pairs.agg(sum("s")).head.getDouble(0)
    // reference computation via plain Scala on collected rows
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val expected = (for {
      (i, a) <- vecs.toSeq; (j, b) <- vecs.toSeq if i < j
    } yield {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }).sum
    assert(math.abs(fromExpr - expected) < 1e-6)
  }
}
