package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** e13_range_search: the oracle hash proves the cascade missed nothing
  * at the gate tau; this spec proves (1) completeness holds across taus
  * spanning the bound's margin, (2) the prescreen actually prunes (the
  * cascade's reason to exist), and (3) the per-pair bound is sound on
  * every scored pair (|exact - approx| <= eps, measured).
  */
class RangeSearchSpec extends AnyFunSuite with SparkFixture {

  private def brute(tau: Double): Set[(Long, Long)] = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < Similarity.RangeQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        round(expr("cosine_sim(embedding, q_vec)") + lit(1e-10), 6))
      .filter(col("sim") >= tau)
      .select("q_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def sketch(emb: DataFrame): DataFrame = emb
    .withColumn("nrm", sqrt(aggregate(
      transform(col("embedding"), v => (v * v).cast("double")),
      lit(0.0), (a, x) => a + x)))
    .filter(col("nrm") > 0)
    .withColumn("nx",
      transform(col("embedding"), v => v.cast("double") / col("nrm")))
    .withColumn("sx", array_max(transform(col("nx"), v => abs(v))) / lit(127.0))
    .withColumn("qx", transform(col("nx"),
      v => floor(v / col("sx") + lit(0.5) + lit(1e-9)).cast("long")))
    .withColumn("rx", sqrt(aggregate(
      zip_with(col("nx"), col("qx"),
        (n, q) => (n - col("sx") * q) * (n - col("sx") * q)),
      lit(0.0), (a, x) => a + x)))

  test("gate entry equals brute force at the gate tau") {
    val out = SparkEntry.queries("e13_range_search")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == brute(Similarity.RangeTau))
    assert(out.nonEmpty)
  }

  test("bound soundness: |exact - approx| <= eps on every pair") {
    val sk = sketch(spark.read.parquet(s"$sfDir/embeddings.parquet"))
      .select(col("vec_id"), col("embedding"), col("qx"), col("sx"), col("rx"))
    val q = sk.limit(20).select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"), col("qx").as("qy"),
      col("sx").as("sy"), col("rx").as("ry"))
    val viol = sk.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("approx", col("sx") * col("sy") * aggregate(
        zip_with(col("qx"), col("qy"), (a, b) => a * b),
        lit(0L), (a, x) => a + x).cast("double"))
      .withColumn("eps",
        col("rx") + col("ry") + col("rx") * col("ry") + lit(1e-9))
      .withColumn("exact", expr("cosine_sim(embedding, q_vec)"))
      .filter(abs(col("exact") - col("approx")) > col("eps"))
    assert(viol.isEmpty, "per-pair quantization bound violated")
  }

  test("prescreen prunes the exact-verify set by an order of magnitude") {
    val sk = sketch(spark.read.parquet(s"$sfDir/embeddings.parquet"))
      .select(col("vec_id"), col("qx"), col("sx"), col("rx"))
    val q = sk.filter(col("vec_id") < Similarity.RangeQueries)
      .select(col("vec_id").as("q_id"), col("qx").as("qy"),
        col("sx").as("sy"), col("rx").as("ry"))
    val joined = sk.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("approx", col("sx") * col("sy") * aggregate(
        zip_with(col("qx"), col("qy"), (a, b) => a * b),
        lit(0L), (a, x) => a + x).cast("double"))
      .withColumn("eps",
        col("rx") + col("ry") + col("rx") * col("ry") + lit(1e-9))
    val total = joined.count()
    val survivors = joined
      .filter(col("approx") + col("eps") >= lit(Similarity.RangeTau) - lit(1e-6))
      .count()
    assert(survivors * 10 <= total,
      s"prescreen kept $survivors of $total — not a prune")
  }

  test("completeness across taus spanning the bound margin") {
    // rebuild the cascade at each tau and compare against brute force —
    // the bound must hold regardless of where the threshold sits
    val sk = sketch(spark.read.parquet(s"$sfDir/embeddings.parquet"))
      .select(col("vec_id"), col("embedding"), col("qx"), col("sx"), col("rx"))
    val q = sk.filter(col("vec_id") < Similarity.RangeQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("qx").as("qy"), col("sx").as("sy"), col("rx").as("ry"))
    for (tau <- Seq(0.2, 0.25, 0.35, 0.4)) {
      val cascade = sk.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("approx", col("sx") * col("sy") * aggregate(
          zip_with(col("qx"), col("qy"), (a, b) => a * b),
          lit(0L), (a, x) => a + x).cast("double"))
        .withColumn("eps",
          col("rx") + col("ry") + col("rx") * col("ry") + lit(1e-9))
        .filter(col("approx") + col("eps") >= lit(tau) - lit(1e-6))
        .withColumn("sim",
          round(expr("cosine_sim(embedding, q_vec)") + lit(1e-10), 6))
        .filter(col("sim") >= tau)
        .select("q_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cascade == brute(tau), s"cascade missed answers at tau=$tau")
    }
  }
}
