package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** d09 banded sign-LSH: the density-scaling law that keeps candidate work
  * linear in the corpus, the Spark/DuckDB width-ladder agreement, and the
  * measured recall against the exact all-pairs baseline.
  */
class EmbedDupSpec extends AnyFunSuite with SparkFixture {

  test("band width keeps mean bucket density bounded at every scale") {
    // the law the operator's scale curve rests on: until the MaxBandBits
    // cap, n / 2^bits <= TargetBucket — so per-bucket pair work is
    // O(TargetBucket^2) and total candidate work is O(n * TargetBucket)
    for (n <- Seq(1L, 100L, 500L, 2000L, 20000L, 200000L, 2000000L)) {
      val bits = Similarity.bandBits(n)
      assert(bits >= Similarity.MinBandBits && bits <= Similarity.MaxBandBits)
      if (bits < Similarity.MaxBandBits)
        assert(n <= (Similarity.TargetBucket << bits),
          s"density above target at n=$n, bits=$bits")
      if (bits > Similarity.MinBandBits)
        assert(n > (Similarity.TargetBucket << (bits - 1)),
          s"over-wide code at n=$n, bits=$bits (recall paid for nothing)")
    }
    // beyond the cap the width clamps (density grows again — documented
    // as the raise-MaxBandBits knob, not a silent behavior change)
    assert(Similarity.bandBits(1000L * 1000 * 1000) == Similarity.MaxBandBits)
  }

  test("the SQL width ladder agrees with the Scala twin") {
    val sp = spark
    import sp.implicits._
    val ns = Seq(1L, 31L, 32L, 512L, 513L, 2000L, 2048L, 2049L,
      20000L, 65536L, 200000L, 2097152L, 2097153L, 4000000L)
    val fromSql = ns.toDF("corpus_n")
      .selectExpr("corpus_n", Similarity.bandBitsCase("corpus_n") + " AS bits")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    ns.foreach(n => assert(fromSql(n) == Similarity.bandBits(n),
      s"ladder disagrees at n=$n"))
  }

  test("band 0 extends the r4 fixed family (plane prefix consistency)") {
    // planes(k) is prefix-consistent by construction; the masked band-0
    // code at bits=4 must equal the old 4-plane code, so the r4
    // bucketing is a strict subset of what the banded form explores
    val old4 = graft.expressions.LshKernels.planes(4)
    val b0 = Similarity.bandPlanes(0).take(4)
    assert(old4.zip(b0).forall { case (a, b) => a.sameElements(b) })
  }

  test("recall vs exact all-pairs at the 0.35 threshold (sf0.001)") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
    // exact baseline: tiny corpus, all-pairs is affordable IN THE SPEC
    // (the operator itself never does this)
    val truth = emb.toDF("a_id", "a_vec")
      .join(emb.toDF("b_id", "b_vec"), col("a_id") < col("b_id"))
      .filter(round(expr("cosine_sim(a_vec, b_vec)") + lit(1e-10), 6) >= 0.35)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SparkEntry.queries("d09_embed_dup")(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), "d09 emitted a pair below the threshold")
    val recall = got.size.toDouble / truth.size
    info(f"d09 recall at 0.35 = $recall%.2f (${got.size}/${truth.size})")
    // measured 0.49 on the synthetic corpus, whose "near dups" all sit in
    // [0.35, 0.6) — the adversarial regime for sign-LSH (P[bit agrees] =
    // 0.61 at sim 0.35; genuinely high-sim pairs are caught with prob
    // 1-(1-p^bits)^4 -> ~1). Floor sits below the measurement so data
    // regeneration doesn't flip the spec, while a broken band join does.
    assert(recall >= 0.35, f"recall $recall%.2f below floor")
  }
}
