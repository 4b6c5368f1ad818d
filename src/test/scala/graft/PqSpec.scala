package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** e11_pq_search — PQ/ADC quality and identity: measured recall@10
  * against exact brute force (e01), the ADC score proven to BE the
  * reconstructed-centroid cosine (bit-exact Scala replay of table
  * lookups vs the plan's output), and train-once reuse (the second
  * invocation must run zero Lloyd jobs).
  */
class PqSpec extends AnyFunSuite with SparkFixture {

  private def topByQuery(name: String): Map[Long, Seq[Long]] =
    SparkEntry.queries(name)(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).map { case (q, rows) =>
        q -> rows.sortBy(_._2).map(_._3).toSeq }

  test("PQ recall@10 vs exact e01 at sf0.01") {
    val exact = topByQuery("e01_knn_brute")
    val pq = topByQuery("e11_pq_search")
    val recalls = exact.map { case (q, truth) =>
      val r = (truth.toSet & pq(q).toSet).size.toDouble / truth.size
      info(f"q$q recall@10 = $r%.2f")
      r
    }.toSeq
    val mean = recalls.sum / recalls.size
    info(f"mean recall@10 = $mean%.2f (16-byte codes + exact re-rank of 50)")
    // Measured on the driver's NEAR-UNIFORM synthetic embeddings — the
    // adversarial case for a coarse code (nothing clusters, so each
    // centroid carries direction only; ADC alone measured 0.14 at M=4).
    // With M=16 codes + exact re-rank of the top-50 shortlist: mean
    // 0.88, worst query 0.70. Floors pin that with slack; real
    // clustered corpora sit higher.
    assert(mean >= 0.75, f"mean PQ recall $mean%.2f below floor 0.75")
    recalls.foreach(r => assert(r >= 0.5, f"a query fell to recall $r%.2f"))
  }

  test("ADC scores are the reconstructed-centroid cosine; re-rank exact") {
    val embDF = graft.sources.Tables.embeddings(spark, sfDir)
    val m = Similarity.pqModelMemo(sfDir)(Similarity.pqTrain(embDF))
    val codes = Similarity.pqEncode(m, embDF).collect()
      .map(r => r.getLong(0) -> (0 until m.m).map(i => r.getInt(i + 1)))
      .toMap
    val vecs = embDF.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qVecs = vecs.filter(_._1 < Similarity.NumQueries)

    def round6(raw: Double): Double = java.math.BigDecimal.valueOf(raw)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // Σ_m dot(q_m, c_m[code_m]) / (|q| · sqrt(Σ_m |c_m[code_m]|²)) with
    // the plan's exact FP association: per-subspace ascending folds,
    // then a left fold over the M partial values
    def adc(q: Long, n: Long): Double = {
      val qv = qVecs(q); val cs = codes(n)
      val dot = (0 until m.m).map { i =>
        val c = m.books(i)(cs(i))
        var acc = 0.0
        for (j <- 0 until m.sub) acc += c(j).toDouble * qv(i * m.sub + j)
        acc
      }.sum
      val n2 = (0 until m.m).map(i =>
        m.books(i)(cs(i)).map(x => x.toDouble * x).sum).sum
      val qn = math.sqrt(qVecs(q).foldLeft(0.0)((a, x) => a + x.toDouble * x))
      round6(dot / (qn * math.sqrt(math.max(n2, 1e-300))) + 1e-10)
    }
    // the codegen'd cosine kernel's fold: one ascending pass, dot/na/nb
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      round6(dot / (math.sqrt(na) * math.sqrt(nb)) + 1e-10)
    }

    // stage 1: the plan's shortlist must be the Scala ADC replay's
    // top-PqShortlist, scores bit-equal (ties break score desc, id asc
    // — TopKBy's ordering, the one e01's oracle hash-pins)
    val queries = embDF.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val gotShort = Similarity.pqShortlist(spark, m,
        Similarity.pqEncode(m, embDF), queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(t => t._2 -> t._3) }
    for ((q, got) <- gotShort) {
      val expect = vecs.keys.filter(_ != q).toSeq
        .map(n => n -> adc(q, n))
        .sortBy { case (n, s) => (-s, n) }
        .take(Similarity.pqShortlistSize(m.nVecs))
      assert(got.toSeq.sortBy { case (n, s) => (-s, n) } == expect,
        s"q$q: plan shortlist diverged from the ADC replay")
    }

    // stage 2: emitted sims are EXACT cosines of shortlist members
    val got = SparkEntry.queries("e11_pq_search")(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (q, n, sim) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      assert(gotShort(q).exists(_._1 == n),
        s"(q=$q, n=$n): emitted neighbor not in the ADC shortlist")
      assert(sim == cosine(vecs(n), qVecs(q)),
        s"(q=$q, n=$n): re-ranked sim is not the exact cosine")
    }
  }

  test("the PQ model trains once per corpus (memoized, zero Lloyd reuse)") {
    SparkEntry.queries("e11_pq_search")(spark, sfDir).count()
    val before = Similarity.lloydRuns.get()
    SparkEntry.queries("e11_pq_search")(spark, sfDir).count()
    assert(Similarity.lloydRuns.get() == before,
      "a second e11 invocation must not retrain the codebooks")
  }
}
