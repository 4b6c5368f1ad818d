package graft

import org.scalatest.funsuite.AnyFunSuite

/** IVF ANN (e03): measured recall against the exact brute-force baseline,
  * plus the structural properties that make it an ANN index at all.
  */
class AnnRecallSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.01"

  private def topIds(name: String): Map[Long, Set[Long]] =
    SparkEntry.queries(name)(spark, dir)
      .select("q_id", "neighbor_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  test("e03 IVF recall@10 vs exact e01 is high at sf0.01") {
    assume(new java.io.File(dir).isDirectory)
    val exact = topIds("e01_knn_brute")
    val ivf = topIds("e03_ann_ivf")
    assert(ivf.keySet == exact.keySet, "IVF lost whole queries")
    val recalls = exact.map { case (q, truth) =>
      val r = (truth & ivf(q)).size.toDouble / truth.size
      info(f"q$q recall@10 = $r%.2f")
      r
    }
    val mean = recalls.sum / recalls.size
    val probePct = graft.operators.Similarity.NProbe.toDouble /
      graft.operators.Similarity.NumCells * 100
    info(f"mean recall@10 = $mean%.2f (probing $probePct%.0f%% of cells)")
    // measured on the near-uniform synthetic corpus with the 2-iteration
    // quantizer and top-2 posting: mean 0.96, worst query 0.90 — floors
    // sit BELOW the measurements (0.85 / 0.7) so float-ulp drift in the
    // distributed centroid means or regenerated data doesn't flip the
    // spec, while a broken quantizer or lost posting still does
    assert(mean >= 0.85, f"mean IVF recall $mean%.2f below floor 0.85")
    recalls.foreach(r => assert(r >= 0.7, f"a query fell to recall $r%.2f"))
  }

  test("e02 banded multiprobe LSH recall@10 vs exact e01 is high at sf0.01") {
    assume(new java.io.File(dir).isDirectory)
    val exact = topIds("e01_knn_brute")
    val lsh = topIds("e02_ann_lsh")
    assert(lsh.keySet == exact.keySet, "LSH lost whole queries")
    val recalls = exact.map { case (q, truth) =>
      val r = (truth & lsh(q)).size.toDouble / truth.size
      info(f"q$q recall@10 = $r%.2f")
      r
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@10 = $mean%.2f")
    // the density ladder keeps per-band collision probability roughly
    // scale-free and Hamming-1 multiprobe lifts it (p^bits ->
    // p^bits + bits*p^(bits-1)*(1-p), OR'd over NumDupBands bands), so
    // these floors are meant to HOLD ACROSS SFs, not just at the gate
    // SF — bench/BENCH_ann_tiers_r*.json records it at sf10 (the r12
    // static-code form measured 0.02 there; floors below would have
    // caught it)
    assert(mean >= 0.6, f"mean LSH recall $mean%.2f below floor 0.6")
    recalls.foreach(r => assert(r >= 0.4, f"a query fell to recall $r%.2f"))
  }

  test("e03 returns exactly k ranked rows per query, self excluded") {
    assume(new java.io.File(dir).isDirectory)
    val rows = SparkEntry.queries("e03_ann_ivf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // all five queries present — a wholesale-dropped query must fail here,
    // not slip through an empty groupBy
    assert(rows.map(_._1).toSet == (0L until 5L).toSet,
      s"queries missing from output: ${(0L until 5L).toSet -- rows.map(_._1).toSet}")
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length == 10, s"q$q returned ${rs.length} rows")
      assert(rs.map(_._2).sorted.toSeq == (1 to 10), s"q$q ranks not 1..10")
      assert(!rs.exists(_._3 == q), s"q$q returned itself")
    }
  }
}
