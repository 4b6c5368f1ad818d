package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** MinHash+LSH (d02) recall, measured against exhaustive ground truth.
  *
  * Ground truth: exact all-pairs Jaccard over the same 3-word-shingle hash
  * sets the operator uses (collected once at sf0.01 and computed in plain
  * Scala — the corpus is small enough to brute-force in a test, which is
  * exactly why the measurement lives here and not in the operator).
  *
  * The 8-band x 4-row banding has candidate probability
  * p(J) = 1 - (1 - J^4)^8. The spec asserts measured recall against that
  * S-curve with a sampling margin, plus hard floors at the high end where
  * the curve saturates (p(0.8) = 0.985, p(0.9) = 0.9998).
  */
class MinHashRecallSpec extends AnyFunSuite with SparkFixture {

  test("d02 banding recall matches the 8x4 S-curve on exhaustive pairs (sf0.01)") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("md5_shingle3_hashes(text)").as("sh"))
      .filter(size(col("sh")) > 0)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
      .sortBy(_._1)

    // exhaustive exact Jaccard over every pair
    val truth = (for {
      i <- docs.indices.iterator
      j <- (i + 1) until docs.length
      inter = (docs(i)._2 & docs(j)._2).size
      if inter > 0
      jac = inter.toDouble / (docs(i)._2 | docs(j)._2).size
      if jac >= 0.3 // the operator's output threshold
    } yield ((docs(i)._1, docs(j)._1), jac)).toMap
    assert(truth.nonEmpty, "no true near-dup pairs at sf0.01; spec is vacuous")

    val got = SparkEntry.queries("d02_minhash_lsh")(spark, dir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    def recallAbove(t: Double): (Int, Int, Double) = {
      val pairs = truth.filter(_._2 >= t)
      val hit = pairs.keys.count(got.contains)
      (hit, pairs.size, if (pairs.isEmpty) 1.0 else hit.toDouble / pairs.size)
    }
    def sCurve(j: Double): Double = 1.0 - math.pow(1.0 - math.pow(j, 4), 8)

    // expected recall over the measured pair population, from the S-curve
    val expAll = truth.values.map(sCurve).sum / truth.size
    val (hitAll, nAll, recAll) = recallAbove(0.3)
    info(f"pairs(J>=0.3)=$nAll measured_recall=$recAll%.3f s_curve_expected=$expAll%.3f")
    assert(recAll >= expAll - 0.1,
      f"recall $recAll%.3f more than 0.1 below S-curve expectation $expAll%.3f ($hitAll/$nAll)")

    val (h8, n8, rec8) = recallAbove(0.8)
    info(f"pairs(J>=0.8)=$n8 measured_recall=$rec8%.3f (curve: 0.985)")
    if (n8 > 0) assert(rec8 >= 0.9, f"high-J recall $rec8%.3f < 0.9 ($h8/$n8)")

    val (h5, n5, rec5) = recallAbove(0.5)
    info(f"pairs(J>=0.5)=$n5 measured_recall=$rec5%.3f")
    val exp5 = { val p = truth.filter(_._2 >= 0.5); p.values.map(sCurve).sum / math.max(1, p.size) }
    if (n5 > 0) assert(rec5 >= exp5 - 0.1,
      f"J>=0.5 recall $rec5%.3f more than 0.1 below expectation $exp5%.3f ($h5/$n5)")

    // precision sanity: every emitted pair is a true pair at the threshold
    // (the operator verifies candidates with exact Jaccard, so this is 1.0)
    val spurious = got.filterNot(truth.contains)
    assert(spurious.isEmpty, s"${spurious.size} emitted pairs below the exact threshold")
  }
}
