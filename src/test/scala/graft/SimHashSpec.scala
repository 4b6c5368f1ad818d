package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.sources.Tables

/** SimHash (d03) correctness:
  *  - the native `simhash64` kernel is bit-identical to the explicit
  *    explode-words + 64 bit-sum-aggregate formulation it replaced;
  *  - the 28 block-pair candidate tables are COMPLETE at the operator's
  *    radius: d03's output equals exhaustive all-pairs Hamming <= radius
  *    (recall 1.0, measured — not just the pigeonhole argument).
  */
class SimHashSpec extends AnyFunSuite with SparkFixture {

  /** The pre-kernel signature formulation: explode words, 64 codegen'd
    * +1/-1 bit sums, OR the signs into a 64-bit code. Kept here as the
    * executable reference the kernel must match.
    */
  private def aggregateSimhash(dir: String) = {
    val bitSums = Array.tabulate(64)(i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
        .as(s"b$i"))
    val simhashCol = (0 until 64).map(i =>
        when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("h"))
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), simhashCol.as("simhash"))
  }

  test("simhash64 kernel matches the explode + 64-bit-sum aggregate formulation") {
    val kernel = Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr("simhash64(text)").as("k"))
    val agg = aggregateSimhash(sfDir).withColumnRenamed("simhash", "a")
    val diff = kernel.join(agg, "doc_id")
      .filter(col("k") =!= col("a"))
      .count()
    assert(diff == 0, s"$diff documents where kernel and aggregate simhash differ")
    assert(kernel.count() > 0)
  }

  /** simhash60_md5's executable reference: md5-prefix word hash via SQL
    * builtins (conv of the first 15 md5 hex chars), 60 codegen'd +1/-1
    * bit sums, OR the signs into the code.
    */
  private def aggregateSimhash60(dir: String) = {
    val bitSums = Array.tabulate(60)(i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
        .as(s"b$i"))
    val simhashCol = (0 until 60).map(i =>
        when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("w"))
      .select(col("doc_id"),
        conv(substring(md5(col("w").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), simhashCol.as("simhash"))
  }

  test("simhash60_md5 kernel matches the explode + 60-bit-sum aggregate formulation") {
    val kernel = Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr("simhash60_md5(text)").as("k"))
    val agg = aggregateSimhash60(sfDir).withColumnRenamed("simhash", "a")
    val diff = kernel.join(agg, "doc_id")
      .filter(col("k") =!= col("a"))
      .count()
    assert(diff == 0, s"$diff documents where kernel and aggregate simhash60 differ")
    assert(kernel.count() > 0)
  }

  test("d03 block-pair banding is exhaustively complete at the radius (sf0.01)") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory)
    val sigs = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("simhash60_md5(text)").as("simhash"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    // exhaustive ground truth: every pair within the radius
    val expected = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= Dedup.SimHashRadius
    } yield (sigs(i)._1, sigs(j)._1, h)).toSet
    assert(expected.nonEmpty, "testdata has no near-dup pairs at this radius; spec is vacuous")

    val got = SparkEntry.queries("d03_simhash")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val missed = expected -- got
    val spurious = got -- expected
    assert(missed.isEmpty, s"recall gap: ${missed.size} of ${expected.size} true pairs missed: ${missed.take(5)}")
    assert(spurious.isEmpty, s"${spurious.size} pairs beyond the radius emitted: ${spurious.take(5)}")
  }

  test("the dense 6-choose-2 family is exhaustively complete at radius 4 (sf0.01)") {
    // the denser-corpus escape (smaller guaranteed radius): C(6,2) = 15
    // tables of 20-bit keys — provably everything within Hamming <= 4,
    // nothing beyond it. A negative threshold makes the selector's
    // sp*n > threshold*n_s^2 always true, so d03's own plan runs the
    // dense arm.
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory)
    val sigs = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("simhash60_md5(text)").as("simhash"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val expected = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= Dedup.DenseRadius
    } yield (sigs(i)._1, sigs(j)._1, h)).toSet
    assert(expected.nonEmpty, "testdata has no pairs at radius 4; spec is vacuous")

    val got = Dedup.d03Body(spark, dir, densePairsPerDoc = -1L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val missed = expected -- got
    val spurious = got -- expected
    assert(missed.isEmpty, s"recall gap: ${missed.size} of ${expected.size} true pairs missed: ${missed.take(5)}")
    assert(spurious.isEmpty, s"${spurious.size} pairs beyond radius 4 emitted: ${spurious.take(5)}")
  }

  test("the dense family halves bucket rows against the narrow family") {
    // the two cost terms of the bucket self-join: 15 tables of rows
    // (vs 28) and 20-bit keys (vs 15/16) — the structural claim behind
    // the measured candidate cut (bench/BENCH_d03_dense_r8.json)
    assert(Dedup.blockCombos(Dedup.DenseBlockWidth, Dedup.DenseChoose).size == 15)
    assert(Dedup.DenseRadius == 4)
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory)
    val sigs = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("simhash60_md5(text)").as("simhash"))
    val n = sigs.count()
    assert(Dedup.simhashBuckets(sigs, Dedup.DenseBlockWidth, Dedup.DenseChoose).count() == 15 * n)
    assert(Dedup.simhashBuckets(sigs, Dedup.BlockWidth, 2).count() == 28 * n)
  }

  test("measured density flips the family to dense and the cut to radius 4") {
    // the r12 watch item, closed the d42 way: the dense family engages
    // by MEASUREMENT (sampled narrow-family candidate pairs), not by a
    // corpus-count proxy. Plant a replicated-clique corpus (the
    // hot-bucket pathology: 20 cliques x 100 identical copies) plus two
    // borderline rewrites sitting at Hamming 5-6 from their base — the
    // band the dense family gives up. Under the default threshold the
    // measurement must flip to dense: output == exhaustive pairs at
    // Hamming <= 4, the 5-6 band absent. With the threshold forced
    // unreachable the same corpus stays narrow: the 5-6 band present,
    // output == exhaustive pairs at Hamming <= 6. Same corpus, both
    // regimes proven — the flip is real and each side keeps its
    // exhaustive-recall guarantee.
    val sp = spark
    import sp.implicits._
    val base = "the quick brown fox jumps over the lazy dog while " +
      "seventeen analysts review quarterly parquet manifests before " +
      "the cluster rebalances its shuffle partitions at dawn"
    // precomputed offline against the md5 sign-sum construction:
    // replacing word 0 with "copper"/"nimbus" lands at Hamming 5/6
    val ham5 = "copper" + base.drop(3)
    val ham6 = "nimbus" + base.drop(3)
    val cliques = (0 until 20).flatMap { c =>
      val text = s"clique $c " + (0 until 20).map(w => s"w${c}_$w").mkString(" ")
      (0 until 100).map(r => (c * 100L + r + 1L, "planted", text))
    }
    val rows = cliques ++ Seq(
      (9001L, "planted", base), (9002L, "planted", ham5), (9003L, "planted", ham6))
    val dir = java.nio.file.Files.createTempDirectory("d03dense")
    rows.toDF("doc_id", "source", "text").write.mode("overwrite")
      .parquet(dir.resolve("documents.parquet").toString)

    val sigs = Tables.documents(spark, dir.toString)
      .select(col("doc_id"), expr("simhash60_md5(text)").as("simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    def exhaustive(radius: Int) = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= radius
    } yield (sigs(i)._1, sigs(j)._1, h)).toSet
    val exp4 = exhaustive(Dedup.DenseRadius)
    val exp6 = exhaustive(Dedup.SimHashRadius)
    assert((exp6 -- exp4).nonEmpty,
      "no pairs in the 5-6 Hamming band; the radius cut is untestable")

    def run(threshold: Long) =
      Dedup.d03Body(spark, dir.toString, threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val dense = run(Dedup.D03DensePairsPerDoc)
    assert(dense == exp4,
      s"dense flip: got ${dense.size} pairs, expected exhaustive<=4 ${exp4.size}")
    val narrow = run(Long.MaxValue)
    assert(narrow == exp6,
      s"forced narrow: got ${narrow.size} pairs, expected exhaustive<=6 ${exp6.size}")
  }

  test("the gate corpus stays on the narrow family under the measured threshold") {
    // the other side of the flip: real (non-pathological) testdata's
    // measured density sits an order under the threshold, so the gate
    // keeps the radius-6 guarantee — its output must contain 5-6 band
    // pairs (non-vacuously narrow) and equal the forced-narrow run.
    val gate = SparkEntry.queries("d03_simhash")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val forcedNarrow = Dedup.d03Body(spark, sfDir, densePairsPerDoc = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(gate == forcedNarrow,
      "the gate corpus flipped to the dense family; threshold miscalibrated")
    assert(gate.exists(_._3 > Dedup.DenseRadius),
      "gate corpus has no 5-6 band pairs; narrowness assertion is vacuous")
  }
}
