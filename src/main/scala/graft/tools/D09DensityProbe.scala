package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Similarity
import graft.sources.Tables

/** Diagnoses d09's measured wall at a given SF: the banded sign-LSH's
  * candidate-pair volume (the join's real work), the verified-pair
  * output, and the bucket-density tail. d09's scale claim is that the
  * count-laddered band width keeps candidates ~linear in n; a corpus
  * whose embedding distribution is more clustered than the ladder's
  * uniform assumption shows up here as a heavy bucket tail BEFORE it
  * shows up as a mystery wall regression in the ladder.
  *
  * On a ScaleData-replicated corpus, pass the SOURCE stride (source
  * max vec_id + 1) to split verified pairs into in-copy vs cross-copy:
  * in-copy pairs scale linearly with the factor by construction, while
  * cross-copy pairs are the random-cosine tail of the orthogonal
  * per-copy transforms — quadratic in the factor, a property of the
  * REPLICATED corpus, not of any real one (a real corpus's near-dup
  * density per doc is ~constant, which is the in-copy component).
  *
  * Prints one JSON line and writes `bench/BENCH_d09_density_<tag>.json`.
  *
  * Usage: runMain graft.tools.D09DensityProbe <sfDir> <tag> [srcStride]
  */
object D09DensityProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val tag = if (args.length > 1) args(1) else "last"
    val stride = if (args.length > 2) Some(args(2).toLong) else None
    val s = GraftSession.getOrCreate()

    val emb = Tables.embeddings(s, sfDir)
    val n = emb.count()
    val bands = graft.Caching.persistTracked("d09probe_bands",
      Similarity.bandedCodes(emb))
    val bits = bands.select(max("bits")).head().getInt(0)
    // per-(band, bcode) bucket sizes: candidate volume = sum C(sz, 2)
    val buckets = bands.groupBy("band", "bcode")
      .agg(count(lit(1)).as("sz"))
    val stats = buckets.agg(
      sum((col("sz") * (col("sz") - 1) / 2).cast("long")).as("cand_pairs"),
      max("sz").as("max_bucket"),
      count(lit(1)).as("n_buckets")).head()
    val (cand, maxB, nBuckets) =
      (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    val pairs = graft.Caching.persistTracked("d09probe_pairs",
      Similarity.embedDupPairs(s, sfDir))
    val out = pairs.count()
    val copySplit = stride.map { k =>
      val inCopy = pairs
        .filter(floor(col("a_id") / lit(k)) === floor(col("b_id") / lit(k)))
        .count()
      s""","in_copy_pairs":$inCopy,"cross_copy_pairs":${out - inCopy}"""
    }.getOrElse("")

    val json =
      s"""{"probe":"d09_density","sf_dir":"$sfDir","n":$n,"bits":$bits,""" +
        s""""n_buckets":$nBuckets,"max_bucket":$maxB,""" +
        s""""cand_pairs":$cand,"verified_pairs":$out$copySplit}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"bench/BENCH_d09_density_$tag.json"), json)
    s.stop()
  }
}
