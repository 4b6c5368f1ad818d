package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Dedup
import graft.sources.Tables

/** Measures the decontamination probe forms against each other at a
  * given SF: d16's broadcast-exact join, the no-prefilter shuffled
  * exact join (the fallback d30 replaces once the bench side outgrows
  * broadcast), and d30's bloom-prefiltered shuffle join — plus the
  * prefilter's measured selectivity (bloom-passed vs total training
  * shingles), which is the quantity that shrinks the verify join's
  * probe side at 100 TB. Prints one JSON line and writes it to
  * `bench/BENCH_bloom_probe_<tag>.json`.
  *
  * Usage: runMain graft.tools.BloomProbe <sfDir> <tag>
  */
object BloomProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val tag = if (args.length > 1) args(1) else "last"
    val s = GraftSession.getOrCreate()

    val docs = Tables.documents(s, sfDir)
      .withColumn("split", Dedup.splitOf(Dedup.splitBucket(col("doc_id"))))
      .withColumn("mh", expr("md5_shingle3_hashes(text)"))
      .filter(size(col("mh")) > 0)
    val bench = docs.filter(col("split") === "test")
      .select(explode(col("mh")).as("h")).distinct()
    val train = docs.filter(col("split") === "train")
      .select(col("doc_id"), size(col("mh")).cast("bigint").as("n_shingles"),
              explode(col("mh")).as("h"))

    // model build outside the timers (the lake premise: built once)
    val nBench = bench.count()
    val bloom = bench.stat.bloomFilter("h", math.max(1L, nBench), 0.01)
    val mightContain =
      graft.expressions.GraftFunctions.bloomContainsLong(col("h"), bloom)

    val nTrainShingles = train.count()
    val bloomPassed = train.filter(mightContain).count()
    val trueHits = train.join(bench, Seq("h"), "left_semi").count()

    def verdicts(probe: org.apache.spark.sql.DataFrame,
        benchSide: org.apache.spark.sql.DataFrame) =
      probe
        .join(benchSide, Seq("h"), "inner")
        .groupBy("doc_id", "n_shingles")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared").cast("double") / col("n_shingles") >= 0.2)

    def time(body: => Unit): Double = {
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.sorted
      reps(1) // median
    }
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warm code paths once
    run(verdicts(train, broadcast(bench)))
    val viaBroadcast = time { run(verdicts(train, broadcast(bench))) }
    val Thresh = "spark.sql.autoBroadcastJoinThreshold"
    val before = s.conf.get(Thresh)
    s.conf.set(Thresh, "-1")
    val (viaShuffle, viaBloom) =
      try {
        (time { run(verdicts(train, bench.hint("shuffle_hash"))) },
         time { run(verdicts(train.filter(mightContain),
           bench.hint("shuffle_hash"))) })
      } finally s.conf.set(Thresh, before)

    val json =
      f"""{"sf":"$sfDir","n_bench_shingles":$nBench,"n_train_shingles":$nTrainShingles,"true_hits":$trueHits,"bloom_passed":$bloomPassed,"broadcast_exact_sec":$viaBroadcast%.3f,"shuffle_exact_sec":$viaShuffle%.3f,"bloom_shuffle_sec":$viaBloom%.3f}"""
    val f = new java.io.File(s"bench/BENCH_bloom_probe_$tag.json")
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(json) finally w.close()
    s.stop()
    println(json)
  }
}
