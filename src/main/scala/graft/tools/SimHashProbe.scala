package graft.tools

import org.apache.spark.sql.functions._

/** Diagnostic main for d03's bucket-density profile at scale:
  *
  *   runMain graft.tools.SimHashProbe <dataDir>
  *
  * Prints, for the ACTIVE family at the dir's corpus count, the
  * bucket-row count, the bucket-size histogram tail, and the candidate
  * pair count (pre-Hamming-filter) — the quantity whose density² growth
  * is what the count ladder exists to bound. Pure read-only diagnostics;
  * not part of the driver contract.
  */
object SimHashProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: SimHashProbe <dataDir>")
    val dir = args(0)
    val s = graft.GraftSession.getOrCreate()
    val sigs = graft.sources.Tables.documents(s, dir)
      .select(col("doc_id"), expr("simhash60_md5(text)").as("simhash"))
      .persist()
    val n = sigs.count()
    val wide = n > graft.operators.Dedup.SimHashWideAt
    val (w, c) =
      if (wide) (graft.operators.Dedup.WideBlockWidth, graft.operators.Dedup.WideChoose)
      else (graft.operators.Dedup.BlockWidth, 2)
    println(s"[probe] corpus_n=$n family=${if (wide) "wide" else "narrow"}")
    val buckets = graft.operators.Dedup.simhashBuckets(sigs, w, c).persist()
    println(s"[probe] bucket_rows=${buckets.count()}")
    val dens = buckets.groupBy("tbl", "bkey").agg(count(lit(1)).as("sz")).persist()
    val stats = dens.agg(
      count(lit(1)).as("buckets"),
      max(col("sz")).as("max_sz"),
      avg(col("sz")).as("mean_sz"),
      sum(col("sz") * (col("sz") - 1) / 2).as("cand_pairs")).head
    println(s"[probe] buckets=${stats.get(0)} max_sz=${stats.get(1)} " +
      s"mean_sz=${stats.get(2)} cand_pairs=${stats.get(3)}")
    val tail = dens.filter(col("sz") >= 100)
      .groupBy().agg(count(lit(1)).as("n_hot"),
        sum(col("sz") * (col("sz") - 1) / 2).as("hot_pairs")).head
    println(s"[probe] hot(sz>=100): n=${tail.get(0)} pairs=${tail.get(1)}")
    dens.orderBy(col("sz").desc).limit(10).collect()
      .foreach(r => println(s"[probe] top tbl=${r.get(0)} bkey=${r.get(1)} sz=${r.get(2)}"))
    // the dense (smaller-radius) family's bucket profile on the same
    // corpus: the candidate-work cut its 20-bit keys + 15 tables buy
    val dBuckets = graft.operators.Dedup.simhashBuckets(sigs,
      graft.operators.Dedup.DenseBlockWidth,
      graft.operators.Dedup.DenseChoose).persist()
    println(s"[probe] dense bucket_rows=${dBuckets.count()}")
    val dDens = dBuckets.groupBy("tbl", "bkey").agg(count(lit(1)).as("sz"))
    val dStats = dDens.agg(
      count(lit(1)).as("buckets"),
      max(col("sz")).as("max_sz"),
      avg(col("sz")).as("mean_sz"),
      sum(col("sz") * (col("sz") - 1) / 2).as("cand_pairs")).head
    println(s"[probe] dense buckets=${dStats.get(0)} max_sz=${dStats.get(1)} " +
      s"mean_sz=${dStats.get(2)} cand_pairs=${dStats.get(3)}")
    // like-for-like family curve: time the full pipeline with the family
    // FORCED each way (wideAt=0 forces wide; Long.MaxValue forces narrow;
    // dense has its own forced body), so a rung switch between two dirs
    // can't masquerade as superlinearity. The wide leg is skippable — at
    // 500k docs it measured 633 s (the r7 demotion) and re-proving that
    // costs a probe session.
    val legs = Seq(
      "narrow" -> (() => graft.operators.Dedup.d03Body(s, dir, Long.MaxValue)),
      "dense" -> (() => graft.operators.Dedup.d03DenseBody(s, dir))) ++
      (if (sys.env.contains("SPARK_GRAFT_PROBE_WIDE"))
         Seq("wide" -> (() => graft.operators.Dedup.d03Body(s, dir, 0L)))
       else Nil)
    for ((label, body) <- legs) {
      val t0 = System.nanoTime()
      body().write.format("noop").mode("overwrite").save()
      println(s"[probe] d03 forced=$label sec=${(System.nanoTime() - t0) / 1e9}")
    }
    s.stop()
  }
}
