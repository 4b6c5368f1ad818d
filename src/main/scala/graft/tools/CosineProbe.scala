package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Diagnostic main for d42's stage costs at scale:
  *
  *   runMain graft.tools.CosineProbe <dataDir>
  *
  * Times the postings build and the self-join verify, and prints the
  * volumes that drive them: posting count, sum(df^2) (the exact join
  * volume), max df, and the hot-set size (df > HotDf — the sound-drop
  * rule's domain). Design record: the All-Pairs prefix-filter +
  * pairwise-verify form measured 69 s of verify at sf10 on 6.6M
  * candidates (junk pairs sharing ONE rare feature each paid a full
  * doc-length explode); this self-join form pays one row per
  * co-occurrence — 27 s — and sum(df^2) measures ~11x postings at
  * both sf1 and sf10 (max df 25), i.e. linear on this corpus. Pure
  * read-only diagnostics; not part of the driver contract.
  */
object CosineProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: CosineProbe <dataDir>")
    val d = args(0)
    val s = graft.GraftSession.getOrCreate()
    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $tag%-12s ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }
    val t = 0.8
    val docs = graft.sources.Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(expr("md5_span3_hashes(text)")).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("h").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val wr = tf.join(dfq, "h").crossJoin(broadcast(n))
      .withColumn("wr", (col("tf") * col("n_docs")).cast("double") / col("df"))
    val nrm = wr.groupBy("doc_id")
      .agg(sqrt(sum(round(col("wr") * col("wr") + lit(1e-8), 4)
                      .cast(DecimalType(38, 4))).cast("double")).as("nrm"))
    val w = wr.join(nrm, "doc_id")
      .select(col("doc_id"), col("h"), col("df"), (col("wr") / col("nrm")).as("w"))
      .persist()
    timed("postings")(println(s"[probe]   postings=${w.count()}"))
    val vol = dfq.agg(sum(col("df") * col("df")).as("sumdf2"),
                      max(col("df")).as("maxdf"),
                      count(when(col("df") > graft.operators.TextAnalysis.HotDf,
                                 1)).as("hot")).collect()(0)
    println(s"[probe]   sumdf2=${vol.getLong(0)} maxdf=${vol.getLong(1)} hot=${vol.getLong(2)}")
    val out = timed("verify") {
      val wj = w.select(col("doc_id"), col("h"), col("w"))
      wj.toDF("doc_a", "h", "wa")
        .join(wj.toDF("doc_b", "h", "wb"), "h")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(round(sum(round(col("wa") * col("wb") + lit(1e-12), 12)
                         .cast(DecimalType(38, 12))).cast("double") + lit(1e-8), 4).as("cos"))
        .filter(col("cos") >= t).count()
    }
    println(s"[probe] pairs=$out")
  }
}
