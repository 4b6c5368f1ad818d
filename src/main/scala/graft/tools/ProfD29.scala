package graft.tools
import org.apache.spark.sql.functions._
object ProfD29 {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.getOrCreate()
    val d = "/tmp/graft_sf10"
    var t0 = System.nanoTime()
    val w = graft.Caching.persistTracked("p_w", graft.sources.Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), "\\s+").as("ws"), col("text")))
    println(s"[p] w_rows=${w.count()} sec=${(System.nanoTime()-t0)/1e9}")
    t0 = System.nanoTime()
    val ex = graft.Caching.persistTracked("p_ex", w
      .select(col("doc_id"), posexplode(expr("md5_span8_hashes(text)")).as(Seq("sp", "h"))))
    println(s"[p] ex_rows=${ex.count()} sec=${(System.nanoTime()-t0)/1e9}")
    t0 = System.nanoTime()
    val boiler = ex.groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= graft.operators.Dedup.BoilerMinDocs).select("h")
    val hits = graft.Caching.persistTracked("p_hits", ex.join(boiler, "h")
      .groupBy("doc_id").agg(collect_set(col("sp")).as("sps")))
    println(s"[p] hits_rows=${hits.count()} sec=${(System.nanoTime()-t0)/1e9}")
    t0 = System.nanoTime()
    w.join(hits, Seq("doc_id"), "left")
      .withColumn("cov", expr("array_distinct(flatten(transform(coalesce(sps, CAST(array() AS array<int>)), s -> sequence(s, s + 7))))"))
      .withColumn("kept", expr("filter(transform(ws, (wd, i) -> named_struct('wd', wd, 'c', array_contains(cov, i))), x -> NOT x.c)"))
      .select(col("doc_id"), size(col("ws")).as("n_words"),
              (size(col("ws")) - size(col("kept"))).as("n_removed"),
              expr("concat_ws(' ', transform(kept, x -> x.wd))").as("clean_text"))
      .orderBy("doc_id")
      .write.format("noop").mode("overwrite").save()
    println(s"[p] final sec=${(System.nanoTime()-t0)/1e9}")
    s.stop()
  }
}
