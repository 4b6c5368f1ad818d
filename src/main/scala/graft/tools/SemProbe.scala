package graft.tools

import org.apache.spark.sql.functions._

/** Diagnostic main for the semantic-dedup cost split at scale:
  *
  *   runMain graft.tools.SemProbe <dataDir> [e04L|e08]
  *
  * Times the composite assignment alone (for e08 that includes Lloyd
  * training) vs the full operator, and prints the composite-cell
  * histogram tail — separating "assignment scan got expensive" from
  * "cell skew made the pair join quadratic". Read-only diagnostics; not
  * driver contract.
  */
object SemProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1 && args.length <= 2,
      "usage: SemProbe <dataDir> [e04L|e08]")
    val dir = args(0)
    val mode = if (args.length == 2) args(1) else "e04L"
    val s = graft.GraftSession.getOrCreate()
    val emb = graft.sources.Tables.embeddings(s, dir)

    var t0 = System.nanoTime()
    val assigned = mode match {
      case "e08" => graft.operators.Similarity.e08Assigned(s, emb)
      case _ => graft.operators.Similarity
        .e04LargeAssigned(emb, graft.operators.Similarity.SemLevel2At,
          emb.count())
    }
    assigned.write.format("noop").mode("overwrite").save()
    println(s"[probe] assignment sec=${(System.nanoTime() - t0) / 1e9}")

    val dens = assigned.groupBy("cell", "cell2").agg(count(lit(1)).as("sz"))
      .persist()
    val stats = dens.agg(count(lit(1)).as("cells"), max("sz"), avg("sz"),
      sum(expr("sz * (sz - 1) / 2")).as("pairs")).head
    println(s"[probe] cells=${stats.get(0)} max_sz=${stats.get(1)} " +
      s"mean_sz=${stats.get(2)} in_cell_pairs=${stats.get(3)}")
    dens.orderBy(col("sz").desc).limit(10).collect()
      .foreach(r => println(s"[probe] top cell=(${r.get(0)},${r.get(1)}) sz=${r.get(2)}"))

    t0 = System.nanoTime()
    (mode match {
      case "e08" => graft.operators.Similarity.e08BodyFrom(s, emb)
      case _ => graft.operators.Similarity.e04LargeBody(s, dir)
    }).write.format("noop").mode("overwrite").save()
    println(s"[probe] full op (assignment cached) sec=${(System.nanoTime() - t0) / 1e9}")
    s.stop()
  }
}
