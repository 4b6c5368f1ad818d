package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Writes the `explain("formatted")` output of named plans to files (the
  * optimization-round plan evidence under plans/rNN/). A target is a gate
  * entry of [[graft.SparkEntry.queries]] or `s10_verdicts`: the s10/d24
  * streaming verdict probe (Dedup.incrDedupStreamVerdicts on its batch
  * parity twin) — the plan the gate's streamed form runs per micro-batch,
  * which the s10 entry's own DataFrame (its sink table) does not show.
  * Read-only diagnostics; not part of the driver contract.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <target> [target...]
  *   e.g. runMain graft.tools.PlanDump /root/testdata/sf0.01 plans/r16 before p02_incr_corpus
  */
object PlanDump {
  private val verdictPlan: (SparkSession, String) => DataFrame = (s, dir) => {
    val (_, _, fpIdx, bandIdx, shIdx) =
      graft.operators.Dedup.d24Artifacts(s, dir, "bandplan")
    graft.operators.Dedup.incrDedupStreamVerdicts(
      graft.sources.Tables.documents(s, dir).select("doc_id", "text"),
      fpIdx, bandIdx, shIdx)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val s = graft.GraftSession.getOrCreate()
    val targets = graft.SparkEntry.queries + ("s10_verdicts" -> verdictPlan)
    new java.io.File(outDir).mkdirs()
    args.drop(3).foreach { name =>
      val plan = targets(name)(s, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      val f = new java.io.File(outDir, s"${name}_$suffix.txt")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.println(plan) finally w.close()
      println(s"[plandump] wrote ${f.getPath} (${plan.length} chars)")
    }
    s.stop()
  }
}
