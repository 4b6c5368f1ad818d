package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.Pipeline
import graft.perfbench.Main.Checks

/** p02's incremental corpus build, streamed as s20 streams it, in
  * lake_trickle's set-up. `build` builds the base corpus
  * (`Pipeline.p02Build1`) over the half of `documents` that the seed picks,
  * stages the other half as one feed file, starts a file-source stream
  * (`maxFilesPerTrigger` 1, `foreachBatch` → `Pipeline.p02Tick`), lands
  * the file and stops the stream once its micro-batch has committed. The
  * lake then covers every document, and check.py compares it with the
  * stored DuckDB full rebuild. A tick costs 15-25 s on 4 cores whatever
  * its size and varies by a third from run to run, so it is timed as part
  * of set-up, not as a timed op. */
final class CorpusFeed(s: SparkSession, tr: Tracer, data: String, work: String,
    out: String, seed: Long) {

  private val base = s"$work/corpus"
  private val staged = Paths.get(s"$work/staged")
  private val feedDir = Paths.get(s"$work/feed")
  private val ticksDone = new AtomicInteger()

  def build(): Unit = {
    val docs = graft.sources.Tables.documents(s, data)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val (baseIds, feedIds) = new scala.util.Random(seed).shuffle(ids).splitAt(ids.size / 2)
    tr.span("operators.Pipeline.base_build") {
      Pipeline.p02Build1(s, docs.filter(col("doc_id").isin(baseIds: _*)), base)
    }
    docs.filter(col("doc_id").isin(feedIds: _*)).coalesce(1).write.parquet(staged.toString)
    Files.createDirectories(feedDir)
    val q = s.readStream.schema(docs.schema).option("maxFilesPerTrigger", "1")
      .parquet(feedDir.toString)
      .writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tr.span("operators.Pipeline.tick") { Pipeline.p02Tick(s, base, batch, batchId) }
        ticksDone.incrementAndGet()
        ()
      }
      .start()
    try {
      val ls = Files.list(staged)
      val part = try ls.iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        finally ls.close()
      Files.move(part, feedDir.resolve("feed.parquet"), StandardCopyOption.ATOMIC_MOVE)
      // processAllAvailable can return on an idle trigger that listed the
      // feed before the file landed, so it is repeated until the batch ran
      do q.processAllAvailable() while (ticksDone.get < 1)
    } finally q.stop()
  }

  def check(c: Checks): Unit = {
    c("corpus_one_batch_per_feed_file", ticksDone.get == 1,
      s"${ticksDone.get} micro-batches for one feed file")
    // the final lake, for check.py to compare with the stored DuckDB rebuild
    s.read.parquet(s"$base/lake")
      .select("doc_id", "source", "split", "n_tokens", "shard", "bin_id", "bin_offset")
      .coalesce(1).write.parquet(s"$out/results/corpus_lake")
    Files.writeString(Paths.get(s"$out/p01.sql"), Pipeline.duckP01Sql)
  }

  /** The tick's Spark jobs and its micro-batch's phase times (batch 0). */
  def layerMetrics(): Map[String, Double] = {
    val p = Option(tr.progress.get(0L)).getOrElse(Map.empty[String, Long])
    def ms(k: String) = p.getOrElse(k, 0L) / 1e3
    Map(
      "operators.Pipeline.tick_jobs" -> tr.allSpans.filter(_.name == "operators.Pipeline.tick")
        .map(sp => tr.jobsIn(sp.startNs, sp.endNs)).sum.toDouble,
      "streaming.batch_overhead_s" -> (ms("triggerExecution") - ms("addBatch")),
      "streaming.wal_s" -> (ms("walCommit") + ms("commitOffsets")))
  }
}

/** Prints `Pipeline.duckP01Sql`, the DuckDB full rebuild the corpus lake's
  * stored expectation is computed with (see expect.py). */
object OracleSql {
  def main(args: Array[String]): Unit = print(Pipeline.duckP01Sql)
}
