package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** s10 (streaming incremental dedup) correctness scaffolding:
  *
  *  - the per-row band-key computation (Dedup.bandArray — required
  *    because streaming allows one stateful aggregation and the batch
  *    formulation spends it on the minhash groupBy) must emit
  *    BIT-IDENTICAL (band_id, band_sig) keys to the batch
  *    minhashBands, else the stream probes a different LSH family than
  *    the index was built with;
  *  - the drained s10 stream must produce exactly d24's verdict table —
  *    the incremental-batch and incremental-stream answers to "is this
  *    arriving doc a dup" may never diverge.
  */
class StreamIncrDedupSpec extends AnyFunSuite with SparkFixture {

  test("per-row bandArray equals the batch minhashBands family bit-for-bit") {
    val shing = graft.sources.Tables.documents(spark, sfDir)
      .withColumn("mh", expr("md5_shingle3_hashes(text)"))
      .filter(size(col("mh")) > 0)
      .select("doc_id", "mh")
    val batch = Dedup.minhashBands(shing)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val perRow = shing
      .select(col("doc_id"), explode(Dedup.bandArray(col("mh"))).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_sig"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    assert(perRow == batch,
      s"families diverge: onlyBatch=${(batch -- perRow).take(3)} " +
        s"onlyPerRow=${(perRow -- batch).take(3)}")
  }

  test("s11 streamed quality verdicts equal d21's batch verdicts row-for-row") {
    val s11 = SparkEntry.queries("s11_stream_quality_filter")(spark, sfDir)
      .collect().map(_.toSeq)
    val d21 = SparkEntry.queries("d21_quality_filter")(spark, sfDir)
      .collect().map(_.toSeq)
    assert(s11.nonEmpty && s11.toSeq == d21.toSeq,
      s"stream and batch quality verdicts diverge (${s11.length} vs ${d21.length})")
  }

  test("s12 streamed mixture keeps exactly d17's accepted docs") {
    val s12 = SparkEntry.queries("s12_stream_mixture")(spark, sfDir)
      .collect().map(_.toSeq)
    val d17 = SparkEntry.queries("d17_source_mixture")(spark, sfDir)
      .collect().map(_.toSeq)
    assert(s12.nonEmpty && s12.toSeq == d17.toSeq,
      s"stream and batch mixture diverge (${s12.length} vs ${d17.length})")
  }

  test("s10 streamed verdicts equal d24's batch verdicts row-for-row") {
    val s10 = SparkEntry.queries("s10_stream_incr_dedup")(spark, sfDir)
      .collect().map(_.toSeq)
    val d24 = SparkEntry.queries("d24_incremental_dedup")(spark, sfDir)
      .collect().map(_.toSeq)
    assert(s10.nonEmpty, "no streamed verdicts; spec is vacuous")
    assert(s10.toSeq == d24.toSeq,
      s"stream and batch verdicts diverge: s10=${s10.take(2)} d24=${d24.take(2)}")
  }
}
