package graft

import org.scalatest.funsuite.AnyFunSuite

/** Independent ground truth for d29_boilerplate_scrub: the whole
  * operator recomputed in plain Scala on the gate corpus — span
  * hashing replaced by the spans THEMSELVES as keys (the md5-60-bit
  * fold is the engines' shared convention, pinned elsewhere; here the
  * semantics are what's under test: doc-frequency over distinct docs,
  * 8-word coverage, order-preserving rebuild).
  */
class BoilerplateScrubSpec extends AnyFunSuite with SparkFixture {

  private val GateDir = "/root/testdata/sf0.01"

  test("d29 equals a plain-Scala scrub of the gate corpus") {
    assume(new java.io.File(GateDir).isDirectory)
    val docs = graft.sources.Tables.documents(spark, GateDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(1).split("\\s+").toVector))
      .sortBy(_._1)

    // doc frequency per span (distinct docs), spans as word-seq keys
    val df = scala.collection.mutable.Map.empty[Seq[String], Set[Long]]
    for ((id, _, ws) <- docs; i <- 0 to ws.length - 8) {
      val span = ws.slice(i, i + 8)
      df(span) = df.getOrElse(span, Set.empty) + id
    }
    val boiler = df.collect {
      case (span, ids) if ids.size >= graft.operators.Dedup.BoilerMinDocs => span
    }.toSet
    assert(boiler.nonEmpty, "no boilerplate spans at gate scale; spec is vacuous")

    val expected = docs.map { case (id, text, ws) =>
      val covered = Array.fill(ws.length)(false)
      for (i <- 0 to ws.length - 8; if boiler(ws.slice(i, i + 8)); j <- i until i + 8)
        covered(j) = true
      if (!covered.contains(true))
        // untouched docs pass through VERBATIM (no re-normalization)
        (id, ws.length, 0, text)
      else {
        val kept = ws.indices.filterNot(covered).map(ws)
        (id, ws.length, ws.length - kept.length, kept.mkString(" "))
      }
    }.toSeq

    val got = SparkEntry.queries("d29_boilerplate_scrub")(spark, GateDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSeq
    assert(got == expected)
    // and the scrub did real work without nuking the corpus
    val removed = expected.map(_._3.toLong).sum
    val total = expected.map(_._2.toLong).sum
    assert(removed > 0 && removed < total / 2,
      s"removed $removed of $total words")
  }

  test("the in-row scrub against the collected boiler list equals d29") {
    // s13's machinery on a BATCH frame: the fixed-list, fully in-row
    // formulation must reproduce the distributed doc-frequency one
    // exactly when the list comes from the same corpus
    assume(new java.io.File(GateDir).isDirectory)
    val boiler = graft.operators.Dedup.boilerSpanHashes(spark, GateDir)
    assert(boiler.nonEmpty)
    val got = graft.operators.Dedup.scrubAgainst(
        graft.sources.Tables.documents(spark, GateDir).select("doc_id", "text"),
        boiler)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("d29_boilerplate_scrub")(spark, GateDir)
      .collect().map(_.toSeq).toSeq
    assert(got == batch)
  }

  test("s13's stream leg is stateless: zero state operators in progress") {
    // the intake-placement claim: the scrub is a pure per-row edit
    // against a broadcast list — nothing accumulates between batches
    val sp = spark
    import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    val boiler = graft.operators.Dedup.boilerSpanHashes(spark, GateDir)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.operators.Dedup.scrubAgainst(in.toDF().toDF("doc_id", "text"), boiler)
      .writeStream.format("memory").queryName("s13_probe")
      .outputMode("append").start()
    try {
      in.addData((1L, "just some words"), (2L, "more words here"))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        s"s13 accumulated state: ${q.lastProgress.stateOperators.map(_.operatorName).mkString(", ")}")
      assert(spark.table("s13_probe").count() == 2)
    } finally {
      q.stop()
      spark.catalog.dropTempView("s13_probe")
    }
  }
}
