package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape checks — the properties that make these plans hold
  * at 100 TB (broadcasts, scan pushdown, partial aggregation) are asserted
  * so a regression shows up as a test failure, not a slow cluster.
  */
class PlanSpec extends AnyFunSuite with SparkFixture {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q03 fact-dim join broadcasts the dimension (no lineitem shuffle)") {
    assert(planOf("q03_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("q04 five-way join broadcasts every dimension") {
    val p = planOf("q04_multi_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q02 filters reach the parquet scan") {
    val f = formatted("q02_filter_scan")
    assert(f.contains("PushedFilters"))
    assert(f.contains("l_quantity") && f.contains("LessThan"),
      "quantity filter not pushed to scan")
  }

  test("q01 scan is pruned to the referenced columns only") {
    val f = formatted("q01_pricelist")
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_partkey"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"),
      s"scan reads unused columns: $readSchema")
  }

  test("q01 aggregation is partial (map-side combine before the shuffle)") {
    val p = planOf("q01_pricelist")
    assert(p.contains("partial_"), "no partial aggregation in plan")
  }

  test("q02 single-row agg stays inside whole-stage codegen") {
    // AQE only materializes codegen stages at execution: run, then inspect
    // the finalized adaptive plan.
    val df = SparkEntry.queries("q02_filter_scan")(spark, sfDir)
    df.collect()
    val cg = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(!cg.contains("Found 0 WholeStageCodegen"), cg.linesIterator.next())
  }

  test("d03 signature is computed in-scan by the native kernel (no signature shuffle)") {
    val p = planOf("d03_simhash")
    assert(p.contains("simhash60_md5"), "native simhash60_md5 kernel not in the plan")
    assert(!p.contains("partial_sum"),
      "signature still built by bit-sum aggregates instead of the kernel")
  }

  test("d12 vocab aggregation is partial and prunes the documents scan") {
    val p = planOf("d12_vocab")
    assert(p.contains("partial_"), "vocab counts not map-side combined")
    assert(!p.contains("Window"), "vocab must not rank with a window")
    val f = formatted("d12_vocab")
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
      s"vocab scan reads unused columns: $readSchema")
  }

  test("q18 share-of-total has no low-cardinality window exchange") {
    val p = planOf("q18_owner_share")
    assert(!p.contains("Window"),
      "q18 still windows over n_name (25 partitions caps cluster parallelism)")
    assert(p.contains("BroadcastHashJoin"), "nation totals not broadcast back")
  }

  test("e01 broadcasts the query set, not the corpus") {
    val p = planOf("e01_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("e01 top-k selection is a partial (map-side) custom aggregate") {
    val p = planOf("e01_knn_brute")
    assert(p.contains("partial_topk_by"),
      s"TopKBy not map-side combined:\n$p")
  }

  test("e09 broadcasts the scales and the query set; top-k stays partial") {
    val p = planOf("e09_knn_int8")
    // two broadcasts: the Dim-row scale table onto the exploded corpus,
    // and the query set onto the dequantized corpus — the corpus itself
    // must never be the build side
    assert(p.contains("BroadcastHashJoin") &&
           (p.contains("BroadcastNestedLoopJoin") ||
            p.split("BroadcastHashJoin").length > 2),
      s"expected both broadcasts:\n$p")
    assert(p.contains("partial_topk_by"),
      s"TopKBy not map-side combined:\n$p")
  }

  test("d20 joins df and N back by broadcast (no corpus-wide shuffle joins)") {
    val p = planOf("d20_tfidf")
    assert(p.contains("BroadcastHashJoin"), "vocabulary df table not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "tf join shuffles the term table instead of broadcasting it")
  }

  test("d23 probes the vocabulary by broadcast") {
    val p = planOf("d23_oov_ratio")
    assert(p.contains("BroadcastHashJoin"), "vocabulary probe not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "token-vs-vocab join shuffles instead of broadcasting")
  }

  test("d19/d21 are pure per-row scans: no exchange before the output sort") {
    for (op <- Seq("d19_pii_scrub", "d21_quality_filter")) {
      val p = planOf(op)
      // the only exchange allowed is the final orderBy's range partitioning
      val exchanges = "Exchange \\w+".r.findAllIn(p).toSeq
      assert(exchanges.forall(_.contains("rangepartitioning")),
        s"$op shuffles mid-plan: $exchanges")
    }
  }

  test("d22 report aggregation is partial (map-side combine)") {
    assert(planOf("d22_corpus_stats").contains("partial_"),
      "corpus stats not map-side combined")
  }

  test("scrubViaLake broadcast mode broadcasts the span table; shuffle mode exchanges it") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val boiler = graft.operators.Dedup.boilerSpanTable(docs)
    val pB = graft.operators.Dedup.scrubViaLake(docs, boiler,
        broadcastBoiler = true)
      .queryExecution.executedPlan.toString
    assert(pB.contains("BroadcastHashJoin"),
      s"span table not broadcast in broadcast mode:\n$pB")
    val Thresh = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(Thresh)
    spark.conf.set(Thresh, "-1")
    try {
      val pS = graft.operators.Dedup.scrubViaLake(docs, boiler,
          broadcastBoiler = false)
        .queryExecution.executedPlan.toString
      assert(!pS.contains("BroadcastHashJoin"),
        s"shuffle mode still broadcasts (the 10^8-span form must not):\n$pS")
      assert(pS.contains("SortMergeJoin") || pS.contains("ShuffledHashJoin"),
        s"no shuffle join in shuffle mode:\n$pS")
    } finally spark.conf.set(Thresh, before)
  }

  test("s13's stream scrub probe is one codegen'd kernel call (no HOF probe)") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val boiler = graft.operators.Dedup.boilerSpanHashesFrom(spark, docs)
    val p = graft.operators.Dedup.scrubAgainst(docs, boiler)
      .queryExecution.executedPlan.toString
    assert(p.contains("span_hit_starts"),
      s"fused probe kernel missing from the scrub plan:\n$p")
    assert(!p.contains("in_sorted_longs"),
      s"scrub still probes span-by-span through the HOF wrapper:\n$p")
  }

  test("q34 latest-snapshot windows on the high-cardinality part key only") {
    val p = planOf("q34_latest_snapshot")
    assert(p.contains("Window"), "expected the row_number window")
    assert(p.contains("hashpartitioning(l_partkey"),
      s"window must partition by l_partkey:\n$p")
  }
}
