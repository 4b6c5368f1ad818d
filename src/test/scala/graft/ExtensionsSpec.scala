package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.{HashKernels, LshKernels}

/** The spark.sql.extensions entry point installs every graft function on
  * a fresh session (sharing the test SparkContext), and it is the only
  * install path: building plans never writes the function registry.
  */
class ExtensionsSpec extends AnyFunSuite with SparkFixture {

  private val Text = "the quick brown fox jumps over the lazy dog and the fox again"

  private val FixedNames = Set(
    "cosine_sim", "shingle3_hashes", "md5_shingle3_hashes",
    "md5_shingle8_hashes", "md5_span3_hashes", "md5_span8_hashes",
    "winnow4_positions", "poly_hash", "simhash64", "simhash60_md5",
    "char_jaccard", "codepoint_set", "sorted_jaccard", "lsh_band_keys",
    "sorted_intersect_count", "topk_by",
    "sign_code_4", "sign_code_8", "sign_code_16")

  private def longs(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[Long] =
    a.toLongArray().toSeq

  test("GraftExtensions injects functions usable from plain SQL") {
    spark // force the shared context up first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // spark.sql.extensions is a static conf read at context creation; on
      // a shared test context, withExtensions drives the same injection path
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      assert(s2 ne spark)
      assert(GraftExtensions.functions.map(_._1).toSet == FixedNames)
      FixedNames.foreach(n => assert(s2.catalog.functionExists(n), n))

      val t = UTF8String.fromString(Text)
      val r = s2.sql(
        s"""SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c,
           |       size(shingle3_hashes('a b c d')) AS ns,
           |       poly_hash(array(1L, 2L, 3L)) AS ph,
           |       char_jaccard('abc', 'abd') AS cj,
           |       md5_shingle3_hashes('$Text') AS ms3,
           |       md5_shingle8_hashes('$Text') AS ms8,
           |       md5_span3_hashes('$Text') AS sp3,
           |       md5_span8_hashes('$Text') AS sp8,
           |       winnow4_positions(md5_span3_hashes('$Text')) AS wp,
           |       simhash64('$Text') AS sh,
           |       simhash60_md5('$Text') AS sh60,
           |       codepoint_set('cab a') AS cps,
           |       sorted_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS sj,
           |       sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS sic,
           |       lsh_band_keys(md5_shingle3_hashes('$Text')) AS bk,
           |       sign_code_4(array_repeat(1.0F, 64)) AS sc4,
           |       sign_code_8(array_repeat(1.0F, 64)) AS sc8,
           |       sign_code_16(array_repeat(1.0F, 64)) AS sc16""".stripMargin).head
      def seq[T](n: String): Seq[T] = r.getSeq[T](r.fieldIndex(n))
      assert(r.getAs[Double]("c") == 1.0)
      assert(r.getAs[Int]("ns") == 2)
      assert(r.getAs[Long]("ph") == (((1 * 31 + 2) * 31) + 3))
      assert(math.abs(r.getAs[Double]("cj") - 0.5) < 1e-12)
      assert(seq[Long]("ms3") == longs(HashKernels.md5ShingleHashes(t, 3)))
      assert(seq[Long]("ms8") == longs(HashKernels.md5ShingleHashes(t, 8)))
      val sp3 = HashKernels.md5SpanHashes(t, 3)
      assert(seq[Long]("sp3") == longs(sp3))
      assert(seq[Long]("sp8") == longs(HashKernels.md5SpanHashes(t, 8)))
      assert(seq[Long]("sp3").size == Text.split(" ").length - 2)
      assert(seq[Int]("wp") ==
        HashKernels.winnowPositions(sp3, 4).toIntArray().toSeq)
      assert(r.getAs[Long]("sh") == HashKernels.simhash64(t))
      assert(r.getAs[Long]("sh60") == HashKernels.simhash60Md5(t))
      assert(seq[Long]("cps") == Seq(32L, 97L, 98L, 99L))
      assert(math.abs(r.getAs[Double]("sj") - 0.5) < 1e-12)
      assert(r.getAs[Long]("sic") == 2L)
      val keys = LshKernels.bandKeys(HashKernels.md5ShingleHashes(t, 3))
      val want = (0 until keys.numElements()).map { i =>
        val k = keys.getStruct(i, 2); (k.getInt(0), k.getLong(1))
      }
      assert(seq[Row]("bk").map(k => (k.getInt(0), k.getLong(1))) == want)
      val ones = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array.fill(LshKernels.Dim)(1.0f))
      Seq(4, 8, 16).foreach { n =>
        assert(r.getAs[Int](s"sc$n") == LshKernels.signCode(ones, LshKernels.planes(n)))
      }

      // the topk_by aggregate, from plain SQL in a GROUP BY
      val top = s2.sql(
        """SELECT g, topk_by(s, id, 2) AS top
          |FROM VALUES (1, 0.5D, 10L), (1, 0.9D, 11L), (1, 0.7D, 12L),
          |            (2, 0.1D, 20L) AS t(g, s, id)
          |GROUP BY g ORDER BY g""".stripMargin).collect()
        .map(r => r.getInt(0) -> r.getSeq[Row](1).map(_.getLong(1)))
      assert(top.toSeq == Seq(1 -> Seq(11L, 12L), 2 -> Seq(20L)))

      // the injected planner strategy plans the custom AsOfJoin node
      import s2.implicits._
      val lp = org.apache.spark.sql.GraftSqlBridge.logicalPlan(
        Seq((1L, 10L, 100L)).toDF("p_id", "user", "p_ts"))
      val rp = org.apache.spark.sql.GraftSqlBridge.logicalPlan(
        Seq((2L, 10L, 50L)).toDF("s_id", "s_user", "s_ts"))
      def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
               n: String) = p.output.find(_.name == n).get
      val joined = org.apache.spark.sql.GraftSqlBridge.ofRows(s2,
        graft.plans.AsOfJoin(lp, rp,
          attr(lp, "user"), attr(rp, "s_user"),
          attr(lp, "p_ts"), attr(rp, "s_ts"), None))
      assert(joined.select("p_id", "s_id").collect().map(_.toSeq).toSeq ==
        Seq(Seq(1L, 2L)))
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("building plans adds no function name and replaces no builder") {
    val reg = spark.sessionState.functionRegistry
    def snapshot(): Map[FunctionIdentifier, AnyRef] =
      reg.listFunction().map(f => f -> reg.lookupFunctionBuilder(f).get).toMap
    val before = snapshot()
    Seq("d01_exact_dedup", "d02_minhash_lsh", "d03_simhash",
        "e04_semantic_dedup", "e08_semantic_dedup_trained",
        "d34_bpe_train", "d43_lm_perplexity").foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).queryExecution.assertAnalyzed()
    }
    val after = snapshot()
    assert(after.keySet == before.keySet,
      s"new names: ${after.keySet -- before.keySet}")
    val replaced = before.collect { case (f, b) if !(after(f) eq b) => f }
    assert(replaced.isEmpty, s"replaced builders: $replaced")
  }
}
