package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions._

/** Session-extensions entry point, and the ONLY way a graft function name
  * gets installed: the fixed kernels below are injected at session build
  * time, the standard way a Spark library ships —
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *   // or .withExtensions(new graft.GraftExtensions()) on a shared context
  * }}}
  *
  * [[GraftSession.builder]] does this. Every session of the context then
  * has, in SQL and `expr(...)`: `cosine_sim`, `shingle3_hashes`,
  * `md5_shingle{3,8}_hashes`, `md5_span{3,8}_hashes`, `winnow4_positions`,
  * `poly_hash`, `simhash64`, `simhash60_md5`, `char_jaccard`,
  * `codepoint_set`, `sorted_jaccard`, `lsh_band_keys`,
  * `sorted_intersect_count`, `sign_code_{4,8,16}` and the `topk_by`
  * aggregate, plus the [[graft.plans.AsOfJoinStrategy]] planner strategy.
  * Kernels bound to a driver-built model are Columns instead
  * ([[graft.expressions.GraftFunctions]]); nothing writes the function
  * registry at run time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    GraftExtensions.functions.foreach { case (name, usage, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
        build))
    }
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  private def intLiteral(name: String, e: Expression): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"$name: k must be an integer literal, got $other")
  }

  /** Every injected function: (name, usage, builder). */
  val functions: Seq[(String, String, Builder)] = Seq[(String, String, Builder)](
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors",
      e => CosineSimilarity(e(0), e(1))),
    ("shingle3_hashes", "shingle3_hashes(text) - distinct xxhash64 of 3-word shingles",
      e => ShingleHashes(e(0), 3)),
    ("md5_shingle3_hashes",
      "md5_shingle3_hashes(text) - sorted distinct md5-60-bit hashes of 3-word shingles",
      e => Md5ShingleHashes(e(0), 3)),
    ("md5_shingle8_hashes",
      "md5_shingle8_hashes(text) - sorted distinct md5-60-bit hashes of 8-word spans (d27's family)",
      e => Md5ShingleHashes(e(0), 8)),
    ("md5_span3_hashes", "md5_span3_hashes(text) - md5-60-bit hash of every 3-word span, in order",
      e => Md5SpanHashes(e(0), 3)),
    ("md5_span8_hashes", "md5_span8_hashes(text) - md5-60-bit hash of every 8-word span, in order",
      e => Md5SpanHashes(e(0), 8)),
    ("winnow4_positions", "winnow4_positions(span_hashes) - window-min (w=4) winnowing positions",
      e => WinnowPositions(e(0), 4)),
    ("poly_hash", "poly_hash(arr) - rolling polynomial hash of a long array",
      e => PolyHash(e(0))),
    ("simhash64", "simhash64(text) - 64-bit SimHash of the word multiset",
      e => SimHash64(e(0))),
    ("simhash60_md5",
      "simhash60_md5(text) - 60-bit SimHash over md5-prefix word hashes (DuckDB-reproducible)",
      e => SimHash60Md5(e(0))),
    ("char_jaccard", "char_jaccard(a, b) - distinct-code-point Jaccard of two strings",
      e => CharSetJaccard(e(0), e(1))),
    ("codepoint_set", "codepoint_set(text) - sorted distinct code points as array<long>",
      e => CodepointSet(e(0))),
    ("sorted_jaccard", "sorted_jaccard(a, b) - Jaccard of two sorted distinct long arrays",
      e => SortedSetJaccard(e(0), e(1))),
    ("lsh_band_keys", "lsh_band_keys(shingle_hashes) - the (band_id, band_sig) LSH keys of d02's band family",
      e => LshBandKeys(e(0))),
    ("sorted_intersect_count",
      "sorted_intersect_count(a, b) - intersection size of two sorted distinct long arrays",
      e => SortedIntersectCount(e(0), e(1))),
    ("topk_by", "topk_by(score, id, k) - aggregate: the k ids of highest score (ties: lower id)",
      e => TopKBy(e(0), e(1), intLiteral("topk_by", e(2))).toAggregateExpression())
  ) ++ Seq(4, 8, 16).map { n =>
    val ps = LshKernels.planes(n)
    (s"sign_code_$n", s"sign_code_$n(vec) - $n-bit hyperplane LSH bucket code",
      (e: Seq[Expression]) => SignCode(e(0), ps): Expression)
  }
}
