package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.OpDef
import graft.sources.Tables
import graft.expressions.GraftFunctions

/** Similarity search over the `embeddings` table (`array<float>`, dim 64).
  *
  *  - e01: brute-force cosine top-k — the exact baseline. The query set is
  *    broadcast, so the corpus streams through one codegen'd stage; scoring
  *    uses the native [[graft.expressions.CosineSimilarity]] expression.
  *  - e02: LSH (sign-random-projection) bucketed ANN — the scale path: the
  *    corpus is bucketed by an 8-bit hyperplane sign code and candidates
  *    only come from the query's bucket (equality join, no cross product).
  */
object Similarity {

  private[graft] val NumQueries = 5
  private[graft] val TopK = 10
  // e13 range-search geometry: radius tau over a wider query slice than
  // the top-k entries (range output size is data-driven, not k-driven)
  private[graft] val RangeQueries = 50
  private[graft] val RangeTau = 0.3

  // e14's attribute filter: labels 2..4 of the uniform 0..9 — ~30%
  // selectivity, enough survivors that every query still fills k while
  // the filtered-out majority would poison a post-filtered top-k.
  private[graft] val FilterLabelLo = 2
  private[graft] val FilterLabelHi = 4

  // e15 hybrid retrieval: query-by-example over both modalities (the
  // doc_id/vec_id spaces are 1:1 in this corpus), per-leg shortlists of
  // 20, RRF's canonical k=60 damping.
  private[graft] val HybridQueries = 8
  private[graft] val HybridLegK = 20
  private[graft] val RrfK = 60

  /** e15's oracle: both legs and the fused RRF order re-derived in
    * DuckDB. Shared with s31 (the same fusion streamed at the wire) —
    * batch and stream answers are held to one truth.
    */
  private[graft] val e15Sql: String =
    s"""WITH tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
         |        FROM documents)
         |  WHERE length(term) > 0 GROUP BY doc_id, term),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
         |       FROM tf GROUP BY doc_id),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |                 avg(dl) AS avgdl FROM dl),
         |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |        FROM tf GROUP BY term),
         |q AS (SELECT DISTINCT doc_id AS q_id, term FROM tf
         |      WHERE doc_id < $HybridQueries AND length(term) >= 4),
         |lex AS (
         |  SELECT q.q_id, tf.doc_id,
         |         sum(round(((n_docs - dft.df + 0.5) / (dft.df + 0.5)) *
         |               ((tf.tf * 2.2) / (tf.tf + 1.2 *
         |                 (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / avgdl))))
         |               + 1e-9, 8)::DECIMAL(20,8)) AS score
         |  FROM tf JOIN q USING (term) JOIN dft USING (term)
         |       JOIN dl ON tf.doc_id = dl.doc_id, stats
         |  WHERE tf.doc_id <> q.q_id
         |  GROUP BY q.q_id, tf.doc_id),
         |lexr AS (
         |  SELECT q_id, doc_id,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |           ORDER BY score DESC, doc_id) AS INT) AS lex_rk
         |  FROM lex QUALIFY lex_rk <= $HybridLegK),
         |qv AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
         |       FROM embeddings WHERE vec_id < $HybridQueries),
         |vecs AS (
         |  SELECT qv.q_id, e.vec_id AS doc_id,
         |         round(list_cosine_similarity(e.embedding::DOUBLE[],
         |               qv.q_vec) + 1e-10, 6) AS sim
         |  FROM embeddings e JOIN qv ON e.vec_id <> qv.q_id),
         |vecr AS (
         |  SELECT q_id, doc_id,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |           ORDER BY sim DESC, doc_id) AS INT) AS vec_rk
         |  FROM vecs QUALIFY vec_rk <= $HybridLegK),
         |fused AS (
         |  SELECT coalesce(l.q_id, v.q_id) AS q_id,
         |         coalesce(l.doc_id, v.doc_id) AS doc_id,
         |         coalesce(1.0::DOUBLE / ($RrfK + l.lex_rk), 0.0) +
         |         coalesce(1.0::DOUBLE / ($RrfK + v.vec_rk), 0.0) AS rrf
         |  FROM lexr l FULL OUTER JOIN vecr v
         |    ON l.q_id = v.q_id AND l.doc_id = v.doc_id)
         |SELECT q_id,
         |       CAST(row_number() OVER (PARTITION BY q_id
         |         ORDER BY rrf DESC, doc_id) AS INT) AS rk,
         |       doc_id, round(rrf, 6) AS rrf
         |FROM fused QUALIFY rk <= $TopK
         |ORDER BY q_id, rk""".stripMargin


  /** e14's oracle: the definitional filtered brute force. Shared with
    * s28 (the same search streamed at the wire) — batch and stream
    * answers are held to one truth.
    */
  private[graft] val e14Sql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
       |  FROM embeddings WHERE vec_id < $RangeQueries),
       |scored AS (
       |  SELECT q.q_id, e.vec_id AS neighbor_id,
       |         round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec)
       |               + 1e-10, 6) AS sim
       |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id
       |  WHERE e.label BETWEEN $FilterLabelLo AND $FilterLabelHi)
       |SELECT q_id,
       |       CAST(row_number() OVER (PARTITION BY q_id
       |         ORDER BY sim DESC, neighbor_id) AS INT) AS rk,
       |       neighbor_id, sim
       |FROM scored
       |QUALIFY rk <= $TopK
       |ORDER BY q_id, rk""".stripMargin
  // d09 banded-LSH geometry: NumDupBands independent sign-code tables,
  // each MaxBandBits planes wide at most; the ACTIVE width per run is
  // derived from the corpus count so bucket density stays ~TargetBucket
  // regardless of scale (the fixed-width form measured 45x runtime at
  // 10x data — bench/BENCH_sf1_r4.json — because pair work per bucket is
  // density^2). Width selection is an integer CASE ladder, bit-identical
  // in Spark and DuckDB (no float log2 at a power-of-two boundary).
  private[graft] val NumDupBands = 4
  private[graft] val MaxBandBits = 16
  private[graft] val MinBandBits = 4
  private[graft] val TargetBucket = 32L
  // e04 semantic-dedup geometry: cell count is density-laddered like
  // d09's band widths — the smallest power-of-two cell count in
  // [MinSemCells, MaxSemCells] keeping mean cell density <= TargetCell,
  // since in-cell pair work is density^2 (the d09 lesson: a fixed cell
  // count measured 45x runtime at 10x data). 256 cells at density 64
  // carries a ~16k-vector corpus; beyond the cap, raise MaxSemCells
  // (the knob, not the shape, changes — the oracle's anchor table and
  // the assignment plan are the same at any width) or move to e03's
  // trained quantizer, whose cell count is runtime data, not SQL text.
  private[graft] val MinSemCells = 16
  private[graft] val MaxSemCells = 256
  private[graft] val TargetCell = 64L

  /** Active cell count from the corpus count — the same generated integer
    * CASE ladder in Spark and DuckDB (no float log2 at a boundary).
    */
  private[graft] def semCellsCase(cntSql: String): String =
    Iterator.iterate(MinSemCells)(_ * 2).takeWhile(_ < MaxSemCells)
      .map(c => s"WHEN $cntSql <= ${c * TargetCell} THEN $c")
      .mkString("CASE ", " ", s" ELSE $MaxSemCells END")

  /** The Scala twin of [[semCellsCase]] (for specs). */
  private[graft] def semCells(n: Long): Int = {
    var c = MinSemCells
    while (c < MaxSemCells && n > c * TargetCell) c *= 2
    c
  }

  /** Corpus count past which level 1's MaxSemCells alone can no longer
    * hold mean density <= TargetCell — e04_semantic_dedup_large's second
    * anchor family activates here (and the capped e04 goes quadratic).
    */
  private[graft] val SemLevel2At: Long = MaxSemCells.toLong * TargetCell

  /** e04_large's LEVEL-2 cell ladder: 1 while level 1 alone holds the
    * density target (making the composite assignment bit-identical to
    * e04 below the cap), then doubling per corpus doubling up to
    * MaxSemCells — the composite (cell, cell2) space tops out at
    * MaxSemCells^2 = 65536 cells, carrying a ~4M-vector corpus at mean
    * density <= TargetCell. The same generated integer CASE runs in
    * Spark and DuckDB; `base` is the switch-over count (the gate passes
    * [[SemLevel2At]]; specs pass a small base to force the composite
    * path on a gate-scale corpus).
    */
  private[graft] def semCells2Case(cntSql: String,
      base: Long = SemLevel2At): String =
    Iterator.iterate(1)(_ * 2).takeWhile(_ < MaxSemCells)
      .map(c => s"WHEN $cntSql <= ${base * c} THEN $c")
      .mkString("CASE ", " ", s" ELSE $MaxSemCells END")

  /** The Scala twin of [[semCells2Case]] (for specs). */
  private[graft] def semCells2(n: Long, base: Long = SemLevel2At): Int = {
    var c = 1
    while (c < MaxSemCells && n > base * c) c *= 2
    c
  }

  /** The runtime signal for a saturated cell ladder (advisor item): the
    * capped e04 goes density^2 past [[SemLevel2At]] (~16k vectors), and
    * e04_large past MaxSemCells x that (~4M) — past the threshold the
    * operator still answers, but quadratically, so a scaled run must be
    * POINTED at the next rung rather than left to discover it in a
    * 25x-slower stage. Pure so the spec can pin the exact firing
    * boundary; the builders print the message to stderr.
    */
  private[graft] def capWarning(op: String, n: Long, capacity: Long,
      escape: String): Option[String] =
    if (n <= capacity) None
    else Some(s"[graft] $op: corpus_n=$n exceeds the cell ladder's " +
      s"density capacity ($capacity) — in-cell pair work grows as " +
      s"density^2 past the cap; switch to $escape")

  /** Level-2 anchors: the NEXT MaxSemCells planes of the shared
    * deterministic family (disjoint from level 1's prefix by
    * construction — `planes` is prefix-consistent), so the two
    * assignment stages are independent hashes of the same vector.
    */
  private[graft] def planes2: Array[Array[Double]] =
    planes(2 * MaxSemCells).slice(MaxSemCells, 2 * MaxSemCells)

  // IVF (e03) geometry: corpus partitioned into NumCells Voronoi cells,
  // queries probe the NProbe nearest — the scanned fraction is ~NProbe/
  // NumCells of the corpus (vs e01's full scan), the classic ANN scale
  // path when the corpus outgrows brute force. The driver's synthetic
  // embeddings are near-uniform (little cluster structure for the
  // quantizer to exploit), so the gate config probes half the cells;
  // clustered real-world corpora run the same plan with NProbe <<
  // NumCells.
  private[graft] val NumCells = 16
  private[graft] val NProbe = 8

  // Deterministic hyperplanes shared with the expression layer (and
  // reproduced literally in the DuckDB oracle SQL).
  private[operators] def planes(numPlanes: Int): Array[Array[Double]] =
    graft.expressions.LshKernels.planes(numPlanes)

  /** The same sign code as a DuckDB SQL expression (for oracles). */
  private[operators] def signCodeSql(vecSql: String,
      ps: Array[Array[Double]]): String =
    ps.zipWithIndex.map { case (p, j) =>
      val lit = p.mkString("[", ",", "]")
      s"CASE WHEN list_dot_product($vecSql, $lit) > 0 THEN ${1 << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Band `t`'s plane slice: the shared deterministic family laid out as
    * NumDupBands contiguous MaxBandBits-wide blocks, so masking a band's
    * full-width code to `bits` low bits IS the `bits`-plane code — the
    * oracle can stay static SQL text while the active width varies with
    * the corpus count. Band 0's first MinBandBits planes are exactly the
    * old fixed 4-plane family (`planes` is prefix-consistent), so gate
    * bucketing is a strict superset of the r4 operator's.
    */
  private[graft] def bandPlanes(t: Int): Array[Array[Double]] =
    planes(NumDupBands * MaxBandBits)
      .slice(t * MaxBandBits, (t + 1) * MaxBandBits)

  /** Active band width from the corpus count: the smallest `bits` in
    * [MinBandBits, MaxBandBits] with count <= TargetBucket * 2^bits, i.e.
    * mean bucket density stays <= TargetBucket until the MaxBandBits cap
    * (2^16 buckets x 4 bands carries a ~2M-vector corpus at density 32;
    * beyond that, raise MaxBandBits — candidate work is density x n, so
    * the knob, not the shape, is what changes with scale). Pure integer
    * comparisons: the SAME generated CASE ladder runs in Spark and DuckDB.
    */
  private[graft] def bandBitsCase(cntSql: String,
      target: Long = TargetBucket): String =
    (MinBandBits until MaxBandBits)
      .map(r => s"WHEN $cntSql <= ${target << r} THEN $r")
      .mkString("CASE ", " ", s" ELSE $MaxBandBits END")

  /** The Scala twin of [[bandBitsCase]] (for specs). */
  private[graft] def bandBits(n: Long, target: Long = TargetBucket): Int = {
    var r = MinBandBits
    while (r < MaxBandBits && n > (target << r)) r += 1
    r
  }

  /** e02's bucket-density target. The ANN probe wants RECALL at moderate
    * similarity (the sf10 corpus' true top-10 sims sit at 0.45-0.55,
    * where sign-agreement probability p = 1 - acos(sim)/pi is only
    * ~0.66, so p^bits dies fast) — d09's pair join wants tight buckets.
    * A 16x denser bucket (512 vs 32) cuts the active width by 4 bits,
    * and with Hamming-<=2 multiprobe the per-band hit probability at
    * sim 0.5 rises from ~0.01 to ~0.2-0.3; OR'd over NumDupBands that
    * is recall ~0.6-0.8. Cost: candidates per query ~ NumDupBands *
    * (1 + bits + C(bits,2)) * 512 — and since bits grows ~log2(n) while
    * density is pinned, the SCAN FRACTION of the corpus shrinks as n
    * grows (3-4% at 5M vectors). Exact cosine re-rank keeps precision.
    */
  private[graft] val E02TargetBucket = 512L

  private lazy val BandPlaneSets: IndexedSeq[Array[Array[Double]]] =
    (0 until NumDupBands).map(bandPlanes)

  /** Band `t`'s sign code of `embedding` via the codegen'd
    * [[graft.expressions.SignCode]] kernel, masked to the active width
    * `bits`. Each dot product is a sequential ascending-index fold in
    * double, so bucket assignment is bit-identical to DuckDB's
    * `list_dot_product` in the oracle.
    */
  private def bandCode(t: Int): Column =
    GraftFunctions.signCode(col("embedding"), BandPlaneSets(t))
      .bitwiseAND(expr("shiftleft(1, bits) - 1"))

  /** d09's verified near-dup pairs (a_id < b_id, sim >= 0.35) — the body
    * of the d09 gate entry, shared with e06's cluster canonicalization
    * (exactly as d02's pair builder is shared with d13). See the d09 def
    * for the banded/laddered design notes.
    */
  /** Density-laddered banded sign codes for every vector: (vec_id, band,
    * bcode, bits) with NumDupBands rows per vector and the active width
    * `bits` from [[bandBitsCase]] on a broadcast one-row corpus count.
    * Shared by d09/e06's pair builder and e02's multiprobe ANN.
    */
  private[graft] def bandedCodes(emb: DataFrame,
      target: Long = TargetBucket, countOver: DataFrame = null,
      fixedBits: Option[Int] = None): DataFrame = {
    // one-row broadcast: every row learns the corpus count, and the
    // width ladder is plain integer CASE arithmetic on it. `countOver`
    // (default: emb itself) is the frame whose COUNT drives the width
    // ladder — a query-side caller codes its handful of vectors at the
    // CORPUS's width, or its buckets would never collide with the index.
    // `fixedBits` bypasses the ladder entirely: the persisted LSH index
    // freezes its build-time width into its meta table, and appends/
    // probes must code at THAT width even after the corpus has grown
    // past the next ladder rung (width migration = a scheduled index
    // rebuild, like every other quantizer in the lake).
    val sized = fixedBits match {
      case Some(b) => emb.withColumn("bits", lit(b))
      case None => emb
        .crossJoin(broadcast(Option(countOver).getOrElse(emb)
          .agg(count(lit(1)).as("corpus_n"))))
        .withColumn("bits", expr(bandBitsCase("corpus_n", target)))
    }
    val bandStructs = (0 until NumDupBands).map { t =>
      struct(lit(t).as("band"), bandCode(t).as("bcode"))
    }
    sized
      .select(col("vec_id"), col("bits"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"),
              col("bb.bcode").as("bcode"), col("bits"))
  }

  private[graft] def embedDupPairs(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val bands = bandedCodes(emb).drop("bits")
    val a = bands.toDF("a_id", "band", "bcode")
    val b = bands.toDF("b_id", "band", "bcode")
    val cands = a.join(b, Seq("band", "bcode"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val vecs = emb.select(col("vec_id"), col("embedding"))
    cands
      .join(vecs.toDF("a_id", "a_vec"), "a_id")
      .join(vecs.toDF("b_id", "b_vec"), "b_id")
      .withColumn("sim", round(expr("cosine_sim(a_vec, b_vec)") + lit(1e-10), 6))
      .filter(col("sim") >= 0.35)
      .select("a_id", "b_id", "sim")
  }

  /** d09's DuckDB twin WITHOUT the final ORDER BY, so the d09 oracle can
    * append its ordering and the e06 oracle can embed it in a CTE.
    */
  private def duckD09Sql: String = {
    val codeList = (0 until NumDupBands)
      .map(t => signCodeSql("embedding::DOUBLE[]", bandPlanes(t)))
      .mkString("[\n         ", ",\n         ", "]")
    s"""WITH n AS (SELECT count(*) AS corpus_n FROM embeddings),
       |p AS (SELECT ${bandBitsCase("corpus_n")} AS bits FROM n),
       |coded AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS vec,
       |         $codeList AS codes
       |  FROM embeddings),
       |bands AS (
       |  SELECT vec_id, t AS band,
       |         list_extract(codes, t + 1) & ((1 << bits) - 1) AS bcode
       |  FROM coded, p, (SELECT unnest(generate_series(0, ${NumDupBands - 1})) AS t)),
       |cands AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bcode = b.bcode AND a.vec_id < b.vec_id)
       |SELECT c.a_id, c.b_id,
       |       round(list_cosine_similarity(x.vec, y.vec) + 1e-10, 6) AS sim
       |FROM cands c
       |JOIN coded x ON x.vec_id = c.a_id
       |JOIN coded y ON y.vec_id = c.b_id
       |WHERE round(list_cosine_similarity(x.vec, y.vec) + 1e-10, 6) >= 0.35""".stripMargin
  }

  /** e04_semantic_dedup_large's plan: e04's semantic dedup with a
    * TWO-LEVEL deterministic anchor quantizer, the executable path past
    * e04's MaxSemCells cap. Level 1 is e04's laddered assignment
    * verbatim; level 2 independently assigns each vector to the nearest
    * of `ncells2` anchors from the DISJOINT second plane family
    * ([[planes2]]), and near-dup pairing runs within the COMPOSITE
    * (cell, cell2) — up to MaxSemCells^2 = 65536 cells, holding mean
    * density <= TargetCell to a ~4M-vector corpus where the capped e04
    * goes density^2 past ~16k. Assignment cost stays LINEAR (each level
    * is a broadcast cross-join + one map-side-combinable max_by; level 2
    * scores only the active prefix, so below the cap it adds one
    * single-anchor pass). A third family is the same shape again if 4M
    * is ever the binding cap.
    *
    * Below [[SemLevel2At]] the level-2 ladder pins ncells2 = 1, every
    * vector lands in cell2 = 0, and the composite key degenerates to
    * e04's — the two operators' outputs are bit-identical at gate scale
    * by construction (SemanticDedupSpec asserts it, and forces the
    * composite path with a small `level2Base`).
    *
    * Recall note: a near-dup pair straddling EITHER level's cell
    * boundary is missed — the same accepted trade the capped e04
    * already documents for level 1, applied twice.
    */
  /** The composite (cell, cell2) assignment stage of [[e04LargeBody]],
    * persisted under "e04L_assigned" — factored out so assignment can be
    * timed separately from the in-cell pair join
    * (bench/BENCH_e04_scale_r7.json).
    */
  private[graft] def e04LargeAssigned(emb: DataFrame, level2Base: Long,
      corpusN: Long): DataFrame = {
    // both levels are the codegen'd per-row argmax (NearestAnchor) over
    // their float anchor matrices — the broadcast-explode-max_by
    // formulation this replaced cost ~80 s of row traffic at 200k x 256
    // for ~5 s of arithmetic. The active-prefix widths come from the
    // corpus count the BODY already collected for its cap warning
    // (metadata-only job), folded through the Scala ladder twins —
    // spec-pinned equal to the oracle's CASE text — instead of a second
    // in-plan one-row broadcast computing the same values.
    val sized = emb
      .withColumn("ncells", lit(semCells(corpusN)))
      .withColumn("ncells2", lit(semCells2(corpusN, level2Base)))
    // persisted: both sides of the composite-cell self-join and the
    // survivor anti-join read it (same discipline as e04's assignment)
    graft.Caching.persistTracked("e04L_assigned",
      sized.select(col("vec_id"),
        GraftFunctions.nearestAnchor(col("embedding"), col("ncells"),
          planes(MaxSemCells).map(_.map(_.toFloat))).as("cell"),
        GraftFunctions.nearestAnchor(col("embedding"), col("ncells2"),
          planes2.map(_.map(_.toFloat))).as("cell2"),
        col("embedding")))
  }

  private[graft] def e04LargeBody(s: SparkSession, d: String,
      level2Base: Long = SemLevel2At): DataFrame = {
    val sp = s
    import sp.implicits._
    val emb = Tables.embeddings(s, d)
    // the count is a column-less parquet scan (row-group metadata), so
    // the saturation check costs nothing next to the operator itself —
    // and it ALSO sizes the assignment ladder (one scalar, two uses)
    val corpusN = emb.count()
    capWarning("e04_semantic_dedup_large", corpusN,
      level2Base * MaxSemCells,
      "a third anchor level (same construction) or e03's trained quantizer")
      .foreach(System.err.println)
    val assigned = e04LargeAssigned(emb, level2Base, corpusN)
    val a = assigned.select(col("cell"), col("cell2"),
                            col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val b = assigned.select(col("cell"), col("cell2"),
                            col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    val removed = a.join(b, Seq("cell", "cell2"))
      .filter(col("a_id") < col("b_id"))
      .filter(round(expr("cosine_sim(a_vec, b_vec)") + lit(1e-10), 6) >= 0.35)
      .select(col("b_id").as("vec_id")).distinct()
    assigned.join(removed, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"), col("cell2"))
      .orderBy("vec_id")
  }

  // ---- e08: trained-quantizer semantic dedup ------------------------
  // The anchor-ladder-FREE path: e04's drop rule with cell assignment
  // from data-trained (distributed-Lloyd) centroids instead of the
  // static deterministic anchor families. The total cell budget is
  // RUNTIME DATA (n / TargetCell, no cap — e04's MaxSemCells and
  // e04_large's MaxSemCells^2 ceilings don't exist here), split across
  // two trained levels in the IVF/inverted-multi-index shape
  // (Babenko & Lempitsky, CVPR 2012): level 1 quantizes the vector,
  // level 2 quantizes the RESIDUAL v - c1(v), and dedup pairs within
  // the composite (cell, cell2). Near-square levels keep per-vector
  // assignment work AND the driver-resident model O(sqrt(cells) x dim):
  // at 1B vectors the budget is 2^24 composite cells from two 4096-row
  // centroid matrices (~4 MB of model), where a flat trained codebook
  // would need a 16M-row matrix scanned per vector.
  private[graft] val TrainPerCell = 32L // Lloyd sample: points/centroid
  private[graft] val LloydIters = 2     // e03's choice, same reasoning

  /** Total trained-cell budget: smallest power of two holding mean
    * density <= TargetCell — same ladder rule as e04, WITHOUT the cap
    * (the codebook is collected data, not SQL text, so nothing bounds
    * its width).
    */
  private[graft] def e08CellBudget(n: Long): Long = {
    var k = MinSemCells.toLong
    while (n > k * TargetCell) k *= 2
    k
  }

  /** Split the budget into two near-square levels (k1 >= k2,
    * k1 * k2 = budget): assignment scores k1 + k2 ~ 2 sqrt(budget)
    * centroids per vector instead of budget.
    */
  private[graft] def e08Levels(budget: Long): (Int, Int) = {
    var k1 = 1L
    while (k1 * k1 < budget) k1 *= 2
    (k1.toInt, math.max(1L, budget / k1).toInt)
  }

  /** Deterministic training-sample predicate: a pure md5 function of
    * vec_id (d11's rule — no RNG, reruns train on the same rows).
    * `inMillion` is the acceptance threshold out of 1e6.
    */
  private def e08SamplePred(inMillion: Long): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit("e08:"), col("vec_id").cast("string"))),
                   1, 15), 16, 10).cast("long") % 1000000L < inMillion

  /** `LloydIters` rounds of distributed Lloyd over `vecs` (vec_id, vec):
    * assignment is the codegen'd per-row NearestAnchor argmax bound to
    * the CURRENT centroid matrix (the MLlib k-means shape — the model
    * rides the closure, the data never leaves executors), means are one
    * combinable (cell, pos) aggregate, and only the k x dim centroid
    * matrix (the model, never data) is collected per round. Cells that
    * lose all members keep their previous centroid. Seeded from the
    * deterministic plane family at `seedOffset` (e03's seeding, offset
    * so the two levels start disjoint).
    */
  /** Total Lloyd trainings this JVM — the model-memo spec asserts the
    * e08/e10/s14 family trains once per corpus (cf. Dedup.loopRuns).
    */
  private[graft] val lloydRuns = new java.util.concurrent.atomic.AtomicLong

  private def trainLloyd(vecs: DataFrame, k: Int,
      seedOffset: Int): Array[Array[Float]] =
    trainLloydSeeded(vecs, k,
      planes(seedOffset + k).slice(seedOffset, seedOffset + k)
        .map(_.map(_.toFloat)))

  /** [[trainLloyd]] with an explicit seed matrix — the general form the
    * PQ sub-codebooks need (their seeds live in a SUBSPACE, so the
    * full-dim plane family can't seed them directly; e11 slices it).
    */
  private[graft] def trainLloydSeeded(vecs: DataFrame,
      k: Int, seed: Array[Array[Float]]): Array[Array[Float]] = {
    lloydRuns.incrementAndGet()
    var centroids: Array[Array[Float]] = seed
    for (it <- 0 until LloydIters) {
      val means = vecs
        .select(GraftFunctions.nearestAnchor(col("vec"), lit(k), centroids)
                  .as("cell"), posexplode(col("vec")))
        .groupBy("cell", "pos").agg(avg("col").as("v"))
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(named_struct(" +
                  "'p', pos, 'v', v))), x -> CAST(x.v AS float))").as("anchor"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
      centroids = Array.tabulate(k)(c => means.getOrElse(c, centroids(c)))
    }
    centroids
  }

  /** The trained two-level quantizer MODEL: two centroid matrices plus
    * their widths — everything a later job needs to reproduce the
    * assignment without retraining. O(sqrt(cells) x dim) floats, the
    * lake-persistable artifact ([[graft.sources.AnnIndexLake]]).
    */
  final case class E08Model(k1: Int, k2: Int,
      c1: Array[Array[Float]], c2: Array[Array[Float]])

  /** Train e08's model over `emb`: budget from the corpus count, Lloyd
    * per level, level 2 on the SAMPLE's residuals — quantizing what
    * level 1 left over (the IVF residual trick) rather than
    * re-quantizing the same structure with a different seed.
    *
    * The `emb.count()` here is a driver action by NECESSITY, not
    * convenience: the budget it sizes becomes k1/k2 — the DIMENSIONS of
    * the driver-resident centroid matrices Lloyd allocates — so it
    * cannot ride the plan as a one-row broadcast the way d09's ladder
    * widths do (those only parametrize column expressions). A
    * column-less parquet count is row-group metadata, ~free.
    */
  private[graft] def e08TrainModel(s: SparkSession, emb: DataFrame): E08Model = {
    val sp = s
    import sp.implicits._
    val n = math.max(1L, emb.count())
    val (k1, k2) = e08Levels(e08CellBudget(n))
    val trainTarget = TrainPerCell * math.max(k1, k2)
    val sampleAll = trainTarget >= n
    val samplePred =
      if (sampleAll) lit(true)
      // ceil-ish threshold: never rounds a nonempty target down to 0
      else e08SamplePred(math.min(1000000L, trainTarget * 1000000L / n + 1))
    val sample = graft.Caching.persistTracked("e08_train_sample",
      emb.filter(samplePred).select(col("vec_id"), col("embedding")))
    val c1 = trainLloyd(
      sample.select(col("vec_id"), col("embedding").as("vec")), k1, 0)
    val cent1 = c1.zipWithIndex.map { case (a, i) => (i, a.toSeq) }
      .toSeq.toDF("cell", "c1vec")
    val c2 = trainLloyd(
      sample
        .withColumn("cell",
          GraftFunctions.nearestAnchor(col("embedding"), lit(k1), c1))
        .join(broadcast(cent1), "cell")
        .withColumn("resid", expr("zip_with(embedding, c1vec, (x, y) -> x - y)"))
        .select(col("vec_id"), col("resid").as("vec")),
      k2, k1)
    E08Model(k1, k2, c1, c2)
  }

  /** Trained quantizer models memoized per (variant, embeddings CONTENT
    * stamp) — the driver-resident twin of the AnnIndexLake persistence
    * and the d34 merge-model memo: at ~4 MB the model is a metadata
    * object, and in production it is trained once per corpus build and
    * read by every consumer, so the gate entries (e08 full-corpus,
    * e10/s14 index-split) train once per corpus per JVM and every later
    * invocation — the other gate, bench reps, parity legs — assigns
    * under the SAME model with zero Lloyd jobs. e10 and s14 share the
    * "e10_index" variant deliberately: they are the batch and stream
    * faces of one pipeline and must verdict under one model. At most
    * one live entry per variant (a regenerated corpus replaces it).
    */
  private val e08ModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, E08Model]()

  private[graft] def e08ModelMemo(variant: String, d: String)
      (train: => E08Model): E08Model = e08ModelCache.synchronized {
    val key = variant + "|" + Tables.stamp(d, "embeddings")
    Option(e08ModelCache.get(key)).getOrElse {
      val m = train
      e08ModelCache.keySet.removeIf(
        (k: String) => k.startsWith(variant + "|"))
      e08ModelCache.put(key, m)
      m
    }
  }

  /** Composite assignment of `emb` under an EXISTING model — zero
    * training jobs: the centroid matrices ride the closure (codegen'd
    * NearestAnchor argmax), level-1 centroids broadcast once for the
    * residual. This is the probe side of the train-once/probe-many
    * split: a production run reads the model from the lake
    * ([[graft.sources.AnnIndexLake.readModel]]) and assigns any batch of
    * vectors — today's corpus, tomorrow's arrivals — without a Lloyd job.
    */
  private[graft] def e08AssignWith(s: SparkSession, m: E08Model,
      emb: DataFrame): DataFrame = {
    val sp = s
    import sp.implicits._
    val cent1 = m.c1.zipWithIndex.map { case (a, i) => (i, a.toSeq) }
      .toSeq.toDF("cell", "c1vec")
    emb
      .withColumn("cell",
        GraftFunctions.nearestAnchor(col("embedding"), lit(m.k1), m.c1))
      .join(broadcast(cent1), "cell")
      .withColumn("resid", expr("zip_with(embedding, c1vec, (x, y) -> x - y)"))
      .withColumn("cell2",
        GraftFunctions.nearestAnchor(col("resid"), lit(m.k2), m.c2))
      .select("vec_id", "cell", "cell2", "embedding")
  }

  /** e08's composite trained assignment (vec_id, cell, cell2, embedding),
    * persisted under "e08_assigned" — factored so the spec can measure
    * cell occupancy/density without the pair stage (the sf10 split is
    * in bench/BENCH_e08_scale_r8.json).
    */
  private[graft] def e08Assigned(s: SparkSession, emb: DataFrame): DataFrame =
    graft.Caching.persistTracked("e08_assigned",
      e08AssignWith(s, e08TrainModel(s, emb), emb))

  // ---- e11: product quantization (PQ) + ADC search --------------------
  // The remaining classic ANN compression: where e07/e09 shrink each
  // DIMENSION to int8 (64 bytes/vector at dim 64), PQ shrinks each
  // SUBSPACE to a codebook index — M=16 bytes/vector, 16x over float32
  // — and the scan never touches vectors: per query ONE M x K lookup
  // table, per corpus row M table adds. Assignment reuses the proven
  // codegen'd NearestAnchor argmax (cosine metric — the angular-PQ
  // variant, matching the engine's similarity space). Search is the
  // production two-stage shape (FAISS's IVFPQ+refine): ADC ranks a
  // SHORTLIST from codes alone, then the shortlist's full vectors —
  // PqShortlist rows per query, point lookups against the id-keyed
  // lake, never a corpus scan — are re-ranked exactly. M chosen for
  // the driver's NEAR-UNIFORM synthetic embeddings (the adversarial
  // case: nothing clusters, so each centroid carries ~4 dims of
  // direction only; M=4 measured recall 0.14, M=16 + re-rank 0.9+).
  private[graft] val PqM = 16        // subspaces
  private[graft] val PqK = 16        // centroids per sub-codebook
  private[graft] val PqShortlist = 50 // ADC re-rank budget at the 500-vec ref

  /** e11's re-rank budget, COUNT-LADDERED: R quadruples per 10x of
    * corpus past the 500-vector gate reference, capped at 6400. A
    * constant 50 was measured collapsing recall at sf10 (0.32 vs 0.88
    * at gate scale — near-uniform distractors overwhelm a 50-deep ADC
    * shortlist as the corpus grows); the ladder restores it while
    * re-rank cost stays R point fetches per query, never a scan
    * (6400 x k queries is kilorows against a 100-TB corpus).
    */
  private[graft] def pqShortlistSize(nVecs: Long): Int = {
    var r = PqShortlist
    var n = 500L
    while (r < 6400 && nVecs > n) { r *= 4; n *= 10 }
    r
  }

  /** The PQ model: M sub-codebooks of K centroids in the sub-dimension —
    * M*K*sub floats (4 KB at dim 64), train-once metadata like E08Model —
    * plus the corpus count the shortlist ladder sizes from.
    */
  final case class PqModel(m: Int, k: Int, sub: Int,
      books: Array[Array[Array[Float]]], nVecs: Long)

  /** Train the M sub-codebooks: each subspace runs the SAME distributed
    * Lloyd as e03/e08 over its slice of every embedding, seeded from the
    * deterministic plane family restricted to that subspace's
    * coordinates (disjoint seeds per subspace by construction).
    */
  private[graft] def pqTrain(emb: DataFrame): PqModel = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % PqM == 0, s"PQ subspaces need dim % $PqM == 0, got $dim")
    val sub = dim / PqM
    val books = Array.tabulate(PqM) { i =>
      val seed = planes(PqK).map(p =>
        p.slice(i * sub, (i + 1) * sub).map(_.toFloat))
      trainLloydSeeded(
        emb.select(col("vec_id"),
          expr(s"slice(embedding, ${i * sub + 1}, $sub)").as("vec")),
        PqK, seed)
    }
    PqModel(PqM, PqK, sub, books, emb.count())
  }

  /** PQ models memoized per embeddings content stamp (the e08ModelMemo
    * discipline: train once per corpus per JVM, probe many).
    */
  private val pqModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, PqModel]()

  private[graft] def pqModelMemo(d: String)(train: => PqModel): PqModel =
    pqModelCache.synchronized {
      val key = Tables.stamp(d, "embeddings")
      Option(pqModelCache.get(key)).getOrElse {
        val m = train
        pqModelCache.clear()
        pqModelCache.put(key, m)
        m
      }
    }

  /** PQ encode: per subspace the codegen'd nearest-anchor argmax over
    * that subspace's codebook — output is (vec_id, code0..code{M-1},
    * recon_n2). recon_n2 is EXACT, not approximate: subspaces
    * concatenate, so |x̂|² = Σ_m |c_m[code_m]|², a per-row element_at
    * over the codebook-norms literal — the ADC cosine denominator
    * without ever reconstructing x̂.
    */
  private[graft] def pqEncode(m: PqModel,
      emb: DataFrame): DataFrame = {
    val coded = (0 until m.m).foldLeft(emb) { (df, i) =>
      df.withColumn(s"code$i", GraftFunctions.nearestAnchor(
        slice(col("embedding"), i * m.sub + 1, m.sub), lit(m.k), m.books(i)))
    }
    val n2Expr = (0 until m.m).map { i =>
      val arr = m.books(i).map(c => c.map(x => x.toDouble * x).sum)
        .mkString("array(", "D,", "D)")
      s"element_at($arr, code$i + 1)"
    }.mkString(" + ")
    coded.withColumn("recon_n2", expr(n2Expr))
      .select(col("vec_id") +: (0 until m.m).map(i => col(s"code$i")) :+
        col("recon_n2"): _*)
  }

  /** e11's ADC shortlist: the per-query M x K lookup tables are COLUMNS
    * on the tiny broadcast query frame (each sub-query dotted against
    * its codebook — declarative transform/aggregate over the codebook
    * literal, so the "table build" is part of the plan, not driver
    * code); per corpus row the score is M element_at adds — never a
    * dim-length loop, the asymmetric-distance-computation shape that
    * makes the PQ scan memory-bandwidth-bound instead of FLOP-bound at
    * 100 TB. Approx cosine = Σ_m T[m][code_m] / (|q| · |x̂|). Emits the
    * top PqShortlist candidates per query (map-side TopKBy heaps).
    */
  /** The per-query ADC lookup tables as COLUMNS on the (tiny) query
    * frame: q_norm + one M-slot table per subspace. Extra columns on
    * `queries` (e12 carries the probed `cell`) ride through untouched.
    */
  private[graft] def pqQueryLut(m: PqModel, queries: DataFrame): DataFrame =
    (0 until m.m).foldLeft(
      queries.withColumn("q_norm", expr(
        "sqrt(aggregate(q_vec, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x))"))
    ) { (df, i) =>
      val book = m.books(i)
        .map(_.map(_.toDouble).mkString("array(", "D,", "D)"))
        .mkString("array(", ",", ")")
      df.withColumn(s"t$i", expr(
        s"transform($book, c -> aggregate(zip_with(c, " +
        s"slice(q_vec, ${i * m.sub + 1}, ${m.sub}), " +
        "(a, b) -> a * CAST(b AS DOUBLE)), 0D, (acc, x) -> acc + x))"))
    }.drop("q_vec") // the tables replace the vector in the broadcast

  /** The ADC cosine of a code row against the broadcast LUT columns. */
  private def adcScore(m: PqModel): org.apache.spark.sql.Column = {
    val scoreExpr = (0 until m.m).map(i => s"element_at(t$i, code$i + 1)")
      .mkString(" + ")
    round(expr(scoreExpr) /
      (col("q_norm") * sqrt(greatest(col("recon_n2"), lit(1e-300))))
      + lit(1e-10), 6)
  }

  private[graft] def pqShortlist(s: SparkSession, m: PqModel,
      codes: DataFrame, queries: DataFrame): DataFrame = {
    val qt = pqQueryLut(m, queries)
    codes.join(broadcast(qt), col("vec_id") =!= col("q_id"))
      .withColumn("adc", adcScore(m))
      .groupBy("q_id")
      .agg(expr(s"topk_by(adc, vec_id, ${pqShortlistSize(m.nVecs)})").as("top"))
      .select(col("q_id"), explode(col("top")).as("c"))
      .select(col("q_id"), col("c.id").as("vec_id"), col("c.score").as("adc"))
  }

  /** e12 (IVFPQ): the ADC scan confined to each query's NProbe coarse
    * cells — FAISS's IVFPQ proper, where e11 is its PQ-flat special
    * case. `cellCodes` is the 16 B/row code table carrying the coarse
    * cell id (codes ⋈ the IVF posting list — both lake artifacts); per
    * query the scan touches ~NProbe/NumCells of the code rows instead
    * of all of them, so at 100 TB the search reads a PRUNED slice of an
    * already-16x-compressed table. A doubly-posted candidate (e03's
    * top-2 replication) reaches a query through both cells — merged on
    * (q_id, vec_id) before the heap, e03Search's discipline.
    */
  private[graft] def ivfPqShortlist(s: SparkSession, m: PqModel,
      cellCodes: DataFrame, centroids: DataFrame,
      queries: DataFrame): DataFrame = {
    val qt = pqQueryLut(m, e03ProbeCells(queries, centroids))
    // qt: (q_id, cell, q_norm, t0..t{M-1})
    cellCodes.join(broadcast(qt), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", adcScore(m))
      .groupBy("q_id", "vec_id").agg(max("adc").as("adc"))
      .groupBy("q_id")
      .agg(expr(s"topk_by(adc, vec_id, ${pqShortlistSize(m.nVecs)})").as("top"))
      .select(col("q_id"), explode(col("top")).as("c"))
      .select(col("q_id"), col("c.id").as("vec_id"), col("c.score").as("adc"))
  }

  /** e11's full search: ADC shortlist from codes alone, then an EXACT
    * cosine re-rank of only the shortlist's vectors (PqShortlist x
    * queries rows — broadcast-joined point fetches against the
    * id-keyed embedding lake, never a second corpus scan), emitted in
    * e01's output shape. The refine stage is what turns a coarse
    * 16-byte code into usable recall on structure-poor data — and at
    * 100 TB it reads R rows per query where the brute-force path reads
    * the corpus.
    */
  private[graft] def pqSearch(s: SparkSession, m: PqModel,
      codes: DataFrame, emb: DataFrame, queries: DataFrame,
      k: Int = TopK): DataFrame =
    pqRefine(pqShortlist(s, m, codes, queries), emb, queries, k)

  /** The exact-cosine refine stage shared by e11 and e12: re-rank only
    * the shortlist's vectors (point fetches against the id-keyed lake,
    * never a second corpus scan), emitted in e01's output shape.
    */
  private[graft] def pqRefine(shortlist: DataFrame, emb: DataFrame,
      queries: DataFrame, k: Int = TopK): DataFrame = {
    val cand = shortlist.select("q_id", "vec_id")
    emb.join(broadcast(cand), "vec_id")
      .join(broadcast(queries), "q_id")
      .withColumn("sim",
        round(expr("cosine_sim(embedding, q_vec)") + lit(1e-10), 6))
      .groupBy("q_id")
      .agg(expr(s"topk_by(sim, vec_id, $k)").as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rk"),
              col("col.id").as("neighbor_id"), col("col.score").as("sim"))
      .orderBy("q_id", "rk")
  }

  /** e07's quantize + dequantize as one frame: (vec_id, dvec) with dvec
    * the float reconstruction the int8 lake implies. Shared by the e09
    * gate entry (inline) and [[graft.sources.AnnIndexLake]]'s
    * reader (from the persisted packed table) — the reconstruction
    * arithmetic is ONE definition, so the two paths cannot drift.
    */
  private[graft] def int8Dequantized(emb: DataFrame): DataFrame = {
    val ex = emb.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("pos", "v")))
    val dims = ex.groupBy("pos")
      .agg(max(abs(col("v").cast("double"))).as("mx"))
    ex.join(broadcast(dims), "pos")
      .withColumn("qv", quantInt8(col("v"), col("mx")))
      .withColumn("dv", dequantInt8(col("qv"), col("mx")))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(" +
                "named_struct('p', pos, 'v', dv))), x -> x.v)").as("dvec"))
  }

  /** The int8 quantization arithmetic (floor(v/scale*127 + .5 + eps),
    * zero-scale dims pinned to 0 — ANSI would throw on the division):
    * ONE definition for the e07 gate entry, the e09 inline dequantize,
    * and the persisted int8 lake writer.
    */
  private[graft] def quantInt8(v: org.apache.spark.sql.Column,
      mx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(mx === 0.0, lit(0))
      .otherwise(floor(v.cast("double") / mx * 127
                       + lit(0.5) + lit(1e-9)).cast("int"))

  /** The int8 reconstruction arithmetic (q * scale / 127 as float, zero
    * scale pinned) — the single definition both dequantize paths use.
    */
  private[graft] def dequantInt8(qv: org.apache.spark.sql.Column,
      mx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(mx === 0.0, lit(0.0)).otherwise(qv * mx / 127).cast("float")

  /** Every vector scored against every anchor (anchors broadcast — the
    * matrix is NumCells rows). Shared by e03's trainer, indexer, and
    * prober.
    */
  private def e03CellSims(vecs: DataFrame, anchors: DataFrame,
      vecCol: String): DataFrame =
    vecs.crossJoin(broadcast(anchors))
      .withColumn("sim_a", expr(s"cosine_sim($vecCol, anchor)"))

  /** e03's coarse quantizer: NumCells deterministic seed anchors refined
    * by TWO distributed Lloyd iterations — assignment is a broadcast
    * cross-join + max_by groupBy (all codegen, map-side combinable), the
    * centroid mean is a per-dimension explode + avg, and NOTHING touches
    * the driver: the model STAYS a DataFrame, which is also what makes
    * it directly lake-persistable ([[graft.sources.AnnIndexLake]] —
    * train once, probe many with zero Lloyd jobs).
    */
  private[graft] def e03TrainCentroids(s: SparkSession,
      emb: DataFrame): DataFrame = {
    val sp = s
    import sp.implicits._
    // deterministic tie-break on equal similarity: prefer lower cell id
    def nearestCell(anchors: DataFrame): DataFrame =
      e03CellSims(emb, anchors, "embedding")
        .groupBy(col("vec_id"))
        .agg(expr("max_by(cell, named_struct('s', sim_a, 'c', -cell))").as("cell"),
             first(col("embedding")).as("embedding"))
    // one Lloyd iteration: mean of each cell's members, per dimension
    def lloydIter(anchors: DataFrame): DataFrame =
      nearestCell(anchors)
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy("cell", "pos").agg(avg("col").as("v"))
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(named_struct('p', pos, 'v', v)))," +
                  " x -> CAST(x.v AS float))").as("anchor"))
    val seed = planes(NumCells).zipWithIndex
      .map { case (p, i) => (i, p.map(_.toFloat).toSeq) }.toSeq
      .toDF("cell", "anchor")
    lloydIter(lloydIter(seed))
  }

  /** The inverted file: (vec_id, embedding, cell) postings, each vector
    * posted to its TOP-2 cells (the standard IVF replication trick: 2x
    * index storage buys a squared-miss recall boost).
    */
  private[graft] def e03Postings(emb: DataFrame,
      centroids: DataFrame): DataFrame =
    e03CellSims(emb, centroids, "embedding")
      .groupBy(col("vec_id"))
      .agg(expr("topk_by(sim_a, CAST(cell AS BIGINT), 2)").as("cells"),
           first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"),
              explode(col("cells.id")).as("cell"))

  /** e03's probe-side search: each query probes its NProbe nearest cells
    * (tiny broadcast), exact cosine only within probed cells, duplicate
    * (doubly-posted) candidates merged map-side, top-k via the bounded
    * TopKBy heap. Takes postings + centroids as frames, so the same
    * search runs over the inline index (gate) or one read back from the
    * lake — with zero training on the probe side.
    */
  /** Each query's NProbe nearest coarse cells (queries x NumCells rows:
    * tiny) — shared by e03's float search and e12's IVFPQ.
    */
  private[graft] def e03ProbeCells(queries: DataFrame,
      centroids: DataFrame): DataFrame = {
    val wq = Window.partitionBy("q_id").orderBy(col("sim_a").desc, col("cell"))
    e03CellSims(queries, centroids, "q_vec")
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= NProbe)
      .select(col("q_id"), col("q_vec"), col("cell").cast("long").as("cell"))
  }

  private[graft] def e03Search(s: SparkSession, postings: DataFrame,
      centroids: DataFrame, queries: DataFrame, k: Int = TopK): DataFrame = {
    val probes = e03ProbeCells(queries, centroids)
    postings
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(expr("cosine_sim(embedding, q_vec)") + lit(1e-10), 6))
      // merge the (at most 2) copies of a doubly-posted candidate
      .groupBy("q_id", "vec_id").agg(max("sim").as("sim"))
      .groupBy("q_id")
      .agg(expr(s"topk_by(sim, vec_id, $k)").as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rk"),
              col("col.id").as("neighbor_id"), col("col.score").as("sim"))
      .orderBy("q_id", "rk")
  }

  /** e10's verdict stage under a FIXED model: arriving vectors assigned
    * by the trained quantizer, probed against the EXISTING corpus's
    * assignment (i_id/i_vec per composite cell), one min_by selection of
    * the lowest Jaccard-era-style verified match (d24's rule in
    * embedding space — verified here means rounded cosine >= 0.35).
    * Factored so the gate (freshly trained model) and the lake path
    * (model + postings read from [[graft.sources.AnnIndexLake]], zero
    * training) drive the SAME plan — the spec proves their verdicts
    * identical.
    */
  private[graft] def e10VerdictsWith(s: SparkSession, m: E08Model,
      idxAssigned: DataFrame, arriving: DataFrame): DataFrame = {
    e08AssignWith(s, m, arriving)
      .join(idxAssigned, Seq("cell", "cell2"), "left")
      .withColumn("sim_raw",
        when(col("i_id").isNotNull,
          round(expr("cosine_sim(embedding, i_vec)") + lit(1e-10), 6)))
      .groupBy("vec_id")
      .agg(expr("min_by(named_struct('m', i_id, 's', sim_raw), " +
                "CASE WHEN sim_raw >= 0.35 THEN i_id END)").as("near"))
      .select(col("vec_id"),
        when(col("near.m").isNotNull, "near_dup").otherwise("new").as("verdict"),
        col("near.m").as("match_id"),
        when(col("near.m").isNotNull, col("near.s")).as("sim"))
      .orderBy("vec_id")
  }

  /** The index side's (cell, cell2, i_id, i_vec) frame for [[e10VerdictsWith]]. */
  private[graft] def e10IndexAssigned(s: SparkSession, m: E08Model,
      index: DataFrame): DataFrame =
    e08AssignWith(s, m, index)
      .select(col("cell"), col("cell2"),
              col("vec_id").as("i_id"), col("embedding").as("i_vec"))

  /** e09's asymmetric search: raw float queries against a dequantized
    * int8 corpus — e01's plan skeleton (broadcast queries, codegen'd
    * cosine, map-side TopKBy heaps). Takes the corpus as a frame so the
    * same search runs over the inline dequantize (gate) or the persisted
    * int8 lake ([[graft.sources.AnnIndexLake]]).
    */
  private[graft] def knnInt8Search(s: SparkSession, deq: DataFrame,
      queries: DataFrame, k: Int = TopK): DataFrame = {
    deq.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        round(expr("cosine_sim(dvec, q_vec)") + lit(1e-10), 6))
      .groupBy("q_id")
      .agg(expr(s"topk_by(sim, vec_id, $k)").as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rk"),
              col("col.id").as("neighbor_id"), col("col.score").as("sim"))
      .orderBy("q_id", "rk")
  }

  /** e01's brute-force search over an ARBITRARY query frame (q_id,
    * q_vec) — the exact-answer baseline every approximate tier is
    * measured against, and [[graft.sources.AnnIndexLake.search]]'s
    * "brute" tier. e01's plan skeleton verbatim: broadcast queries,
    * codegen'd cosine, map-side bounded TopKBy heaps — only k rows per
    * (query, map task) ever shuffle, where a window-rank formulation
    * would shuffle the entire scored corpus per query at 100 TB. Query
    * ids share the corpus id space: a query whose id equals a corpus
    * vector's excludes that vector (self-match exclusion — the gate
    * semantics; disjoint hand ids exclude nothing).
    */
  /** e15's HYBRID retrieval kernel: query-by-example fusion of a
    * lexical BM25 leg (d32's scoring, the query doc's own terms as the
    * query) and a dense embedding-cosine leg (e01's kernel), combined
    * by RECIPROCAL RANK FUSION — `sum(1 / (60 + rank))` over each leg's
    * top-[[HybridLegK]] list, the standard score-free fusion (leg
    * scores are incommensurable; ranks are not). Retrieval structure:
    *  - lexical candidates come from the inverted term join (cost ∝
    *    postings of the query's terms, never corpus²); per-term BM25
    *    contributions are rounded to 8dp and summed as DECIMAL — exact
    *    and associative, so Spark's partial-agg tree and DuckDB's
    *    serial scan rank identically (the d42 determinism discipline);
    *  - the dense leg broadcasts the query block and heaps top-k
    *    map-side (topk_by — no global sort);
    *  - fusion is a full-outer join of two shortlist tables (leg-k
    *    sized, not corpus sized) — a doc missing from one leg simply
    *    contributes nothing there, the textbook RRF contract.
    * Ties everywhere break by doc_id; rrf itself is rank arithmetic
    * (exact in doubles), so the fused order is engine-independent.
    */
  private[graft] def hybridSearch(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    hybridSearchIds(s, d,
      emb.filter(col("vec_id") < HybridQueries)
        .select(col("vec_id").as("q_id")))
  }

  /** [[hybridSearch]] for an arbitrary query-id frame — the streaming
    * face's entry point (s31): queries are independent (each leg's
    * ranks are per-query; RRF fuses per-query ranks), so batch
    * composition cannot change any answer — a drained stream of query
    * batches equals the one-shot batch run row for row.
    */
  private[graft] def hybridSearchIds(s: SparkSession, d: String,
      qids: DataFrame): DataFrame = {
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    // lexical leg — d32's BM25 statistics. The corpus-side model
    // tables (tf/dl/df) are a pure function of the corpus, not of the
    // query batch — reuse-cached per CONTENT stamp (the cascade-sketch
    // discipline) so a streaming endpoint (s31) builds them once and
    // every later micro-batch probes the cached tables instead of
    // re-aggregating the corpus per batch.
    // keyed reuse: a NEW corpus stamp unpersists the superseded stamp's
    // tf/dl/df tables (one live model per artifact, no per-update leak)
    val stampKey = Tables.stamp(d, "documents")
    val tf = graft.Caching.persistTrackedReuseKeyed("hybrid_tf_", stampKey,
      docs
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dl = graft.Caching.persistTrackedReuseKeyed("hybrid_dl_", stampKey,
      tf.groupBy("doc_id").agg(sum("tf").as("dl")))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val dfT = graft.Caching.persistTrackedReuseKeyed("hybrid_df_", stampKey,
      tf.groupBy("term").agg(count(lit(1)).as("df")))
    val qterms = tf
      .join(broadcast(qids), col("doc_id") === col("q_id"), "left_semi")
      .filter(length(col("term")) >= 4)
      .select(col("doc_id").as("q_id"), col("term")).distinct()
    val lex = tf.join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("q_id"))
      .join(dfT, "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("norm",
        lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))
      .withColumn("ts",
        round(col("idf") * ((col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * col("norm"))) + lit(1e-9), 8)
          .cast("decimal(20,8)"))
      .groupBy("q_id", "doc_id").agg(sum("ts").as("score"))
    val lexRank = lex
      .withColumn("lex_rk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("score"), col("doc_id"))))
      .filter(col("lex_rk") <= HybridLegK)
      .select("q_id", "doc_id", "lex_rk")
    // dense leg — e01's kernel, shortlist width HybridLegK
    val qv = emb
      .join(broadcast(qids), col("vec_id") === col("q_id"), "left_semi")
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val vecRank = emb.join(broadcast(qv), col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        round(expr("cosine_sim(embedding, q_vec)") + lit(1e-10), 6))
      .groupBy("q_id")
      .agg(expr(s"topk_by(sim, vec_id, $HybridLegK)").as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("vec_rk"),
              col("col.id").as("doc_id"))
    // reciprocal rank fusion over the two shortlists
    val fused = lexRank
      .join(vecRank, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("lex_rk")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(RrfK) + col("vec_rk")), lit(0.0)))
    fused
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("rrf"), col("doc_id"))))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("rk").cast("int").as("rk"), col("doc_id"),
              round(col("rrf"), 6).as("rrf"))
      .orderBy("q_id", "rk")
  }

  private[graft] def knnBruteSearch(s: SparkSession, emb: DataFrame,
      queries: DataFrame, k: Int = TopK): DataFrame = {
    emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        round(expr("cosine_sim(embedding, q_vec)") + lit(1e-10), 6))
      .groupBy("q_id")
      .agg(expr(s"topk_by(sim, vec_id, $k)").as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rk"),
              col("col.id").as("neighbor_id"), col("col.score").as("sim"))
      .orderBy("q_id", "rk")
  }

  /** The e13/e14 int8 cascade sketch over (vec_id, embedding, ...):
    * per-vector int8 code dequantized back to float (`dx`), its norm
    * (`dn`), and the EXACT residual norm (`rx`) that makes the
    * per-pair bound |cos(x,y) - dx.dy| <= rx + ry + rx*ry
    * (Cauchy-Schwarz on the quantization residuals — e13's derivation,
    * see the e13 gate comment). Extra input columns (label, any
    * attribute a filtered search prunes on) ride along.
    *
    * Callers MATERIALIZE this (persistTracked / a lake table), for two
    * reasons that are the same reason at 100 TB: (1) the higher-order
    * array functions here (transform/aggregate/zip_with) evaluate
    * interpreted, outside whole-stage codegen — left as expressions
    * they collapse into the downstream join projection and re-run PER
    * PAIR (the first e13 ladder run measured exactly that: minutes at
    * sf1); (2) in production the sketch IS the stored artifact — built
    * once at ingest, scanned instead of the float vectors. Sizes at
    * this corpus's dim=64: the int8 codes are 64 B + 2 scalars ≈ 80 B/
    * row packed (bench/BENCH_ann_tiers_r17.json) vs the 256 B float
    * vector; the materialized `dx` column here is array<float> — 256 B,
    * the same as the embedding — so the GATE artifact trades no storage, only
    * IO shape (the scan can exclude `embedding`); the ~80 B packed
    * tinyint layout is the production form (store qx+sx, dequantize in
    * the scan projection). Everything per-pair downstream is codegen:
    * one native cosine_sim + two multiplies.
    */
  private[graft] def int8CascadeSketch(emb: DataFrame): DataFrame =
    emb
      .withColumn("nrm", sqrt(aggregate(
        transform(col("embedding"), v => (v * v).cast("double")),
        lit(0.0), (a, x) => a + x)))
      .filter(col("nrm") > 0)
      .withColumn("nx",
        transform(col("embedding"), v => v.cast("double") / col("nrm")))
      .withColumn("sx",
        array_max(transform(col("nx"), v => abs(v))) / lit(127.0))
      .withColumn("qx", transform(col("nx"),
        v => floor(v / col("sx") + lit(0.5) + lit(1e-9)).cast("long")))
      // dequantized sketch vector dx = sx*qx and its stored norm/
      // residual: approx(x, y) = dx.dy = cosine_sim(dx, dy)*|dx|*|dy|
      // — the dot rides the NATIVE cosine expression, scalars undo
      // its normalization
      .withColumn("dx", transform(col("qx"),
        q => (col("sx") * q).cast("float")))
      .withColumn("dn", sqrt(aggregate(
        transform(col("dx"), v => (v * v).cast("double")),
        lit(0.0), (a, x) => a + x)))
      .withColumn("rx", sqrt(aggregate(
        zip_with(col("nx"), col("qx"),
          (n, q) => (n - col("sx") * q) * (n - col("sx") * q)),
        lit(0.0), (a, x) => a + x)))
      .drop("nrm", "nx", "sx", "qx")

  /** An ARBITRARY query frame (q_id, q_vec) carried through
    * [[int8CascadeSketch]] and renamed to the cascade's query-side
    * column names — MATERIALIZED to literal rows before return. The
    * sketch builds five projections whose interpreted lambdas
    * self-reference (dx/dn/rx each inline nx/sx/qx); left as lineage
    * inside a consumer's join plan, that expression tree costs the
    * OPTIMIZER/codegen a constant ~5 s per execution (measured at any
    * corpus size — the per-plan twin of the per-pair trap
    * [[int8CascadeSketch]]'s doc describes). Query batches are small
    * by contract (every consumer broadcasts this frame), so one
    * driver-side collect truncates the lineage for the cost of the
    * rows themselves.
    */
  private[graft] def cascadeQuerySketch(queries: DataFrame): DataFrame = {
    val skq = int8CascadeSketch(queries.select(
        col("q_id").cast("long").as("vec_id"), col("q_vec").as("embedding")))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
              col("dx").as("dy"), col("dn").as("dm"), col("rx").as("ry"))
    import scala.jdk.CollectionConverters._
    queries.sparkSession.createDataFrame(
      skq.collect().toSeq.asJava, skq.schema)
  }

  /** EXACT top-k search through the lossless int8 cascade — e14's plan,
    * and [[graft.sources.AnnIndexLake.searchWhere]]'s kernel. Guaranteed
    * to return exactly [[knnBruteSearch]]'s answer over `sk`'s rows (the
    * e14 oracle hash-match is the proof), while scoring the float
    * vectors only for bound-admitted survivors:
    *
    *  1. int8 pass: approx = dx.dy with its per-pair error bound eps
    *     (tight, from stored residual norms — see [[int8CascadeSketch]]);
    *  2. per-query threshold: thr = k-th largest LOWER bound
    *     (approx - eps), via the same map-side-combining TopKBy heap the
    *     exact pass uses — k rows per (query, map task) shuffle, never
    *     the scored corpus. thr <= the k-th largest true cosine, because
    *     each lower bound is <= its own true cosine and k-th-largest is
    *     monotone under pointwise domination;
    *  3. survivors: UPPER bound >= thr - 2e-6. Any true top-k member x
    *     has ub(x) >= cos(x) >= k-th true cosine >= thr, so nothing is
    *     ever lost; the 2e-6 slack additionally covers candidates that
    *     TIE with the k-th answer only after the gate's 6dp rounding
    *     (one rounding quantum + binary-decimal error) — those must
    *     survive for the deterministic id tie-break to see them;
    *  4. exact float cosine + TopKBy on survivors only.
    *
    * Queries with fewer than k admitted candidates get thr = -2
    * (below any possible lower bound): everything they admit is scored.
    *
    * THE IO SPLIT (the 100-TB point): `sk` is the SKETCH ONLY — in
    * production the persisted [[graft.sources.AnnIndexLake]] cascade
    * artifact, which physically lacks the embedding column — and the
    * float vectors live in `emb` (vec_id, embedding), the embeddings
    * lake. Both sketch passes scan the narrow artifact; only the
    * bound-admitted survivors (~k x slack per query) join `emb` by id
    * for their exact float score. The survivor side shrinks to
    * query-batch size at runtime, so AQE converts that fetch join to a
    * broadcast from its shuffle stats — the static estimate (derived
    * from the corpus-sized pair frame) could not know that, which is
    * precisely the runtime-re-plan case AQE exists for.
    */
  private[graft] def cascadeKnnSearch(s: SparkSession, sk: DataFrame,
      qsk: DataFrame, emb: DataFrame, k: Int = TopK): DataFrame = {
    val pairs = sk.join(broadcast(qsk), col("vec_id") =!= col("q_id"))
      .withColumn("approx",
        expr("cosine_sim(dx, dy)") * col("dn") * col("dm"))
      .withColumn("eps",
        col("rx") + col("ry") + col("rx") * col("ry") + lit(2e-6))
    val thr = pairs
      .groupBy("q_id")
      .agg(expr(s"topk_by(approx - eps, vec_id, $k)").as("top"))
      .select(col("q_id"),
        when(size(col("top")) < k, lit(-2.0))
          .otherwise(element_at(col("top"), k).getField("score"))
          .as("thr"))
    pairs.join(broadcast(thr), "q_id")
      .filter(col("approx") + col("eps") >= col("thr") - lit(2e-6))
      .select("q_id", "vec_id", "q_vec")
      .join(emb.select("vec_id", "embedding"), "vec_id") // the point fetch
      .withColumn("sim",
        round(expr("cosine_sim(embedding, q_vec)") + lit(1e-10), 6))
      .groupBy("q_id")
      .agg(expr(s"topk_by(sim, vec_id, $k)").as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rk"),
              col("col.id").as("neighbor_id"), col("col.score").as("sim"))
      .orderBy("q_id", "rk")
  }

  /** e02's banded + density-laddered + Hamming-≤2 multiprobe LSH search
    * over an ARBITRARY query frame — the gate entry's plan with one
    * generalization: query codes come from the SAME sign-code family at
    * the CORPUS-count-laddered width (bandedCodes' countOver), so a
    * query vector that never lives in the corpus still probes the
    * index's buckets. For queries that ARE corpus rows the codes are
    * bit-identical to the corpus's own (same planes, same width, same
    * masking), so the gate's results are reproduced exactly
    * (AnnSearchApiSpec asserts it).
    */
  private[graft] def e02LshSearch(s: SparkSession, emb: DataFrame,
      queries: DataFrame, k: Int = TopK): DataFrame = {
    val bands = bandedCodes(emb, E02TargetBucket)
    val qCodes = bandedCodes(
      queries.select(col("q_id").as("vec_id"), col("q_vec").as("embedding")),
      E02TargetBucket, countOver = emb)
    lshProbeStage(s, bands, qCodes, emb, queries, k)
  }

  /** e02's probe stage over an ARBITRARY banded code table (vec_id,
    * band, bcode): multiprobe flip set per (query, band), bucket join,
    * exact cosine re-rank with the map-side TopKBy heap. Factored so
    * the SAME plan runs over in-plan corpus codes (the e02 gate) or the
    * persisted [[graft.sources.AnnIndexLake]] LSH code table — where
    * the corpus side is a parquet scan and only the query handful is
    * sign-coded per call.
    */
  private[graft] def lshProbeStage(s: SparkSession, bands: DataFrame,
      qCodes: DataFrame, emb: DataFrame, queries: DataFrame,
      k: Int = TopK): DataFrame = {
    // flip indices (i, j) over 1-based bit positions with 0 = "no
    // flip": (0,0) is the home bucket, (i,0) single flips, (i,j<i)
    // double flips — 1 + bits + C(bits,2) probes per (query, band)
    val probes = qCodes
      .select(col("vec_id").as("q_id"), col("band"), col("bcode"),
              col("bits"))
      .withColumn("i", explode(sequence(lit(0), col("bits"))))
      .withColumn("j", explode(sequence(lit(0), col("i"))))
      .filter(col("j") < col("i") || (col("i") === 0 && col("j") === 0))
      .withColumn("pcode", expr(
        """bcode
          | ^ (CASE WHEN i > 0 THEN shiftleft(1, i - 1) ELSE 0 END)
          | ^ (CASE WHEN j > 0 THEN shiftleft(1, j - 1) ELSE 0 END)"""
          .stripMargin))
      .select(col("q_id"), col("band"), col("pcode").as("bcode"))
    bands.join(broadcast(probes), Seq("band", "bcode"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
      .join(emb, "vec_id")
      .join(broadcast(queries), "q_id")
      .withColumn("sim", round(expr("cosine_sim(embedding, q_vec)") + lit(1e-10), 6))
      // same scale argument as e01: map-side bounded heaps, only k
      // rows per (query, task) shuffle — never a window over the
      // whole candidate set
      .groupBy("q_id")
      .agg(expr(s"topk_by(sim, vec_id, $k)").as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rk"),
              col("col.id").as("neighbor_id"), col("col.score").as("sim"))
      .orderBy("q_id", "rk")
  }

  /** e08's full body over an arbitrary embeddings frame (the spec plants
    * duplicates through this): trained composite assignment, then e04's
    * drop rule — within each composite cell, drop every vector with a
    * LOWER-id near-duplicate (rounded cosine >= 0.35).
    */
  private[graft] def e08BodyFrom(s: SparkSession, emb: DataFrame): DataFrame = {
    e08PairStage(e08Assigned(s, emb))
  }

  /** e08's in-cell pair stage over an assignment frame (vec_id, cell,
    * cell2, embedding): within each composite cell, drop every vector
    * with a LOWER-id near-duplicate (rounded cosine >= 0.35). Factored
    * so the same dedup runs on a freshly-trained assignment (gate) or on
    * one read back from the persisted index
    * ([[graft.sources.AnnIndexLake]] — zero retraining).
    */
  private[graft] def e08PairStage(assigned: DataFrame): DataFrame = {
    val a = assigned.select(col("cell"), col("cell2"),
                            col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val b = assigned.select(col("cell"), col("cell2"),
                            col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    val removed = a.join(b, Seq("cell", "cell2"))
      .filter(col("a_id") < col("b_id"))
      .filter(round(expr("cosine_sim(a_vec, b_vec)") + lit(1e-10), 6) >= 0.35)
      .select(col("b_id").as("vec_id")).distinct()
    assigned.join(removed, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"), col("cell2"))
      .orderBy("vec_id")
  }

  val defs: Map[String, OpDef] = Map(

    // Brute-force cosine top-k for a fixed query set (vec_id < 5), ranked
    // on the rounded score with vec_id tie-break for full determinism.
    // Top-k selection is the custom TopKBy aggregate (map-side bounded
    // heaps that merge), so only k rows per (query, map task) ever
    // shuffle — a window-rank formulation would shuffle the entire
    // scored corpus per query at 100 TB.
    // e15: HYBRID SEARCH — BM25 lexical + embedding-cosine legs fused
    // by reciprocal rank fusion (the retrieval stack a RAG corpus
    // actually runs: lexical recall for rare exact terms, dense recall
    // for paraphrase, RRF because the two scores are incommensurable).
    // Query-by-example over both modalities (doc_id/vec_id are 1:1 in
    // this corpus). The whole plan is shortlist-shaped: inverted term
    // join for lexical candidates (∝ postings, never corpus²), a
    // broadcast+heap dense leg, and a full-outer join of two leg-k
    // tables for the fusion. Hash-proven end to end — both legs' rank
    // orders AND the fused order survive the engine boundary (decimal
    // term sums + 6dp sims + doc_id tiebreaks everywhere).
    "e15_hybrid_search" -> OpDef.sql(
      (s, d) => hybridSearch(s, d),
      e15Sql),

    "e01_knn_brute" -> OpDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        knnBruteSearch(s, emb,
          emb.filter(col("vec_id") < NumQueries)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")))
      },
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
         |  FROM embeddings WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q.q_id, e.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec) + 1e-10, 6) AS sim
         |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id)
         |SELECT q_id,
         |       CAST(row_number() OVER (PARTITION BY q_id
         |         ORDER BY sim DESC, neighbor_id) AS INT) AS rk,
         |       neighbor_id, sim
         |FROM scored
         |QUALIFY rk <= $TopK
         |ORDER BY q_id, rk""".stripMargin),

    // Embedding-cosine near-dup pairs, banded sign-LSH: candidates are
    // pairs sharing ANY of NumDupBands independent hyperplane sign codes,
    // kept when cosine >= 0.35. Two scale properties, both oracle-checked
    // (the DuckDB SQL replicates the bucketing bit for bit):
    //
    //  1. DENSITY-SCALED WIDTH. The active code width per band is derived
    //     from the corpus count (bandBitsCase — a broadcast one-row count,
    //     no driver action), so mean bucket density stays ~TargetBucket at
    //     any scale and candidate-pair work is density x n — LINEAR where
    //     the r4 fixed-16-bucket form was (n/16)^2 (measured 45x at 10x
    //     data; see bandBits's scaladoc for the cap algebra).
    //  2. BANDED RECALL. Widening one code trades recall for density
    //     (P[collide] = p^bits, p = 1 - acos(sim)/pi); OR-ing NumDupBands
    //     independent tables buys it back (1 - (1-p^bits)^B, the classic
    //     LSH band construction d02 uses in minhash space) at B x the
    //     candidate cost — the bounded way to keep catching high-sim pairs
    //     as width grows.
    //
    // Shape: codes are masked slices of per-band full-width codes (static
    // SQL text, dynamic width), the band self-join shuffles on (band,
    // code), multi-band collisions collapse via DISTINCT on the narrow id
    // pair BEFORE vectors are re-joined for the one exact-cosine verify
    // per pair (d02's candidates->verify shape).
    "d09_embed_dup" -> OpDef.sql(
      (s, d) => embedDupPairs(s, d).orderBy("a_id", "b_id"),
      duckD09Sql + "\nORDER BY a_id, b_id"),

    // Embedding-side cluster canonicalization (SemDeDup completed): the
    // d13 treatment applied to d09's verified near-dup pairs — connected
    // components by the shared pointer-jumping min-label loop, canonical
    // = component minimum, plus cluster size. Together with d13 the
    // corpus now has BOTH canonicalization axes a real pipeline runs:
    // textual near-dup clusters (d02 space) and semantic near-dup
    // clusters (embedding space). Same scale shape as d13: one driver
    // scalar per round, O(log diameter) rounds, checkpointed lineage.
    // Oracle: DuckDB WITH RECURSIVE reachability over the embedded d09
    // pair SQL — the entire pipeline (banded LSH, ladder, verify,
    // components) replicated in SQL.
    "e06_embed_clusters" -> OpDef.sql(
      (s, d) => {
        // label table memoized per embeddings stamp, like d13's (the
        // persisted-lake-artifact cost model — see Dedup.memoLabels)
        val lab = Dedup.memoLabels("e06",
            graft.sources.Tables.stamp(d, "embeddings")) {
          val pairs = graft.Caching.persistTracked("e06_pairs",
            embedDupPairs(s, d).select("a_id", "b_id"))
          val edges = graft.Caching.persistTracked("e06_edges",
            pairs.union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
              .toDF("src", "dst"))
          Dedup.propagateLabels(s, edges, name = "e06")
        }.toDF("vec_id", "cluster_id")
        lab
          .join(lab.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size")),
                "cluster_id")
          .select("vec_id", "cluster_id", "cluster_size")
          .orderBy("vec_id")
      },
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a_id, b_id FROM (
         |${duckD09Sql.linesIterator.map("    " + _).mkString("\n")}
         |  ) p),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION
         |  SELECT b_id AS src, a_id AS dst FROM pairs),
         |reach(src, lbl) AS (
         |  SELECT src, src AS lbl FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src),
         |lab AS (
         |  SELECT src AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY src),
         |sz AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM lab GROUP BY cluster_id)
         |SELECT l.vec_id, l.cluster_id, s.cluster_size
         |FROM lab l JOIN sz s USING (cluster_id)
         |ORDER BY vec_id""".stripMargin),

    // IVF (inverted-file) approximate nearest neighbors — the
    // data-adaptive ANN scale path next to e02's data-oblivious LSH.
    //
    // Coarse quantizer: NumCells deterministic seed anchors (the shared
    // hyperplane family) refined by TWO distributed Lloyd iterations —
    // assignment is a broadcast cross-join + max_by groupBy (all codegen,
    // map-side combinable), the centroid mean is a per-dimension explode +
    // avg (one shuffle of NumCells x dim partials), and NOTHING touches
    // the driver: no collect, no fit-on-driver, so the build scales with
    // the corpus.
    //
    // Index: each corpus vector is posted to its TOP-2 cells (the
    // standard IVF replication trick): 2x index storage buys a
    // squared-miss recall boost — a true neighbor is lost only if BOTH
    // its cells go unprobed, which took mean recall@10 from 0.76 to ~0.95
    // at the same 50% probe on the near-uniform synthetic corpus.
    // Duplicate candidates (a vector reached via both cells) are merged
    // on the narrow (q_id, vec_id, sim) triple — map-side combinable —
    // before the top-k heap, which would otherwise count one id twice.
    //
    // Search: each query probes its NProbe nearest cells (tiny
    // broadcast), exact cosine only within probed cells, top-k via the
    // map-side-bounded TopKBy heap like e01/e02.
    //
    // Rows-only: distributed Lloyd iterations have no tractable SQL twin.
    // Instead AnnRecallSpec measures recall@k against the exact e01
    // baseline and asserts the floor, and pins the structure (candidates
    // come only from probed cells).
    //
    // Train-once (r11): the gate no longer retrains per run — the coarse
    // quantizer + inverted file persist as an AnnIndexLake artifact per
    // corpus stamp (the e08/e10 discipline completing the ANN family),
    // and every invocation after the first is a pure index read + probe
    // with zero Lloyd jobs (AnnIndexLakeSpec asserts result identity
    // and the no-training reuse).
    "e03_ann_ivf" -> OpDef.rowsOnly(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val dir = graft.sources.AnnIndexLake.ensureE03Index(s, d, emb)
        graft.sources.AnnIndexLake.e03SearchFromIndex(s, dir, emb,
          emb.filter(col("vec_id") < NumQueries)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")))
      }),

    // Semantic dedup (SemDeDup-style, arXiv:2303.09540 shape): partition
    // the embedding space into cells, then within each cell drop every
    // vector that has a LOWER-id near-duplicate (cosine >= 0.35) in the
    // same cell — the "keep one representative per semantic duplicate
    // set" pruning step of an embedding-curated corpus. Fully
    // SQL-expressible (unlike e03's Lloyd loop) because the quantizer
    // here is the DETERMINISTIC seed-anchor assignment: nearest of the
    // active anchors by epsilon-rounded cosine, ties to the lower cell —
    // so the whole pipeline (assignment, in-cell pairs, survivor
    // anti-join) hash-matches DuckDB running the same arithmetic.
    //
    // Scale shape: anchor assignment is a broadcast cross-join + one
    // max_by groupBy (map-side combinable, like e03's); the in-cell pair
    // step shuffles on cell and its work is (cell density)^2, so the
    // ACTIVE cell count is density-laddered from the corpus count
    // (semCellsCase — one-row broadcast, no driver action; the d09
    // discipline): the anchor table is MaxSemCells wide static SQL text,
    // assignment only considers cells below the ladder value, and the
    // planes family is prefix-consistent, so a small corpus's cells are
    // a strict prefix of a large one's. The anchors are double planes
    // truncated to FLOAT (the embedding element type), the oracle's
    // literals those same float values — both engines fold in double
    // over identical inputs.
    "e04_semantic_dedup" -> OpDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // one metadata-only count, two uses: the saturation check and
        // the ladder width (through the Scala twin, spec-pinned equal
        // to the oracle's CASE text) — replacing the one-row broadcast
        // that recomputed the same scalar in-plan
        val corpusN = emb.count()
        capWarning("e04_semantic_dedup", corpusN, SemLevel2At,
          "e04_semantic_dedup_large (two-level composite quantizer, " +
          "density-bounded to ~4M vectors)")
          .foreach(System.err.println)
        // per-row codegen'd argmax over the float anchor matrix (see
        // NearestAnchor) — same assignment the oracle's scored/rank CTE
        // computes, without exploding corpus_n x ncells rows
        val sized = emb.withColumn("ncells", lit(semCells(corpusN)))
        // persisted: both sides of the in-cell self-join and the final
        // survivor anti-join read it — unpersisted, the whole anchor
        // scoring pass would run three times
        val assigned = graft.Caching.persistTracked("e04_assigned",
          sized.select(col("vec_id"),
            GraftFunctions.nearestAnchor(col("embedding"), col("ncells"),
              planes(MaxSemCells).map(_.map(_.toFloat))).as("cell"),
            col("embedding")))
        val a = assigned.select(col("cell"), col("vec_id").as("a_id"),
                                col("embedding").as("a_vec"))
        val b = assigned.select(col("cell"), col("vec_id").as("b_id"),
                                col("embedding").as("b_vec"))
        val removed = a.join(b, Seq("cell"))
          .filter(col("a_id") < col("b_id"))
          .filter(round(expr("cosine_sim(a_vec, b_vec)") + lit(1e-10), 6) >= 0.35)
          .select(col("b_id").as("vec_id")).distinct()
        assigned.join(removed, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("cell"))
          .orderBy("vec_id")
      }, {
        // anchor literals = the Spark side's float-truncated planes,
        // rendered through Double.toString (shortest repr that
        // round-trips, so DuckDB parses back the identical double)
        val anchorRows = planes(MaxSemCells).zipWithIndex.map { case (p, i) =>
          p.map(x => x.toFloat.toDouble).mkString(s"($i, [", ",", "]::DOUBLE[])")
        }.mkString(",\n           ")
        s"""WITH anchors(cell, anchor) AS (VALUES
           |           $anchorRows),
           |n AS (SELECT count(*) AS corpus_n FROM embeddings),
           |p AS (SELECT ${semCellsCase("corpus_n")} AS ncells FROM n),
           |scored AS (
           |  SELECT e.vec_id, e.embedding::DOUBLE[] AS vec, a.cell,
           |         round(list_cosine_similarity(e.embedding::DOUBLE[], a.anchor)
           |               + 1e-10, 6) AS sim_a
           |  FROM embeddings e, anchors a, p WHERE a.cell < p.ncells),
           |assigned AS (
           |  SELECT vec_id, vec, cell FROM (
           |    SELECT vec_id, vec, cell,
           |           row_number() OVER (PARTITION BY vec_id
           |             ORDER BY sim_a DESC, cell) AS rk
           |    FROM scored) WHERE rk = 1),
           |removed AS (
           |  SELECT DISTINCT b.vec_id
           |  FROM assigned a JOIN assigned b
           |    ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE round(list_cosine_similarity(a.vec, b.vec) + 1e-10, 6) >= 0.35)
           |SELECT a.vec_id, a.cell FROM assigned a
           |LEFT JOIN removed r ON a.vec_id = r.vec_id
           |WHERE r.vec_id IS NULL
           |ORDER BY a.vec_id""".stripMargin
      }),

    // Semantic dedup PAST e04's cell cap — the two-level composite
    // quantizer (see [[e04LargeBody]]'s scaladoc for the full design).
    // Fully SQL-expressible like e04: both levels are deterministic
    // nearest-anchor assignments, so the oracle hash-checks the whole
    // composite pipeline (a trained-quantizer variant would have been
    // rows-only — the deterministic wider family keeps the stronger
    // gate). At gate scale ncells2 = 1 and the output is e04's with a
    // constant cell2 = 0 column.
    "e04_semantic_dedup_large" -> OpDef.sql(
      (s, d) => e04LargeBody(s, d), {
        val anchor1Rows = planes(MaxSemCells).zipWithIndex.map { case (p, i) =>
          p.map(x => x.toFloat.toDouble).mkString(s"($i, [", ",", "]::DOUBLE[])")
        }.mkString(",\n           ")
        val anchor2Rows = planes2.zipWithIndex.map { case (p, i) =>
          p.map(x => x.toFloat.toDouble).mkString(s"($i, [", ",", "]::DOUBLE[])")
        }.mkString(",\n           ")
        s"""WITH anchors(cell, anchor) AS (VALUES
           |           $anchor1Rows),
           |anchors2(cell2, anchor2) AS (VALUES
           |           $anchor2Rows),
           |n AS (SELECT count(*) AS corpus_n FROM embeddings),
           |p AS (SELECT ${semCellsCase("corpus_n")} AS ncells,
           |             ${semCells2Case("corpus_n")} AS ncells2 FROM n),
           |scored1 AS (
           |  SELECT e.vec_id, e.embedding::DOUBLE[] AS vec, a.cell,
           |         round(list_cosine_similarity(e.embedding::DOUBLE[], a.anchor)
           |               + 1e-10, 6) AS sim_a
           |  FROM embeddings e, anchors a, p WHERE a.cell < p.ncells),
           |lvl1 AS (
           |  SELECT vec_id, vec, cell FROM (
           |    SELECT vec_id, vec, cell,
           |           row_number() OVER (PARTITION BY vec_id
           |             ORDER BY sim_a DESC, cell) AS rk
           |    FROM scored1) WHERE rk = 1),
           |scored2 AS (
           |  SELECT l.vec_id, l.vec, l.cell, a.cell2,
           |         round(list_cosine_similarity(l.vec, a.anchor2) + 1e-10, 6) AS sim_b
           |  FROM lvl1 l, anchors2 a, p WHERE a.cell2 < p.ncells2),
           |assigned AS (
           |  SELECT vec_id, vec, cell, cell2 FROM (
           |    SELECT vec_id, vec, cell, cell2,
           |           row_number() OVER (PARTITION BY vec_id
           |             ORDER BY sim_b DESC, cell2) AS rk
           |    FROM scored2) WHERE rk = 1),
           |removed AS (
           |  SELECT DISTINCT b.vec_id
           |  FROM assigned a JOIN assigned b
           |    ON a.cell = b.cell AND a.cell2 = b.cell2 AND a.vec_id < b.vec_id
           |  WHERE round(list_cosine_similarity(a.vec, b.vec) + 1e-10, 6) >= 0.35)
           |SELECT a.vec_id, a.cell, a.cell2 FROM assigned a
           |LEFT JOIN removed r ON a.vec_id = r.vec_id
           |WHERE r.vec_id IS NULL
           |ORDER BY a.vec_id""".stripMargin
      }),

    // k-NN graph: every corpus vector's top-3 neighbors among its LSH
    // candidates — the all-vectors generalization of e02 (whose query
    // set is 5 fixed vectors) and the input artifact for graph-based
    // curation (connected-component semantic clusters, hubness stats,
    // graph-walk sampling). Candidate generation is d09's
    // density-laddered banded sign-LSH verbatim (4 bands OR'd, per-band
    // width from the corpus count — bucket density stays ~TargetBucket
    // at any scale, so candidate work is linear where a fixed code is
    // density^2); candidates collapse on the narrow id pair before the
    // one cosine per pair; per-vector top-k is the map-side-bounded
    // TopKBy heap, so only k rows per (vector, task) shuffle. Vectors
    // whose buckets are singletons in every band emit nothing — the
    // documented LSH recall trade (e03's probed search covers isolated
    // vectors when the graph must be total).
    "e05_knn_graph" -> OpDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val sized = emb
          .crossJoin(broadcast(emb.agg(count(lit(1)).as("corpus_n"))))
          .withColumn("bits", expr(bandBitsCase("corpus_n")))
        val bandStructs = (0 until NumDupBands).map { t =>
          struct(lit(t).as("band"), bandCode(t).as("bcode"))
        }
        val bands = sized
          .select(col("vec_id"), explode(array(bandStructs: _*)).as("bb"))
          .select(col("vec_id"), col("bb.band").as("band"), col("bb.bcode").as("bcode"))
        val cands = bands.toDF("vec_id", "band", "bcode")
          .join(bands.toDF("n_id", "band", "bcode"), Seq("band", "bcode"))
          .filter(col("vec_id") =!= col("n_id"))
          .select("vec_id", "n_id").distinct()
        val vecs = emb.select(col("vec_id"), col("embedding"))
        cands
          .join(vecs, "vec_id")
          .join(vecs.toDF("n_id", "n_vec"), "n_id")
          .withColumn("sim", round(expr("cosine_sim(embedding, n_vec)") + lit(1e-10), 6))
          .groupBy("vec_id")
          .agg(expr("topk_by(sim, n_id, 3)").as("top"))
          .select(col("vec_id"), posexplode(col("top")))
          .select(col("vec_id"), (col("pos") + 1).cast("int").as("rk"),
                  col("col.id").as("neighbor_id"), col("col.score").as("sim"))
          .orderBy("vec_id", "rk")
      }, {
        val codeList = (0 until NumDupBands)
          .map(t => signCodeSql("embedding::DOUBLE[]", bandPlanes(t)))
          .mkString("[\n         ", ",\n         ", "]")
        s"""WITH n AS (SELECT count(*) AS corpus_n FROM embeddings),
           |p AS (SELECT ${bandBitsCase("corpus_n")} AS bits FROM n),
           |coded AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS vec,
           |         $codeList AS codes
           |  FROM embeddings),
           |bands AS (
           |  SELECT vec_id, t AS band,
           |         list_extract(codes, t + 1) & ((1 << bits) - 1) AS bcode
           |  FROM coded, p, (SELECT unnest(generate_series(0, ${NumDupBands - 1})) AS t)),
           |cand AS (
           |  SELECT DISTINCT a.vec_id, b.vec_id AS n_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bcode = b.bcode AND a.vec_id <> b.vec_id),
           |scored AS (
           |  SELECT c.vec_id, c.n_id,
           |         round(list_cosine_similarity(x.vec, y.vec) + 1e-10, 6) AS sim
           |  FROM cand c
           |  JOIN coded x ON x.vec_id = c.vec_id
           |  JOIN coded y ON y.vec_id = c.n_id)
           |SELECT vec_id,
           |       CAST(row_number() OVER (PARTITION BY vec_id
           |         ORDER BY sim DESC, n_id) AS INT) AS rk,
           |       n_id AS neighbor_id, sim
           |FROM scored QUALIFY rk <= 3
           |ORDER BY vec_id, rk""".stripMargin
      }),

    // LSH-bucketed approximate nearest neighbors, banded + density-
    // laddered + MULTIPROBE — the data-oblivious ANN tier. The r4-r12
    // form joined on ONE static 8-bit sign code; the repo's own tier
    // artifact measured its recall@10 collapsing to 0.02 at sf10 (the
    // static bucket family doesn't adapt to corpus size). This form
    // reuses d09's corpus-count-laddered band construction (NumDupBands
    // independent sign-code tables whose active width tracks the corpus
    // so bucket density stays pinned — see [[bandedCodes]] /
    // [[bandBitsCase]], with e02's own denser [[E02TargetBucket]]) and
    // adds query-side Hamming-<=2 multiprobe (Lv et al.'s multi-probe
    // LSH, exhaustive to distance 2): each query probes its own bucket
    // PLUS every bucket one or two bit-flips away, in every band.
    // Per-band hit probability rises from p^bits to
    // sum_{i<=2} C(bits,i) p^(bits-i) (1-p)^i (p = 1 - acos(sim)/pi) —
    // at the moderate sims real top-10 neighbors have (see
    // E02TargetBucket's scaladoc for the algebra) that is recall
    // ~0.6-0.8 OR'd over bands, where the r12 static 8-bit code
    // measured 0.02 at sf10. Candidates per query stay
    // ~NumDupBands * (1 + bits + C(bits,2)) * E02TargetBucket — a few
    // percent of the corpus, SHRINKING with n. Probes are a broadcast
    // few-hundred-row frame; the corpus side is ONE scan of the banded
    // codes, exact cosine only on distinct candidates, map-side TopKBy
    // heaps for the top-k. The oracle replicates bucketing, ladder, and
    // bit flips exactly (integer arithmetic both engines), so the entry
    // stays hash-proven; AnnRecallSpec floors its recall next to e03's.
    "e02_ann_lsh" -> OpDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        e02LshSearch(s, emb,
          emb.filter(col("vec_id") < NumQueries)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")))
      }, {
        val codeList = (0 until NumDupBands)
          .map(t => signCodeSql("embedding::DOUBLE[]", bandPlanes(t)))
          .mkString("[\n         ", ",\n         ", "]")
        s"""WITH n AS (SELECT count(*) AS corpus_n FROM embeddings),
           |p AS (SELECT ${bandBitsCase("corpus_n", E02TargetBucket)} AS bits FROM n),
           |coded AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS vec,
           |         $codeList AS codes
           |  FROM embeddings),
           |bands AS (
           |  SELECT vec_id, t AS band,
           |         list_extract(codes, t + 1) & ((1 << bits) - 1) AS bcode
           |  FROM coded, p, (SELECT unnest(generate_series(0, ${NumDupBands - 1})) AS t)),
           |probes AS (
           |  SELECT b.vec_id AS q_id, b.band,
           |         xor(xor(b.bcode,
           |                 CASE WHEN i > 0 THEN 1 << (i - 1) ELSE 0 END),
           |             CASE WHEN j > 0 THEN 1 << (j - 1) ELSE 0 END) AS bcode
           |  FROM bands b, p,
           |       (SELECT unnest(generate_series(0, $MaxBandBits)) AS i) fi,
           |       (SELECT unnest(generate_series(0, $MaxBandBits)) AS j) fj
           |  WHERE b.vec_id < $NumQueries AND i <= bits
           |    AND ((j < i) OR (i = 0 AND j = 0))),
           |cand AS (
           |  SELECT DISTINCT pr.q_id, b.vec_id
           |  FROM bands b JOIN probes pr
           |    ON b.band = pr.band AND b.bcode = pr.bcode
           |   AND b.vec_id <> pr.q_id),
           |scored AS (
           |  SELECT c.q_id, c.vec_id AS neighbor_id,
           |         round(list_cosine_similarity(y.vec, x.vec) + 1e-10, 6) AS sim
           |  FROM cand c
           |  JOIN coded x ON x.vec_id = c.q_id
           |  JOIN coded y ON y.vec_id = c.vec_id)
           |SELECT q_id,
           |       CAST(row_number() OVER (PARTITION BY q_id
           |         ORDER BY sim DESC, neighbor_id) AS INT) AS rk,
           |       neighbor_id, sim
           |FROM scored QUALIFY rk <= $TopK
           |ORDER BY q_id, rk""".stripMargin
      }),

    // Semantic dedup with a TRAINED quantizer — the production path once
    // the corpus outgrows every static anchor family (see the e08 block
    // comment above [[e08CellBudget]]). Rows-only by design: Lloyd means
    // are distributed float avgs (partial-agg order varies), so the cell
    // ids aren't bit-reproducible SQL — the gate checks rows, and
    // TrainedSemDedupSpec holds the quantitative floors (survivor parity
    // with e04_large at gate scale, in-cell density bound, planted-dup
    // kill).
    // Train-once (r11): the model comes from the per-corpus-stamp memo
    // (e08ModelMemo — the AnnIndexLake discipline in driver-resident
    // form), so only the first invocation per corpus runs Lloyd; the
    // pair stage is identical either way.
    "e08_semantic_dedup_trained" -> OpDef.rowsOnly(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val m = e08ModelMemo("e08", d)(e08TrainModel(s, emb))
        e08PairStage(graft.Caching.persistTracked("e08_assigned",
          e08AssignWith(s, m, emb)))
      }),

    // k-NN over the INT8 lake — e07's follow-through: the 4x-smaller
    // quantized table must actually carry search, or the storage cut is
    // theoretical. Asymmetric (ADC-style) search: raw FLOAT queries
    // scored against the dequantized int8 corpus (q * scale / 127,
    // truncated to float as ARITHMETIC in both engines — e04's literal
    // trick — so the whole quantize->dequantize->rank pipeline
    // hash-checks end-to-end). Same plan skeleton as e01: broadcast
    // queries, codegen'd cosine, map-side TopKBy heaps. QuantizeSpec
    // floors recall@10 vs the float baseline; at production scale the
    // deq frame is read pre-packed from the int8 lake instead of being
    // derived in-plan.
    // Incremental SEMANTIC dedup — d24's batch-vs-existing-corpus mode
    // in embedding space (the missing fourth corner: d24/s10 cover
    // textual incremental, e04/e08 cover semantic full-corpus). The
    // corpus split (train/val = index, test = arriving, d11's md5 rule)
    // mirrors d24 exactly; the quantizer trains on the INDEX only (the
    // model an earlier corpus build would have persisted —
    // AnnIndexLake's spec proves verdicts identical when it is read
    // back instead of retrained), arriving vectors are assigned per-row
    // (model rides the closure, codegen'd), probed against the index
    // assignment by composite-cell equality join, and the lowest
    // verified match (rounded cosine >= 0.35, d24's min-id rule) is ONE
    // min_by aggregate. Cost ∝ arriving batch + matching-cell postings,
    // never the corpus pair space. Rows-only (trained model);
    // IncrSemDedupSpec pins planted-dup recall, verdict-shape
    // invariants, and lake parity.
    "e10_incremental_semdedup" -> OpDef.rowsOnly(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val split = graft.operators.Dedup.splitOf(
          graft.operators.Dedup.splitBucket(col("vec_id")))
        val index = emb.filter(split =!= "test")
        val arriving = emb.filter(split === "test")
        // shared with s14 (the stream face): one model per corpus stamp
        val m = e08ModelMemo("e10_index", d)(e08TrainModel(s, index))
        val idxAssigned = graft.Caching.persistTracked("e10_idx",
          e10IndexAssigned(s, m, index))
        e10VerdictsWith(s, m, idxAssigned, arriving)
      }),

    "e09_knn_int8" -> OpDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        knnInt8Search(s, int8Dequantized(emb), queries)
      },
      s"""WITH ex AS (
         |  SELECT vec_id,
         |         CAST(unnest(generate_series(0, len(embedding) - 1)) AS INT) AS pos,
         |         unnest(embedding)::DOUBLE AS v
         |  FROM embeddings),
         |dims AS (SELECT pos, max(abs(v)) AS mx FROM ex GROUP BY pos),
         |deq AS (
         |  SELECT e.vec_id,
         |         list(CASE WHEN d.mx = 0 THEN 0.0
         |              ELSE CAST(CAST(floor(e.v / d.mx * 127 + 0.5 + 1e-9) AS INT)
         |                        * d.mx / 127 AS FLOAT)::DOUBLE END
         |              ORDER BY e.pos) AS dvec
         |  FROM ex e JOIN dims d USING (pos) GROUP BY e.vec_id),
         |q AS (
         |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
         |  FROM embeddings WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q.q_id, e.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(e.dvec, q.q_vec) + 1e-10, 6) AS sim
         |  FROM deq e JOIN q ON e.vec_id <> q.q_id)
         |SELECT q_id,
         |       CAST(row_number() OVER (PARTITION BY q_id
         |         ORDER BY sim DESC, neighbor_id) AS INT) AS rk,
         |       neighbor_id, sim
         |FROM scored
         |QUALIFY rk <= $TopK
         |ORDER BY q_id, rk""".stripMargin),

    // Product-quantized ANN search — the last classic compression tier
    // after e07's int8 (64 B/vector) and e03's IVF partitioning: M=16
    // codebook indices per vector (16 B — 16x over float32), searched by
    // ADC (asymmetric distance computation: one M x K table per query,
    // M table-lookup adds per corpus row — no vector arithmetic in the
    // scan). Sub-codebooks Lloyd-trained per subspace (the e03/e08
    // trainer over embedding slices), model memoized per corpus stamp
    // and sized M*K*sub floats — 4 KB of train-once metadata. Rows-only
    // by design (Lloyd has no tractable SQL twin — e03/e08's reasoning);
    // PqSpec floors recall@10 against exact e01, proves the ADC score
    // IS the reconstructed-centroid cosine (bit-exact replay), and
    // pins train-once reuse (zero Lloyd jobs on a second invocation).
    "e11_pq_search" -> OpDef.rowsOnly(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val m = pqModelMemo(d)(pqTrain(emb))
        val codes = graft.Caching.persistTracked("e11_codes",
          pqEncode(m, emb))
        val queries = emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        pqSearch(s, m, codes,
          emb.select("vec_id", "embedding"), queries)
      }),

    // e12: IVFPQ — the production ANN tier proper, composing the two
    // compression axes the family built separately: e03's coarse
    // partitioning prunes WHICH code rows a query reads (~NProbe/
    // NumCells of the table), e11's PQ codes shrink each row to 16 B,
    // and the exact re-rank restores recall. FAISS's IndexIVFPQ +
    // refine shape; at 100 TB the search reads a pruned slice of an
    // already-16x-compressed table, and both index artifacts are the
    // SAME lake tables e03/e11 maintain (train-once per corpus stamp;
    // the cell-tagged code table is their id join, written in one pass
    // at build time in production). Rows-only (both stages are
    // Lloyd-trained — e03/e11's reasoning); IvfPqSpec floors recall@10
    // vs exact e01 and pins the structure: every emitted neighbor lies
    // in one of its query's probed cells, zero Lloyd jobs on reuse.
    "e12_ivfpq_search" -> OpDef.rowsOnly(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        graft.sources.AnnIndexLake.ivfPqSearch(s, d,
          emb.select("vec_id", "embedding"),
          emb.filter(col("vec_id") < NumQueries)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")))
      }),

    // Int8 scalar quantization of the embedding lake — the storage/IO
    // step under every ANN index at scale (a 100-TB float32 embedding
    // table is 25 TB at int8; recall cost of symmetric per-dim scalar
    // quantization is small and standard). Per-dim scale = max |v|
    // (a Dim-group map-side-combinable aggregate — bytes of shuffle);
    // the quantize pass is a broadcast join of that Dim-row table plus
    // pure integer-exact row math: q = floor(v/scale*127 + 0.5 + 1e-9),
    // zero-scale dims pinned to 0 (ANSI would throw on the division).
    // Emitted EXPLODED as (vec_id, pos, q) scalar rows — the form the
    // hash oracle can check end-to-end; the production storage layout
    // packs the same values back to array<tinyint> with one
    // zip_with/collect, changing no quantized value.
    // e13/e14's shared artifact is built by int8CascadeSketch (below the
    // defs map); both entries persistTracked it under one key per
    // corpus, so the gate pays the build once and the production lake
    // stores it once.
    //
    // e13: RANGE (radius) similarity search with a PROVABLY LOSSLESS
    // int8 cascade — the third search semantics after top-k (e01/e09)
    // and near-dup pairs (d09/e04): "EVERYTHING within cosine >= tau of
    // these queries, guaranteed complete". The ANN tiers (e02/e03/e11/
    // e12) trade recall for speed under a floor; this tier is EXACT —
    // the cheap pass cannot lose an answer, by arithmetic, not by spec:
    //
    //   unit-normalize x; quantize per-vector (scale sx = max|x_i|/127,
    //   int8 code qx); the residual ex = x - sx*qx has a KNOWN norm rx,
    //   computed exactly at quantization time. For any pair,
    //     cos(x,y) - sx*sy*(qx.qy) = x.ey + ex.y' (Cauchy-Schwarz) so
    //     |cos - approx| <= rx + ry + rx*ry =: eps(x,y)  — a TIGHT
    //   per-pair bound from stored per-vector scalars (the generic
    //   sqrt(d)*delta/2 bound is ~2x looser). Survivors of
    //   approx + eps >= tau - 1e-6 get the exact float cosine; nothing
    //   else is ever scored exactly. Conjunct order in the fused filter
    //   keeps the float cosine short-circuited behind the int8 test.
    //
    // At gate scale both representations ride one scan; the 100-TB form
    // stores the (qx, sx, rx) sketch as the scanned artifact (64 B of
    // int8 codes + 2 scalars ≈ 80 B/row packed at dim=64, vs the 256 B
    // float vector — the e07/e09 storage story; the gate artifact keeps
    // dx as array<float>, trading IO shape not bytes) and fetches float
    // vectors only for survivors (~1% here). HASH-PROVEN against the
    // definitional brute-force oracle: the pruned plan must produce the
    // complete answer set, digits and all — the no-miss proof at gate
    // scale. RangeSearchSpec additionally measures the prune rate and
    // perturbs tau across the bound's margin.
    "e13_range_search" -> OpDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // the PERSISTED sketch artifact — physically embedding-free
        // (AnnIndexLake.writeCascadeSketch); float vectors enter only
        // at the survivor point-fetch below
        val sk = graft.sources.AnnIndexLake.cascadeSketch(s, d)
        val q = cascadeQuerySketch(
          emb.filter(col("vec_id") < RangeQueries)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")))
        sk.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .withColumn("approx",
            expr("cosine_sim(dx, dy)") * col("dn") * col("dm"))
          // slack 2e-6 covers the float32 cast of dx (per-vector norm
          // error <= sqrt(d)*2^-24 ~ 5e-7 per side) plus double rounding
          .withColumn("eps",
            col("rx") + col("ry") + col("rx") * col("ry") + lit(2e-6))
          // int8 prescreen over the sketch scan; only survivors fetch
          // their float vector (by id, AQE-broadcast) and pay the exact
          // cosine
          .filter(col("approx") + col("eps") >= lit(RangeTau) - lit(1e-6))
          .select("q_id", "vec_id", "q_vec")
          .join(emb.select("vec_id", "embedding"), "vec_id")
          .withColumn("sim",
            round(expr("cosine_sim(embedding, q_vec)") + lit(1e-10), 6))
          .filter(col("sim") >= RangeTau)
          .select(col("q_id"), col("vec_id").as("neighbor_id"), col("sim"))
          .orderBy("q_id", "neighbor_id")
      },
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id < $RangeQueries),
         |scored AS (
         |  SELECT q.q_id, e.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv)
         |               + 1e-10, 6) AS sim
         |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id)
         |SELECT q_id, neighbor_id, sim FROM scored
         |WHERE sim >= $RangeTau
         |ORDER BY q_id, neighbor_id""".stripMargin),

    // e14: FILTERED EXACT top-k — "the k nearest neighbors AMONG the
    // vectors satisfying an attribute predicate", the search shape
    // every production vector store grew (Milvus/Qdrant/Vespa filtered
    // search) and the one an ANN index alone answers WRONG: post-
    // filtering a top-k' retrieves k' unfiltered neighbors and keeps
    // the survivors — too few when the filter is selective, and no k'
    // short of the corpus guarantees k. The sound plan is
    // PRE-filtering: prune the corpus side FIRST (at the lake the
    // predicate prunes the 16 B/row sketch scan — at gate scale it
    // filters the shared cached sketch), then run an EXACT cascade
    // top-k over survivors: int8 bounds pick a per-query threshold
    // (k-th largest lower bound via the map-side TopKBy heap), upper
    // bounds admit, float cosines score admitted rows only
    // (cascadeKnnSearch's scaladoc carries the no-loss proof).
    // Queries are NOT filtered — asking "nearest label-2..4 vectors"
    // from any vector is the point. HASH-PROVEN against the
    // definitional filtered brute force in DuckDB: exactness under the
    // filter, digits and all, including rounded-tie ordering.
    "e14_filtered_knn" -> OpDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // predicate prunes the persisted embedding-free sketch scan;
        // survivors point-fetch their floats (cascadeKnnSearch's doc)
        val sk = graft.sources.AnnIndexLake.cascadeSketch(s, d)
        val qsk = cascadeQuerySketch(
          emb.filter(col("vec_id") < RangeQueries)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")))
        cascadeKnnSearch(s,
          sk.filter(col("label").between(FilterLabelLo, FilterLabelHi)),
          qsk, emb, TopK)
      },
      e14Sql),

    "e07_quantize_int8" -> OpDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val ex = emb.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        val dims = ex.groupBy("pos")
          .agg(max(abs(col("v").cast("double"))).as("mx"))
        ex.join(broadcast(dims), "pos")
          .select(col("vec_id"), col("pos"),
            when(col("mx") === 0.0, lit(0))
              .otherwise(floor(col("v").cast("double") / col("mx") * 127
                               + lit(0.5) + lit(1e-9)).cast("int"))
              .as("q"))
          .orderBy("vec_id", "pos")
      },
      // the oracle's position series derives from len(embedding), not a
      // hard-coded Dim: with a fixed series, a short row would yield
      // NULL-v rows here and NO rows from Spark's posexplode — a silent
      // desync. Zipped unnests are exactly posexplode: same row count
      // per document on both engines, malformed data diverges LOUDLY
      // (hash mismatch) instead of quietly.
      s"""WITH ex AS (
         |  SELECT vec_id,
         |         CAST(unnest(generate_series(0, len(embedding) - 1)) AS INT) AS pos,
         |         unnest(embedding)::DOUBLE AS v
         |  FROM embeddings),
         |dims AS (SELECT pos, max(abs(v)) AS mx FROM ex GROUP BY pos)
         |SELECT e.vec_id, e.pos,
         |  CASE WHEN d.mx = 0 THEN 0
         |       ELSE CAST(floor(e.v / d.mx * 127 + 0.5 + 1e-9) AS INT) END AS q
         |FROM ex e JOIN dims d USING (pos)
         |ORDER BY vec_id, pos""".stripMargin)
  )
}
