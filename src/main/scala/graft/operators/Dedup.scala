package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.OpDef
import graft.expressions.GraftFunctions
import graft.sources.Tables

/** Deduplication family over `documents`:
  *  - exact (hash group-by),
  *  - MinHash + LSH banding (near-dup candidate pairs + exact-Jaccard verify),
  *  - SimHash (64-bit, block-pair-banded Hamming pairs),
  *  - blocked character-set Jaccard (the one SQL-expressible pair metric),
  *  - rolling-hash document fingerprinting.
  *
  * Scale design: no O(n^2) anywhere — candidate pairs only ever come from
  * equality joins on bucket keys (minhash band signatures / simhash
  * block-pair keys / (source, lang, length-band) blocks), so the self-join
  * shuffles on the bucket key and each bucket is bounded by construction.
  * Signatures come from native codegen'd kernels (ShingleHashes,
  * SimHash64) — nothing interpreted, nothing UDF-boxed on the
  * corpus-sized path.
  */
object Dedup {

  /** SimHash near-dup radius. The 28 block-pair tables guarantee candidate
    * recall 1.0 up to exactly this Hamming distance (pigeonhole over 8
    * blocks) — keep the two in sync if either changes.
    */
  val SimHashRadius = 6

  /** The 60-bit simhash code split into 8 blocks (widths 8,8,8,8,7,7,7,7).
    * Pigeonhole: <= SimHashRadius differing bits touch at most 6 of the 8
    * blocks, so some block PAIR is identical — the argument needs only the
    * block count, so the uneven widths (60 doesn't divide by 8) cost
    * nothing.
    */
  private val NumBlocks = 8
  private[graft] val BlockWidth = Array(8, 8, 8, 8, 7, 7, 7, 7)
  private val BlockOff = BlockWidth.scanLeft(0)(_ + _).init

  /** The SMALLER-RADIUS family for denser corpora: 6 blocks of 10 bits,
    * choose 2: C(6,2) = 15 tables (half the narrow family's 28 bucket
    * rows per doc) of 20-bit keys (16-32x fewer random collisions per
    * table than the narrow 15/16-bit keys), guaranteed radius 6 - 2 = 4.
    * The trade is explicit: exhaustive recall shrinks from Hamming <= 6
    * to <= 4 — which still catches near-identical documents (true
    * near-dup simhashes differ in 0-3 bits; the 5-6 bit band is mostly
    * borderline rewrites) while cutting both cost terms of the bucket
    * self-join: bucket rows (sort volume) and random collisions. More
    * tables at the same radius do not help: a C(10,4) family (210 tables
    * of 24-bit keys) ran 633 s against the narrow family's 13.2 s at
    * 500k docs (bench/BENCH_d03_scale_r7.json), since it emits 7.5x the
    * bucket rows and near-identical documents collide at any key width.
    * Engaged by measured density ([[D03DensePairsPerDoc]]);
    * bench/BENCH_d03_dense_r8.json measures it at sf10 and SimHashSpec
    * proves the <= 4 recall exhaustively.
    */
  private[graft] val DenseBlockWidth: Array[Int] = Array.fill(6)(10)
  private[graft] val DenseChoose = 2
  private[graft] val DenseRadius: Int = DenseBlockWidth.length - DenseChoose

  /** d03's density auto-select (r12's open watch item, closed the d42
    * way: ENGAGE BY MEASUREMENT, not by a proxy like corpus count). On
    * a deterministic 10%-of-keys md5 sample ([[splitBucket]] — DuckDB
    * replays it bit for bit), count the narrow family's candidate pairs
    * sp over n_s sampled docs; pairs scale with rate^2, so the
    * full-corpus pairs-per-doc estimate is sp*n/n_s^2 — an EXACT integer
    * inequality both engines evaluate identically. Past
    * [[D03DensePairsPerDoc]] the active family switches to the C(6,2)
    * smaller-radius config (15 tables, 20-bit keys, guaranteed radius
    * 4): on a hot-bucket corpus the narrow family's extra radius is
    * spent enumerating near-identical cliques 28 times over — the dense
    * family halves the bucket rows and cuts random collisions 16-32x
    * while still catching true near-dups (0-3 differing bits). The
    * threshold sits an order above the gate corpus' measured density
    * (~2 candidate pairs/doc) and an order under a replicated-clique
    * corpus' (>=1000s): normal corpora keep the radius-6 guarantee,
    * pathological ones degrade gracefully to radius 4 instead of
    * quadratically. SimHashSpec plants both and proves the flip and
    * each side's semantics.
    */
  private[graft] val D03SampleBuckets = 10
  private[graft] val D03DensePairsPerDoc = 64L

  /** d29's boilerplate bar: an 8-word span must appear in at least this
    * many DISTINCT documents to be scrubbed. 3 keeps the gate corpus
    * non-vacuous without degenerating into near-dup removal (d27/d13's
    * job); production boilerplate (headers, license blurbs) sits at doc
    * frequencies in the thousands — the threshold is the tuned knob,
    * the plan shape never changes.
    */
  private[graft] val BoilerMinDocs = 3

  /** All C(B,c) c-block combinations of a block layout, each one
    * candidate table, as (offset, width) slices. Pigeonhole: <= B - c
    * differing bits leave some c blocks untouched, so the guaranteed
    * radius of the (widths, c) family is B - c. d03 selects between
    * (BlockWidth, 2) — 28 pair tables — and (DenseBlockWidth,
    * DenseChoose) — 15 — on measured density.
    */
  private[graft] def blockCombos(widths: Array[Int], c: Int): Seq[Seq[(Int, Int)]] = {
    require(c >= 1 && c <= widths.length)
    // the key fold must fit a Long: reject configs whose widest c blocks
    // exceed 63 bits HERE, not as an ANSI overflow mid-join
    require(widths.sorted.reverse.take(c).sum <= 63,
      s"combined key width of the widest $c blocks exceeds 63 bits")
    val offs = widths.scanLeft(0)(_ + _).init
    widths.indices.combinations(c)
      .map(_.map(i => (offs(i), widths(i))).toSeq).toSeq
  }

  /** One combo's bucket key: the c block slices of `simhash`,
    * concatenated (bit-compatible with the c=2 form the oracle SQL
    * writes as `blk_i * 2^w_j + blk_j`).
    */
  private def comboKey(combo: Seq[(Int, Int)]): org.apache.spark.sql.Column =
    combo.foldLeft(lit(0L): org.apache.spark.sql.Column) { case (acc, (off, w)) =>
      acc * lit(1L << w) +
        shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1))
    }

  /** (doc_id, simhash, tbl, bkey) bucket rows of a (widths, c) family
    * over a (doc_id, simhash) frame — d03's candidate generator, exposed
    * by family so specs exercise each family on the same machinery.
    */
  private[graft] def simhashBuckets(sigs: DataFrame,
      widths: Array[Int], c: Int): DataFrame = {
    val tables = blockCombos(widths, c).zipWithIndex.map { case (combo, t) =>
      struct(lit(t).as("tbl"), comboKey(combo).as("bkey"))
    }
    sigs.select(col("doc_id"), col("simhash"),
                explode(array(tables: _*)).as("bp"))
      .select(col("doc_id"), col("simhash"), col("bp.tbl"), col("bp.bkey"))
  }

  /** One family's combo tables as rows for the broadcast combos frame:
    * (fam, tbl, o1, m1, o2, m2, s2) — two (offset, mask) slices and the
    * second slice's multiplier, so `((simhash >> o1) & m1) * s2 +
    * ((simhash >> o2) & m2)` is bit-identical to [[comboKey]].
    */
  private def comboTupleRows(fam: Int, widths: Array[Int], c: Int) =
    blockCombos(widths, c).zipWithIndex.map { case (combo, t) =>
      require(combo.size == 2, "the combos frame holds block-pair families")
      val (o1, w1) = combo(0)
      val (o2, w2) = combo(1)
      (fam, t, o1, (1L << w1) - 1, o2, (1L << w2) - 1, 1L << w2)
    }

  /** d03's pipeline. Bucket rows come from a broadcast join against a
    * 43-row combos frame (28 narrow + 15 dense tables) — the family
    * tables are DATA, not expression trees, so whole-stage codegen stays
    * small. The ACTIVE family is picked by a one-row-broadcast selector
    * in the join filter — the MEASURED density flip to the dense C(6,2)
    * family past `densePairsPerDoc` ([[D03DensePairsPerDoc]] at the
    * gate; specs pass a negative value to force dense, Long.MaxValue to
    * force narrow) — inside the plan, with no separate Spark action,
    * mirroring the oracle's `FROM sig, combos, sel2`.
    */
  private[graft] def d03Body(s: SparkSession, d: String,
      densePairsPerDoc: Long = D03DensePairsPerDoc): DataFrame = {
    val sp = s
    import sp.implicits._
    val sigs = persistTracked("d03_sigs", Tables.documents(s, d)
      .select(col("doc_id"), expr("simhash60_md5(text)").as("simhash")))
    // Density measurement (see [[D03DensePairsPerDoc]]): the narrow
    // family's candidate-pair count over the deterministic 10%-of-keys
    // md5 sample. A plain join COUNT — map-side combinable, no distinct,
    // ~1% of the full candidate volume — and a pure function of the
    // corpus, so the oracle replays it bit for bit. The products run in
    // DECIMAL(38,0) (DuckDB: HUGEINT): exact integer compare, no ANSI
    // overflow even at sp ~ n_s^2 on a fully degenerate corpus.
    val samp = sigs.filter(splitBucket(col("doc_id")) < D03SampleBuckets)
    val sampBk = simhashBuckets(samp, BlockWidth, 2)
      .select(col("doc_id"), col("tbl"), col("bkey"))
    val sel = sigs.agg(count(lit(1)).as("corpus_n"))
      .crossJoin(samp.agg(count(lit(1)).as("n_s")))
      .crossJoin(
        sampBk.toDF("a_id", "tbl", "bkey")
          .join(sampBk.toDF("b_id", "tbl", "bkey"), Seq("tbl", "bkey"))
          .filter(col("a_id") < col("b_id"))
          .agg(count(lit(1)).as("sp")))
      .select(
        when(col("sp").cast("decimal(38,0)") * col("corpus_n") >
             lit(densePairsPerDoc) * col("n_s").cast("decimal(38,0)") * col("n_s"), 1)
          .otherwise(0).as("active_fam"))
      .withColumn("cut_radius",
        when(col("active_fam") === 1, DenseRadius).otherwise(SimHashRadius))
    // one row, but its plan contains the sample join — persist so the
    // two consumers (combos filter, radius cut) run the measurement once
    val selP = persistTracked("d03_sel", sel)
    val combos =
      (comboTupleRows(0, BlockWidth, 2) ++
        comboTupleRows(1, DenseBlockWidth, DenseChoose))
        .toDF("fam", "tbl", "o1", "m1", "o2", "m2", "s2")
    val buckets = sigs
      .crossJoin(broadcast(selP))
      .crossJoin(broadcast(combos))
      .filter(col("fam") === col("active_fam"))
      .select(col("doc_id"), col("simhash"), col("tbl"),
        expr("((simhash >> o1) & m1) * s2 + ((simhash >> o2) & m2)").as("bkey"))
    // Candidate pairing is a bucket-key SELF-JOIN via sort-merge — kept
    // deliberately after measuring the alternatives at sf10 (500k docs,
    // 105M bucket rows) under the 8g driver-default heap:
    //  - SHUFFLE_HASH join: build maps don't spill -> SparkOutOfMemory;
    //  - single-shuffle groupBy+collect_list pair enumeration: 2-3M list
    //    buffers per task OOM the hash agg, and ObjectHashAggregate's
    //    sort fallback spilled single-threaded for >600 s;
    //  - sort-merge spills gracefully and stays whole-stage-codegen'd
    //    either side of the sorts. AQE's raised initialPartitionNum (see
    //    GraftSession) keeps per-task sort volume bounded at scale.
    val a = buckets.toDF("a_id", "a_hash", "tbl", "bkey")
    val b = buckets.toDF("b_id", "b_hash", "tbl", "bkey")
    a.join(b, Seq("tbl", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
              bit_count(expr("a_hash ^ b_hash")).as("hamming"))
      // filter BEFORE distinct: drops the (majority) non-matching
      // pairs map-side instead of shuffling them through the dedup.
      // The cut is the ACTIVE family's guaranteed radius (6 narrow,
      // 4 dense) so the output stays exactly "all pairs within the
      // radius" — opportunistic beyond-radius collisions never leak.
      .crossJoin(broadcast(selP.select("cut_radius")))
      .filter(col("hamming") <= col("cut_radius"))
      .select("a_id", "b_id", "hamming")
      .distinct()
      .orderBy("a_id", "b_id")
  }

  // --- MinHash parameters -------------------------------------------------
  private val NumHashes = 32
  private val NumBands = 8 // 8 bands x 4 rows
  private val RowsPerBand = NumHashes / NumBands
  // Carter-Wegman affine family mod p = 2^31 - 1: minhash_k over shingle
  // hashes reduced to [0, p). Multipliers/offsets come from a fixed
  // SplitMix64-style scramble, bounded so a*h + b stays well inside Long
  // range (ANSI mode: no silent wraparound allowed).
  private val P31 = 2147483647L // 2^31 - 1
  private def mix(z: Long): Long = graft.expressions.LshKernels.mix(z)
  private val As: Array[Long] = Array.tabulate(NumHashes)(i => (mix(2L * i) >>> 33) | 1L)
  private val Bs: Array[Long] = Array.tabulate(NumHashes)(i => mix(2L * i + 1) >>> 33)

  /** Minhash signatures from a (doc_id, mh) frame, Spark-native: explode
    * the shingle hashes, reduce each doc with NumHashes codegen'd scalar
    * `min` aggregates of the affine transforms, one `m<k>` column each.
    * Map-side combinable — at 100 TB this shuffles only NumHashes-long
    * partials per doc, and the whole reduction stays in whole-stage
    * codegen (the per-row higher-order-function alternative runs
    * interpreted and is an order of magnitude slower).
    */
  private def minhashCols(shing: DataFrame): DataFrame = {
    // pmod(h, P31) is identical across all NumHashes aggregates —
    // Catalyst does not CSE across aggregate expressions, so hoist it
    // into the projection below the groupBy (one pmod per shingle
    // instead of NumHashes of them; values bit-identical)
    val mins = Array.tabulate(NumHashes)(k =>
      min(pmod(lit(As(k)) * col("hp") + lit(Bs(k)), lit(P31)))
        .as(s"m$k"))
    shing
      .select(col("doc_id"), explode(col("mh")).as("h"))
      .select(col("doc_id"), pmod(col("h"), lit(P31)).as("hp"))
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band_id, band_sig) LSH candidate keys from a (doc_id, mh)
    * shingle frame — shared by d02's self-join and d24's batch-vs-index
    * probe (at 100 TB these rows ARE the persisted index table the
    * incremental path equality-joins against).
    */
  private[graft] def minhashBands(shing: DataFrame): DataFrame =
    minhashCols(shing).select(
        col("doc_id"),
        explode(array((0 until NumBands).map(bnd =>
          struct(lit(bnd).as("band_id"),
                 bandSig(bnd).as("band_sig"))): _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_sig"))

  /** Per-row LSH band keys: the SAME (band_id, band_sig) family as
    * [[minhashBands]], as an array column of NumBands structs computed
    * without the explode+groupBy signature aggregation. The streaming
    * probe (s10) requires this shape: a second aggregation ahead of its
    * verdict agg would break streaming's one-stateful-agg rule, and
    * re-attaching doc columns to [[minhashBands]]' output would be a
    * stream-stream self-join. One codegen kernel call per row
    * ([[graft.expressions.LshBandKeys]]) — the previous formulation ran
    * NumHashes interpreted `transform` lambdas per arriving doc (§4's
    * anti-pattern). Same integer arithmetic end to end, so band keys
    * are bit-identical to minhashBands' (spec-pinned).
    *
    * An empty shingle set yields null band_sig — such rows fall out of
    * the equality probe exactly as the batch path's len(hs) > 0 filter
    * drops them. `lsh_band_keys` is injected by [[graft.GraftExtensions]].
    */
  private[graft] def bandArray(mh: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("lsh_band_keys", mh)

  /** d08's polynomial-fold modulus, reused for the band keys. */
  private val PolyMod = 1000000000000037L

  /** Band signature for band `b`: a polynomial fold of its RowsPerBand
    * minhash columns mod PolyMod — pure column arithmetic (codegen'd, no
    * higher-order function), and exactly reproducible in DuckDB as a
    * `list_reduce` over the same slice of the signature list. Values stay
    * in range without intermediate reduction: acc < 2^50, minhash < 2^31,
    * so acc*31 + m < 2^55 (ANSI mode would throw on a real overflow).
    */
  private def bandSig(b: Int): org.apache.spark.sql.Column = {
    var acc: org.apache.spark.sql.Column = lit(0L)
    for (r <- 0 until RowsPerBand)
      acc = pmod(acc * lit(31L) + col(s"m${b * RowsPerBand + r}"), lit(PolyMod))
    acc
  }

  /** Exact Jaccard between two shingle-hash-set columns (both already
    * distinct), as a double ratio of int counts — exact in both engines.
    */
  private[graft] def jaccard(a: String, b: String) =
    size(array_intersect(col(a), col(b))).cast("double") /
      size(array_union(col(a), col(b)))

  private def persistTracked(name: String, df: DataFrame): DataFrame =
    graft.Caching.persistTracked(name, df)

  /** The deterministic md5-derived split bucket (0–99) of a doc id — the
    * same 60-bit md5-prefix construction as d08, so DuckDB reproduces it
    * exactly. Shared by d11 (the split report) and d14 (corpus select).
    */
  private[graft] def splitBucket(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (conv(substring(md5(id.cast("string")), 1, 15), 16, 10)
      .cast("long") % 100).cast("int")

  /** The 80/10/10 bucket-to-split rule, one definition for d11 and d14
    * (Spark side) — the thresholds must never drift between the split
    * report and the corpus selection.
    */
  private[graft] def splitOf(bucket: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")

  /** The same bucket + 80/10/10 rule as DuckDB SQL, for both oracles. */
  private[operators] def duckSplitCase(idSql: String): String = {
    def b = s"('0x' || substr(md5(CAST($idSql AS VARCHAR)), 1, 15))::BIGINT % 100"
    s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END"
  }

  /** The RAW md5 bucket of a doc id, truncated to 50 bits (d39's sample
    * order key): 50-bit longs are exactly representable as doubles, so
    * the TopKBy kernel's double score ranks identically to the oracle's
    * integer ORDER BY — a 60-bit value would round in the cast and the
    * two engines could disagree inside a 2^7 neighborhood.
    */
  private[graft] def idBucket50(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shiftright(conv(substring(md5(id.cast("string")), 1, 15), 16, 10)
      .cast("long"), 10)

  /** [[idBucket50]]'s DuckDB twin (the md5 prefix is non-negative, so
    * `// 1024` == the operator's `>> 10`).
    */
  private[operators] def duckBucket50(idSql: String): String =
    s"(('0x' || substr(md5(CAST($idSql AS VARCHAR)), 1, 15))::BIGINT // 1024)"

  /** Exact-duplicate fingerprint (d01's grouping key), shared with d14's
    * keeper rule. */
  private[graft] def textFp: org.apache.spark.sql.Column = md5(col("text").cast("binary"))

  /** d25's canonicalization (lowercase, strip sentence punctuation,
    * collapse whitespace, trim) — ONE definition shared by the batch op
    * and the streaming twin (s09), so the two can never drift.
    */
  private[graft] def normText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(lower(c), "[.,!?;:]", ""), "\\s+", " "))

  // --- Density-derived length-band widths (d04/d10) ----------------------
  // The blocked pair ops key on (source, lang, length DIV W). Block
  // density grows with corpus count at fixed W, and pair work per block
  // is density^2 — the documented quadratic term (SURVEY §6). W is
  // therefore derived from the corpus count: halve per count doubling
  // past LenBandRef (density ∝ n·W, so this holds block sizes flat),
  // floored so the band never degenerates to exact-length matching.
  // Same integer CASE ladder in Spark and the DuckDB oracle (no float
  // log2); at the gate counts (≤ LenBandRef) the widths equal the old
  // fixed constants, so gate results are unchanged. Narrower bands at
  // scale ARE the recall trade-off of length blocking — near-identical
  // docs stay co-banded, length-divergent pairs were already sacrificed
  // the day the block key was chosen.
  private[graft] val LenBandRef = 512L

  /** Width-halving steps for a corpus of n docs: smallest s with
    * n <= LenBandRef * 2^s (0 at gate scale).
    */
  private[graft] def lenBandSteps(n: Long): Int = {
    var s = 0
    while (s < 32 && n > (LenBandRef << s)) s += 1
    s
  }

  /** The active band width: base halved per step, floored at minW. */
  private[graft] def lenBandWidth(base: Int, minW: Int, n: Long): Int =
    math.max(minW, base >> lenBandSteps(n))

  /** The same width rule as a SQL CASE ladder over a count column —
    * shared text between the Spark plan (expr) and the DuckDB oracle.
    */
  private[graft] def lenBandWidthCase(cntSql: String, base: Int, minW: Int): String = {
    val steps = Iterator.from(0).takeWhile(s => (base >> s) > minW).toSeq
    steps.map(s => s"WHEN $cntSql <= ${LenBandRef << s} THEN ${base >> s}")
      .mkString("CASE ", " ", s" ELSE $minW END")
  }

  /** documents + the corpus count + the active width for (base, minW) as
    * columns (`corpus_n`, `len_w`) — a one-row broadcast, no driver
    * action, mirroring d09's sizing join.
    */
  private def withLenWidth(s: SparkSession, d: String,
      base: Int, minW: Int): DataFrame = {
    val docs = Tables.documents(s, d)
    docs
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("corpus_n"))))
      .withColumn("len_w", expr(lenBandWidthCase("corpus_n", base, minW)))
  }

  /** d04/d10 banding parameters: (base width, floor). */
  private[graft] val CharBandBase = 50
  private[graft] val CharBandMin = 4
  private[graft] val NgramBandBase = 100
  private[graft] val NgramBandMin = 8

  /** The verified MinHash+LSH near-dup pairs (a_id, b_id, sim) — d02's
    * body, shared with the cluster canonicalization op (d13). Candidates
    * come only from band-bucket equality joins; each candidate is
    * verified with exact shingle Jaccard, thresholded on the RAW value
    * (like d04/d10 — rounding first would admit boundary pairs).
    */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsFrom(s, Tables.documents(s, d), "d02")

  /** [[minhashPairs]] over an arbitrary docs frame — p01 runs the same
    * LSH pipeline over its quality-surviving subset, and the parity
    * harness over hand corpora. `name` keys the persisted shingle table
    * so concurrent corpora don't evict each other.
    */
  private[graft] def minhashPairsFrom(s: SparkSession, docsIn: DataFrame,
      name: String): DataFrame = {
    // Materialized once: the shingle table feeds the signature path and
    // both sides of the verify join (at 100 TB this is the signature
    // table you'd persist to the lake between pipeline stages).
    // md5_shingle3_hashes emits SORTED-distinct hashes (TreeSet ascending
    // in the kernel), so the verify below runs the merge-scan
    // sorted_jaccard kernel instead of per-pair hash-set
    // array_intersect/array_union — no extra sort needed anywhere.
    val shing = persistTracked(s"${name}_shingles",
      docsIn
        .withColumn("mh", expr("md5_shingle3_hashes(text)"))
        .filter(size(col("mh")) > 0)
        .select("doc_id", "mh"))
    val bands = minhashBands(shing)
    val a = bands.toDF("a_id", "band_id", "band_sig")
    val b = bands.toDF("b_id", "band_id", "band_sig")
    val candidates = a.join(b, Seq("band_id", "band_sig"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    candidates
      .join(shing.toDF("a_id", "a_sh"), "a_id")
      .join(shing.toDF("b_id", "b_sh"), "b_id")
      // same |∩|/(|a|+|b|-|∩|) quotient as jaccard() over the same sets
      .withColumn("sim_raw", expr("sorted_jaccard(a_sh, b_sh)"))
      .filter(col("sim_raw") >= 0.3)
      .select(col("a_id"), col("b_id"),
              round(col("sim_raw") + lit(1e-8), 4).as("sim"))
  }

  /** d24's probe pipeline over PRE-BUILT index artifacts — the shape a
    * production incremental run has, where the fingerprint index
    * (fp -> keeper), band-key index (i_id, band_id, band_sig) and
    * shingle index (i_id, i_sh) are lake tables written when documents
    * entered the corpus, ideally BUCKETED on their join keys so the
    * probe's index side re-reads them without an Exchange
    * (IncrementalDedupLakeSpec demonstrates exactly that). The gate
    * entry passes artifacts computed inline from the driver's tables;
    * either way, every join's shuffled volume scales with the batch.
    */
  /** d24's five inputs, computed from the driver tables (batch = d11's
    * test split, index = the rest): (batchFp, shBat, fpIdx, bandIdx,
    * shIdx). The gate entry consumes them directly;
    * IncrementalDedupLakeSpec writes the index three as BUCKETED lake
    * tables and re-runs the probe from those.
    */
  private[graft] def d24Artifacts(s: SparkSession, d: String,
      name: String = "d24")
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) =
    d24ArtifactsFrom(s, Tables.documents(s, d), name)

  /** Same artifact build from an arbitrary docs frame (the parity
    * harness feeds a hand corpus through the identical pipeline).
    */
  private[graft] def d24ArtifactsFrom(s: SparkSession, docsIn: DataFrame,
      name: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = docsIn
      .withColumn("split", splitOf(splitBucket(col("doc_id"))))
      .withColumn("fp", textFp)
    val index = docs.filter(col("split") =!= "test")
    val batch = docs.filter(col("split") === "test")
    // `name` keys the shingle caches so a second consumer in the same
    // session (s10's streaming probe) doesn't evict d24's live entries
    // md5_shingle3_hashes emits sorted-distinct hashes, so the d24/s10
    // verify runs the merge-scan sorted_jaccard kernel directly
    def shingles(side: DataFrame, tag: String) = persistTracked(tag,
      side.withColumn("mh", expr("md5_shingle3_hashes(text)"))
        .filter(size(col("mh")) > 0)
        .select("doc_id", "mh"))
    val shIdx = shingles(index, s"${name}_sh_idx")
    (batch.select(col("doc_id"), col("fp")),
     shingles(batch, s"${name}_sh_bat"),
     index.groupBy("fp").agg(min(col("doc_id")).as("exact_match")),
     minhashBands(shIdx).toDF("i_id", "band_id", "band_sig"),
     shIdx.toDF("i_id", "i_sh"))
  }

  private[graft] def d24Verdicts(
      batchFp: DataFrame, // (doc_id, fp) for the arriving batch
      shBat: DataFrame,   // (doc_id, mh) batch shingle sets (persisted)
      fpIdx: DataFrame,   // (fp, exact_match) exact-dup index
      bandIdx: DataFrame, // (i_id, band_id, band_sig) LSH band-key index
      shIdx: DataFrame    // (i_id, i_sh) index shingle sets
  ): DataFrame = {
    val cands = minhashBands(shBat).toDF("b_id", "band_id", "band_sig")
      .join(bandIdx, Seq("band_id", "band_sig"))
      .select("b_id", "i_id").distinct()
    val verified = persistTracked("d24_verified", cands
      .join(shBat.toDF("b_id", "b_sh"), "b_id")
      .join(shIdx, "i_id")
      // both sides sorted at creation (d24ArtifactsFrom) — merge scan
      .withColumn("sim_raw", expr("sorted_jaccard(b_sh, i_sh)"))
      .filter(col("sim_raw") >= 0.3)
      .select("b_id", "i_id", "sim_raw"))
    val near = verified.groupBy("b_id").agg(min(col("i_id")).as("near_match"))
      .join(verified.select(col("b_id"), col("i_id").as("near_match"),
                            round(col("sim_raw") + lit(1e-8), 4).as("near_sim")),
            Seq("b_id", "near_match"))
    batchFp
      .join(fpIdx, Seq("fp"), "left")
      .join(near.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("verdict",
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("new"))
      .withColumn("match_id", coalesce(col("exact_match"), col("near_match")))
      .withColumn("sim",
        when(col("exact_match").isNull && col("near_match").isNotNull,
             col("near_sim")))
      .select("doc_id", "verdict", "match_id", "sim")
      .orderBy("doc_id")
  }

  /** s10's stream-side probe: arriving (doc_id, text) documents against
    * the static index artifacts. Everything ahead of the single verdict
    * aggregation is stateless — per-row signatures and stream-static
    * broadcast joins — and the min-verified-match selection is ONE
    * min_by agg (streaming's one-stateful-agg rule). Shared by the gate
    * entry and the MemoryStream parity harness so both drive the SAME
    * plan; works identically on a batch frame (the parity twin).
    */
  private[graft] def incrDedupStreamVerdicts(arriving: DataFrame,
      fpIdx: DataFrame, bandIdx: DataFrame, shIdx: DataFrame): DataFrame = {
    val probed = arriving
      .withColumn("fp", textFp)
      // md5_shingle3_hashes emits sorted-distinct hashes — the verify
      // below merge-scans them against the (equally sorted) index arrays
      .withColumn("mh", expr("md5_shingle3_hashes(text)"))
      .join(broadcast(fpIdx), Seq("fp"), "left")
      .withColumn("band", explode_outer(bandArray(col("mh"))))
      .select(col("doc_id"), col("exact_match"), col("mh"),
              col("band.band_id"), col("band.band_sig"))
      .join(broadcast(bandIdx), Seq("band_id", "band_sig"), "left")
      .join(broadcast(shIdx), Seq("i_id"), "left")
      .withColumn("sim_raw", expr("sorted_jaccard(mh, i_sh)"))
    probed.groupBy("doc_id")
      .agg(first(col("exact_match")).as("exact_match"),
           // min_by ignores rows whose ordering is null, so the CASE
           // keeps only Jaccard-verified index matches (d24's rule)
           expr("min_by(named_struct('m', i_id, 's', sim_raw), " +
                "CASE WHEN sim_raw >= 0.3 THEN i_id END)").as("near"))
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near.m").isNotNull, "near_dup")
          .otherwise("new").as("verdict"),
        coalesce(col("exact_match"), col("near.m")).as("match_id"),
        when(col("exact_match").isNull && col("near.m").isNotNull,
             round(col("near.s") + lit(1e-8), 4)).as("sim"))
  }

  /** Nominal HOPS between lineage truncations in the label loop (the
    * loop cuts every SECOND iteration — iteration 1 is a single hop,
    * the rest are two, so cuts land at hops 3, 7, 11, ...): deep enough
    * that shallow real-world dup clusters never pay a checkpoint write,
    * shallow enough that the plan tree stays bounded — each hop
    * references the previous labels THREE times (neighbor join, label
    * join, pointer jump), so the un-cut plan holds at most ~9^2 = 81
    * leaf references between cuts, cheap where ~6k (the r2 shape) made
    * plan stringification alone blow the heap. Cuts always land on a
    * frame the convergence count just materialized.
    */
  private[graft] val CheckpointEvery = 4

  /** Checkpoint files a finished [[propagateLabelsCounted]] run keeps
    * alive (the edge cut + the last label cut), per tracker name — the
    * next invocation under the same name deletes them, so a long-lived
    * session (bench reps, repeated driver runs) holds at most one run's
    * cuts per operator instead of accumulating directories until exit.
    */
  private val keptCkpts =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** The rdd checkpoint file backing a just-checkpointed frame (None on
    * an unexpected plan shape: skip cleanup, never the result).
    */
  private def ckptFileOf(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getCheckpointFile
      case _ => None
    }

  private def dropCkpt(s: SparkSession, file: Option[String]): Unit =
    file.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }

  /** Min-label propagation to connected components over a SYMMETRIC
    * (src, dst) edge table — d13/d14's core, factored so specs can drive
    * it with synthetic graph shapes (chains, empty graphs) that the
    * corpus can't produce. Returns (src, lbl = component minimum).
    *
    * Each round takes the min over TWO sources: the neighbors' labels
    * (the Pregel step — one hop of the graph) and the label's OWN label
    * (the pointer-jumping step — lbl is always a node id, so lbl(lbl(x))
    * is defined and ≤ lbl(x)). Jumping halves label-chain depth per
    * round, so convergence is O(log diameter) rounds instead of
    * O(diameter): a 65k-hop chain converges in ~17 rounds where pure
    * propagation needs 65k (DupClusterSpec drives exactly that). Both
    * steps only ever LOWER labels toward the component minimum, so the
    * fixpoint — and the DuckDB recursive-CTE oracle — is unchanged.
    *
    * Lineage: each round's plan references the previous round's, so a
    * deep component compounds both the logical plan and the
    * failure-recovery path; every CheckpointEvery rounds the label table
    * is checkpointed (reliable storage — point setCheckpointDir at the
    * lake on a cluster; a scratch dir is created locally if unset) and
    * the lineage cut there. persist() stays the hot path — the
    * checkpoint is the recovery floor, not an extra read per round.
    */
  private[graft] def propagateLabels(s: SparkSession, edges: DataFrame,
      name: String = "d13"): DataFrame =
    propagateLabelsCounted(s, edges, name)._1

  /** [[propagateLabels]] plus the STEP count it took (one step = one
    * neighbor-min + pointer-jump application) — the count exists for the
    * logarithmic-rounds spec; returning it (rather than stashing it in
    * shared state) keeps concurrent runs from racing.
    *
    * `name` keys the per-name caches ("${name}_labels") and kept
    * checkpoint files, so d13/d14 and e06 running in one session don't
    * unpersist each other's live label tables.
    */
  /** Total fixpoint-loop executions this JVM — the memoLabels spec
    * asserts the d13/d14/d28/e06 family runs the loop once per corpus.
    */
  private[graft] val loopRuns = new java.util.concurrent.atomic.AtomicLong

  private[graft] def propagateLabelsCounted(
      s: SparkSession, edges: DataFrame,
      name: String = "d13"): (DataFrame, Int) = {
    loopRuns.incrementAndGet()
    // a run under this name supersedes the name's tracked frame and kept
    // checkpoints, so any memo entry for the family is about to lose its
    // backing — drop it (a direct caller, e.g. a spec's synthetic graph,
    // must not leave a stale memoized frame behind)
    labelMemo.remove(name)
    // DRIVER-SIDE UNION-FIND for small graphs (guide §5: the fixpoint's
    // rounds are 1-partition jobs on a cloned session — at gate-scale
    // edge counts the loop's wall is scheduling latency, not compute:
    // session clone + eager checkpoint + 2 jobs per round to label a
    // few hundred edges). Under the bound (default 100k edge rows ≈
    // 1.6 MB collected — far below any driver limit) the edges are
    // collected, labeled with the same path-compressed union-find the
    // DupClusterSpec ground truth uses, and returned as a LocalRelation
    // (broadcast-sized for every downstream join-back). The distributed
    // loop stays the only path above the bound; LabelLocalSpec pins the
    // two paths equal on the same graphs. The bound is conf'd so a
    // cluster deployment (or a spec forcing either path) can move it.
    val edgeRows = edges.count()
    val localMax = s.conf.getOption("spark.graft.labels.localMaxEdges")
      .map(_.toLong).getOrElse(100000L)
    if (edgeRows <= localMax) {
      val staleCkptsL: Seq[String] =
        Option(keptCkpts.remove(name)).map(_.toSeq).getOrElse(Nil)
      try {
        val collected = edges
          .select(col("src").cast("long"), col("dst").cast("long"))
          .collect()
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long](
          math.max(16, collected.length * 2))
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrDefault(x, x)
          while (p != x) { x = p; p = parent.getOrDefault(x, x) }
          val root = x
          // path compression
          x = x0
          while (x != root) { val nx = parent.get(x); parent.put(x, root); x = nx }
          root
        }
        collected.foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        // one row per distinct src — exactly the distributed loop's
        // output domain (the edge table is symmetric by contract)
        val srcs = new java.util.LinkedHashSet[java.lang.Long]()
        collected.foreach(r => srcs.add(r.getLong(0)))
        import scala.jdk.CollectionConverters._
        val outRows: java.util.List[Row] = srcs.asScala.toSeq
          .map(n => Row(n.longValue(), find(n.longValue())))
          .asJava
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("canonical_id",
            org.apache.spark.sql.types.LongType, nullable = false)))
        val out = persistTracked(s"${name}_labels",
          s.createDataFrame(outRows, schema))
        // the new labels back the tracker entry; the previous run's kept
        // checkpoints are unreferenced — delete them (this run keeps none)
        staleCkptsL.foreach(f => dropCkpt(s, Some(f)))
        return (out, 0)
      } catch {
        case t: Throwable =>
          // the previous labels frame is still the live tracker entry and
          // may recompute through its kept cuts — put them back
          if (staleCkptsL.nonEmpty) keptCkpts.put(name, staleCkptsL)
          throw t
      }
    }
    if (s.sparkContext.getCheckpointDir.isEmpty) {
      // a JVM-local temp dir is only a valid checkpoint target when the
      // executors share the driver's filesystem; on a real cluster each
      // executor would write its partitions to its OWN local disk and the
      // post-checkpoint scan would lose them on the next schedule — fail
      // fast there instead of failing mid-round 9
      if (!s.sparkContext.isLocal)
        throw new IllegalStateException(
          "dup clustering checkpoints lineage every few rounds: call " +
          "sparkContext.setCheckpointDir with durable SHARED storage " +
          "(the lake) before running on a cluster")
      s.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    }
    // the PREVIOUS run's kept cuts under this name are superseded once
    // this run's labels REPLACE the tracked table — not before. Deleting
    // them here would pull the recovery floor out from under a caller
    // still holding the previous labels frame (eviction would recompute
    // through deleted files). They're deleted on the success path right
    // after persistTracked swaps the entry; on failure they're restored.
    val staleCkpts: Seq[String] =
      Option(keptCkpts.remove(name)).map(_.toSeq).getOrElse(Nil)
    // a superseded checkpoint's files (deleted once a newer cut lands —
    // the reference-tracking cleaner only runs at GC time, which a bench
    // loop may never reach)
    var prevCkptFile: Option[String] = None
    // Cut the INPUT lineage before looping: every step references the
    // edge table once per join, and step k's un-cut plan embeds the
    // edge tree 3^k times — when that tree is an entire LSH candidate
    // pipeline (e06's d09 edges), PLANNING cost (analysis, cache lookup,
    // optimization over the exploded tree), not execution, dominated the
    // loop: measured 37 s/round over 254 edges, ~1000x the job itself.
    // The eager checkpoint roots every step at a flat file scan; its
    // files are kept for the run like the final label cut (post-loop
    // consumers may recompute through it on eviction). The caller's own
    // persist of `edges` (both gate callers track theirs) backs the one
    // materializing pass — no redundant persist here.
    // Loop-sized shuffle partitions: the label table is at most one row
    // per distinct edge endpoint, so partition the loop's shuffles for
    // THAT table, not the session default — at gate scale (hundreds of
    // edges) every per-step join otherwise schedules dozens of near-empty
    // tasks per stage, and the fixed per-task overhead dominates the loop
    // (the bulk of e06's 15 s constant). The count runs BEFORE the
    // checkpoint (both gate callers persist `edges`, so it reads cache)
    // so a tiny edge table can be coalesced before it is written — one
    // checkpoint file and task instead of the caller's 32. The small
    // setting lives in a CLONED session (shared context, caches and
    // checkpoint dir; a private copy of the caller's runtime conf, so
    // e.g. a broadcast threshold the caller set still governs the
    // loop's joins): mutate-and-restore on the caller's session raced —
    // two interleaved runs could strand the session at 1 partition, and
    // any concurrent query planned its shuffles with the loop's tiny
    // value.
    val partsKey = "spark.sql.shuffle.partitions"
    val loopParts = math.max(1L, math.min(s.conf.get(partsKey).toLong,
      (edgeRows + 99999L) / 100000L)).toString
    val edgesCut = (if (loopParts == "1") edges.coalesce(1) else edges)
      .checkpoint() // eager: materialize, then truncate
    val loopSession = GraftSqlBridge.cloneSession(s)
    loopSession.conf.set(partsKey, loopParts)
    // a single-partition loop gains nothing from adaptive re-planning —
    // AQE's per-stage plan/stats round-trips are pure overhead at this
    // size (and only this cloned session is affected)
    if (loopParts == "1") {
      loopSession.conf.set("spark.sql.adaptive.enabled", "false")
      // a single-partition iteration runs ~512-row joins: interpreted
      // execution is instant at this size, while whole-stage codegen
      // pays a janino compile of the big fused iteration plan per run
      // (~0.5 s, measured on d13 — the dominant cost of a 1-iteration
      // loop). At real loop sizes loopParts > 1 and codegen stays on.
      loopSession.conf.set("spark.sql.codegen.wholeStage", "false")
    }
    // frames plan under the session that CREATED them, so the loop must
    // build from a frame owned by the clone — re-binding the checkpoint
    // scan's plan to it carries the scan over without re-materializing
    // anything, and without a shared view name two concurrent loops
    // could collide on
    // (a 1-partition loop reads a 1-partition checkpoint: a
    // SinglePartition child satisfies every join distribution, so the
    // per-iteration joins run exchange-free in one stage)
    val edgesLoop = GraftSqlBridge.ofRows(loopSession,
      GraftSqlBridge.logicalPlan(edgesCut))
    // `cached` is whatever materialized table currently backs the labels;
    // `pending` holds persisted-but-unreleased intermediates (odd steps
    // materialize lazily through the NEXT step's evaluation — counting
    // only every 2nd step halves the loop's job/action count, and a full
    // step that lowered nothing is a fixpoint regardless of what the
    // step before it did). Superseded frames are released only after the
    // count materializes their successor (unpersist-first would recompute
    // the whole label lineage from edges); the final incarnation is
    // handed to the per-name tracker so the next invocation releases it.
    // TWO-HOP seed: l1 = min over {self} ∪ N(self), then one more
    // neighbor-min over l1 folds in N²(self) — the loop starts at the
    // state pure propagation reaches after two rounds, for ONE extra
    // tiny join up front. Any min over nodes reachable from self is a
    // valid label (only the fixpoint — the component minimum — is
    // observable), so the oracle hash cannot move.
    val nbr1 = edgesLoop.groupBy("src").agg(min("dst").as("md"))
      .select(col("src"), least(col("src"), col("md")).as("l1"))
      .persist()
    var cached = edgesLoop
      .join(nbr1.select(col("src").as("dst"), col("l1").as("nl1")), "dst")
      .groupBy("src").agg(min("nl1").as("m2"))
      .join(nbr1, "src")
      .select(col("src"), least(col("l1"), col("m2")).as("lbl"))
      .persist()
    var labels = cached
    // nbr1 rides `pending` so the first convergence count releases it
    var pending: List[DataFrame] = nbr1 :: Nil
    // convergence scalar: the COUNT of labels lowered by the last checked
    // step — never null on an empty corpus and never overflows, unlike a
    // sum of raw label values (doc ids can be 60-bit hash-derived)
    var changed = 1L
    var steps = 0
    // any exception path (step cap, a failed job mid-step) must release
    // the in-flight persisted tables — they only reach the per-name
    // tracker after convergence, and a bench harness that swallows the
    // throw per-rep would otherwise strand orphaned caches per attempt
    // One propagation hop: neighbor-min (one graph hop) then ONE
    // pointer-jump through the label table (the left join is total in
    // practice — lbl is a node id, every node has a label row; coalesce
    // only guards the degenerate frame).
    // One propagation hop over `l`, keeping the PRE-hop label as `cur`
    // so the convergence flag can test exactly this hop's progress.
    def hopCmp(l: DataFrame): DataFrame = edgesLoop
      .join(l.select(col("src").as("dst"), col("lbl").as("nlbl")), "dst")
      .groupBy("src").agg(min("nlbl").as("plbl"))
      .join(l, "src")
      .join(l.select(col("src").as("lbl"), col("lbl").as("jlbl")),
            Seq("lbl"), "left")
      .select(col("src"),
              least(col("lbl"), col("plbl"),
                    coalesce(col("jlbl"), col("lbl"))).as("nxt"),
              col("lbl").as("cur"))
    def hop(l: DataFrame): DataFrame =
      hopCmp(l).select(col("src"), col("nxt").as("lbl"))
    var iters = 0
    try {
      while (changed > 0) {
        if (steps >= 64)
          // silent exit would emit non-components and quietly diverge
          // from the oracle. 64 hops covers every graph the pair
          // builders can emit (their components are id-local by
          // construction); a trip here means the loop is BROKEN (labels
          // rising, a non-symmetric edge table) or the layout is
          // adversarial enough to need a contraction-style algorithm,
          // not more rounds of this one.
          throw new IllegalStateException(
            "dup label propagation did not converge in 64 hops")
        // Iteration sizing: the FIRST iteration is a single hop — LSH
        // dup graphs commonly converge within the seed + 1 hop, and the
        // small plan halves the planning+materialization cost that
        // common case pays (measured ~0.4 s/iteration of fixed cost on
        // d13). From iteration 2 on, TWO hops per scheduled round: deep
        // graphs (e06's 16-hop components) then pay the per-round fixed
        // overhead half as often for the same join work. `ch` tests the
        // LAST hop alone: a hop that lowers nothing proves the fixpoint
        // regardless of what came before it.
        val grown = if (iters == 0) hopCmp(labels) else hopCmp(hop(labels))
        val next = grown
          .select(col("src"), col("nxt").as("lbl"),
                  (col("nxt") < col("cur")).as("ch"))
          .persist()
        steps += (if (iters == 0) 1 else 2)
        iters += 1
        pending = cached :: pending
        cached = next
        labels = next.select("src", "lbl")
        changed = next.filter(col("ch")).count() // materializes the round
        pending.foreach(_.unpersist(blocking = false))
        pending = Nil
        if (changed > 0 && iters % 2 == 0) {
          // eager checkpoint: writes the cached partitions, cuts the plan
          // at a scan of the checkpoint files (on throw, the outer catch
          // releases `cached`, which is still `next` here)
          val trunc = next.checkpoint()
          next.unpersist(blocking = false)
          cached = trunc.persist()
          labels = cached.select("src", "lbl")
          // the new cut's plan reads only the NEW files, so the previous
          // cut is unreferenced — delete it; the LAST cut is kept (the
          // final label table may recompute from it if evicted)
          dropCkpt(s, prevCkptFile)
          prevCkptFile = ckptFileOf(trunc)
        }
      }
    } catch {
      case t: Throwable =>
        (cached :: pending).foreach(_.unpersist(blocking = false))
        // this run's cuts are unreferenced once its frames are released —
        // delete them here or a harness that swallows per-rep failures
        // leaks one checkpoint set per failed attempt; the previous
        // run's kept cuts go BACK in the tracker (its labels table is
        // still the live one and may recompute through them)
        (ckptFileOf(edgesCut) ++ prevCkptFile).foreach(f => dropCkpt(s, Some(f)))
        if (staleCkpts.nonEmpty) keptCkpts.put(name, staleCkpts)
        throw t
    }
    // Hand the converged labels back to the CALLER's session (the same
    // plan re-bind): downstream plans built on the result must plan
    // under the caller's conf, not the loop clone's 1-partition setting.
    // The CALLER-bound frame is what gets persisted+tracked: cache
    // replacement does NOT reliably match the clone-session frame
    // (measured: consumers recomputed the final hops per use), so the
    // tracked copy must be the very frame consumers' plans are built
    // from. It materializes once, from the kept checkpoint cut; the
    // loop-session incarnation is released here.
    val out = persistTracked(s"${name}_labels",
      GraftSqlBridge.ofRows(s, GraftSqlBridge.logicalPlan(cached))
        .select(col("src").as("doc_id"), col("lbl").as("canonical_id")))
    cached.unpersist(blocking = false)
    // the new labels now back the tracker entry, so the previous run's
    // cuts are finally unreferenced — delete them and record this run's
    staleCkpts.foreach(f => dropCkpt(s, Some(f)))
    keptCkpts.put(name, (ckptFileOf(edgesCut) ++ prevCkptFile).toSeq)
    (out, steps)
  }

  /** Converged label tables memoized per (pair family, corpus content
    * stamp) — the in-JVM stand-in for what a real pipeline persists as a
    * lake artifact: the component labels are computed ONCE per corpus
    * build and every consumer (d13's report, d14's selection, d28's
    * priority keeper, e06's semantic clusters) reads the same table.
    * Before r11, each of the four gate entries re-ran the identical
    * fixpoint loop over the same pair tables (~11 s of the sf0.1 suite
    * computing one answer four times). At most one live entry per
    * family: a new corpus stamp recomputes, and the recompute's
    * persistTracked/keptCkpts replacement under the family name is what
    * retires the stale frame — so the memo must never hold two stamps of
    * one family (the older one's cache+checkpoints would be gone).
    */
  private val labelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]()

  private[graft] def memoLabels(family: String, stamp: String)
      (compute: => DataFrame): DataFrame = labelMemo.synchronized {
    Option(labelMemo.get(family)) match {
      case Some((s0, df)) if s0 == stamp => df
      case _ =>
        val df = compute
        labelMemo.put(family, (stamp, df))
        df
    }
  }

  /** Test hook: forget memoized label tables (does not unpersist — the
    * per-name trackers own frame lifecycle).
    */
  private[graft] def clearLabelMemo(): Unit = labelMemo.clear()

  /** Near-dup cluster labels (doc_id, canonical_id = component minimum)
    * over the verified MinHash pairs, by Pregel-style min-label
    * propagation — shared by d13 (cluster report), d14 (corpus
    * selection) and d28 (priority keeper). Memoized per corpus stamp
    * (see [[memoLabels]]). See d13's scaladoc for the convergence/scale
    * notes.
    */
  private def dupLabels(s: SparkSession, d: String): DataFrame =
    dupLabelsFrom(s, Tables.documents(s, d), "d13", Tables.stamp(d, "documents"))

  /** Near-dup labels over an arbitrary docs frame — p01 canonicalizes
    * its quality-surviving subset with the identical machinery. `family`
    * keys the memo, the per-name caches, and the checkpoint files;
    * `stamp` is the corpus content stamp the memo invalidates on.
    */
  private[graft] def dupLabelsFrom(s: SparkSession, docs: DataFrame,
      family: String, stamp: String): DataFrame =
    memoLabels(family, stamp) {
      // pairs is persisted BEFORE the symmetrizing union: Spark doesn't
      // CSE across union branches, so an unpersisted plan would run the
      // whole candidate + Jaccard-verify pipeline twice
      val pairs = persistTracked(s"${family}_pairs",
        minhashPairsFrom(s, docs, family).select("a_id", "b_id"))
      val edges = persistTracked(s"${family}_edges",
        pairs.union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
          .toDF("src", "dst"))
      propagateLabels(s, edges, family)
    }

  /** The d13 label CTE chain (pairs -> edges -> recursive reachability ->
    * `lab(doc_id, canonical_id)`), shared by the d13 and d14 oracles.
    */
  private def duckLabelCtes: String = duckLabelCtesFrom("documents")

  /** [[duckLabelCtes]] over an arbitrary base relation (a prior CTE name
    * works — DuckDB resolves outer CTEs from nested WITH subqueries),
    * for p01's composed oracle.
    */
  private[operators] def duckLabelCtesFrom(base: String): String =
    s"""pairs AS (
       |  SELECT a_id, b_id FROM (
       |${duckD02SqlFrom(base).linesIterator.map("    " + _).mkString("\n")}
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
       |  SELECT src AS doc_id, min(lbl) AS canonical_id FROM reach GROUP BY src)""".stripMargin

  /** d02's DuckDB twin, generated so the affine-family constants are
    * written down exactly once (in [[As]]/[[Bs]]): md5-60-bit shingle
    * hashes -> 32 affine minhashes -> 8 polynomial band keys -> band-bucket
    * self-join -> exact-Jaccard verify — stage for stage the operator's
    * own pipeline.
    */
  private def duckD02Sql: String = duckD02SqlFrom("documents")

  private[operators] def duckD02SqlFrom(base: String): String = {
    val minhashes = (0 until NumHashes).map(k =>
      s"list_min(list_transform(hs, h -> (${As(k)}*(h%$P31)+${Bs(k)})%$P31))")
      .mkString("[\n        ", ",\n        ", "]")
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM $base),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, len(ws) - 2),
       |    i -> ('0x' || substr(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2])), 1, 15))::BIGINT)) AS hs
       |  FROM w),
       |nz AS (SELECT * FROM sh WHERE len(hs) > 0),
       |sig AS (SELECT doc_id, hs, $minhashes AS sig FROM nz),
       |bands AS (
       |  SELECT doc_id, b AS band_id,
       |         list_reduce(
       |           list_prepend(CAST(0 AS BIGINT),
       |                        sig[(b*$RowsPerBand+1):(b*$RowsPerBand+$RowsPerBand)]),
       |           (acc, h) -> (acc*31 + h) % $PolyMod) AS band_sig
       |  FROM sig, (SELECT unnest(generate_series(0, ${NumBands - 1})) AS b)),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_sig = b.band_sig
       |   AND a.doc_id < b.doc_id)
       |SELECT c.a_id, c.b_id,
       |       round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |             / len(list_distinct(list_concat(x.hs, y.hs))) + 1e-8, 4) AS sim
       |FROM cands c
       |JOIN nz x ON x.doc_id = c.a_id
       |JOIN nz y ON y.doc_id = c.b_id
       |WHERE CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |      / len(list_distinct(list_concat(x.hs, y.hs))) >= 0.3
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** One family's combo tables as DuckDB VALUES rows
    * (fam, tbl, o1, m1, o2, m2, s2) — the same block-pair slices as the
    * operator's combos frame, so the key fold is bit-identical to
    * [[comboKey]] (acc*2^w + block).
    */
  private def comboValuesRows(fam: Int, widths: Array[Int], c: Int): String =
    comboTupleRows(fam, widths, c).map(_.productIterator.mkString("(", ", ", ")"))
      .mkString(",\n    ")

  /** d03's DuckDB twin: md5-60-bit word hashes -> 60 per-bit sign sums ->
    * the ACTIVE family's bucket tables (both families' combos generated
    * as one VALUES list from the same arrays the operator uses) ->
    * bucket self-join -> Hamming filter at the active radius. Family
    * selection mirrors the operator exactly: the MEASURED density flip —
    * narrow-family candidate pairs over the 10%-of-md5-buckets sample,
    * pairs-per-doc estimate sp*n/n_s^2 compared as an exact HUGEINT
    * (Spark: DECIMAL(38,0)) integer inequality against
    * [[D03DensePairsPerDoc]].
    */
  private def duckD03Sql: String = {
    val comboRows = comboValuesRows(0, BlockWidth, 2) + ",\n    " +
      comboValuesRows(1, DenseBlockWidth, DenseChoose)
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
       |hw AS (
       |  SELECT doc_id, list_transform(ws,
       |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
       |  FROM w),
       |sig AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59),
       |    b -> CASE WHEN list_sum(list_transform(hs,
       |           h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
       |         THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
       |    AS BIGINT) AS simhash
       |  FROM hw),
       |n AS (SELECT count(*) AS corpus_n FROM documents),
       |combos(fam, tbl, o1, m1, o2, m2, s2) AS (VALUES
       |    $comboRows),
       |samp AS (
       |  SELECT doc_id, simhash FROM sig
       |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
       |        < $D03SampleBuckets),
       |ns AS (SELECT count(*) AS n_s FROM samp),
       |sbk AS (
       |  SELECT doc_id, tbl,
       |         ((simhash >> o1) & m1) * s2 + ((simhash >> o2) & m2) AS bkey
       |  FROM samp, combos WHERE combos.fam = 0),
       |spc AS (
       |  SELECT count(*) AS sp FROM sbk a JOIN sbk b
       |    ON a.tbl = b.tbl AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |sel AS (
       |  SELECT CASE WHEN CAST(spc.sp AS HUGEINT) * n.corpus_n
       |                   > $D03DensePairsPerDoc * CAST(ns.n_s AS HUGEINT) * ns.n_s
       |              THEN 1 ELSE 0 END AS active_fam
       |  FROM n, ns, spc),
       |sel2 AS (
       |  SELECT active_fam,
       |         CASE WHEN active_fam = 1 THEN $DenseRadius
       |              ELSE $SimHashRadius END AS cut_radius
       |  FROM sel),
       |buckets AS (
       |  SELECT doc_id, simhash, tbl,
       |         ((simhash >> o1) & m1) * s2 + ((simhash >> o2) & m2) AS bkey
       |  FROM sig, combos, sel2
       |  WHERE combos.fam = sel2.active_fam)
       |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM buckets a JOIN buckets b
       |  ON a.tbl = b.tbl AND a.bkey = b.bkey AND a.doc_id < b.doc_id, sel2
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= sel2.cut_radius
       |ORDER BY a_id, b_id""".stripMargin
  }

  private val defs1: Map[String, OpDef] = Map(

    // Exact dedup: group identical texts, keep the lowest doc_id.
    "d01_exact_dedup" -> OpDef.sql(
      (s, d) => Tables.documents(s, d)
        .groupBy(textFp.as("fp"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies", "fp")
        .orderBy("keep_id"),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS fp
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin),

    // Normalized exact dedup (the CCNet-style canonicalization pass):
    // dedup on lowercase + punctuation-stripped + whitespace-collapsed
    // text, catching case/punctuation/spacing variants that d01's raw
    // fingerprint treats as distinct. n_raw_variants counts how many
    // DIFFERENT raw texts collapsed into each normalized group (1 =
    // byte-identical copies only, so the interesting rows are > 1).
    // Same shape as d01 — one map-side-combinable groupBy over a per-row
    // codegen'd key; normalization is ASCII-safe on this corpus (a
    // locale-sensitive lowercase would need an explicit collation
    // contract between engines).
    "d25_norm_dedup" -> OpDef.sql(
      (s, d) => {
        val norm = normText(col("text"))
        Tables.documents(s, d)
          .groupBy(md5(norm.cast("binary")).as("norm_fp"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
               countDistinct(textFp).as("n_raw_variants"))
          .select("keep_id", "n_copies", "n_raw_variants", "norm_fp")
          .orderBy("keep_id")
      },
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |       count(DISTINCT md5(text)) AS n_raw_variants,
        |       md5(trim(regexp_replace(regexp_replace(lower(text),
        |           '[.,!?;:]', '', 'g'), '\s+', ' ', 'g'))) AS norm_fp
        |FROM documents
        |GROUP BY 4 ORDER BY keep_id""".stripMargin),

    // MinHash + LSH near-dup pairs. Candidates come only from band-bucket
    // equality joins; each candidate is verified with exact shingle Jaccard.
    //
    // Every stage is chosen to be exactly reproducible in DuckDB SQL, so
    // the gate hash-checks the whole LSH pipeline instead of trusting repo
    // tests alone: shingle hashes are the md5-60-bit construction d08 uses
    // (DuckDB: md5 + substr + hex cast), the minhash family is affine
    // arithmetic mod 2^31-1 (list_transform + list_min), and the band key
    // is a polynomial fold of each band's minhashes mod 1e15+37
    // (list_reduce over the signature slice) instead of an
    // engine-specific xxhash of their concatenation. The recall behavior
    // (MinHashRecallSpec's S-curve measurement) is unchanged — only the
    // hash family underneath the bits moved.
    "d02_minhash_lsh" -> OpDef.sql(
      (s, d) => minhashPairs(s, d).orderBy("a_id", "b_id"),
      duckD02Sql),

    // Near-dup cluster canonicalization: connected components over the
    // verified MinHash pairs, one canonical doc (the component-minimum
    // id) per cluster — the step that turns pairwise near-dup evidence
    // into "keep this doc, drop those" decisions in a dedup pipeline.
    //
    // Components by Pregel-style min-label propagation: every doc starts
    // at min(self, neighbors) and each round takes the min over its
    // neighbors' labels, until a round changes nothing. The driver sees
    // only ONE SCALAR per round (the count of labels lowered); the label
    // table itself never leaves the executors. Rounds ≈ log2 of the
    // deepest cluster's diameter (each round also pointer-jumps through
    // the label table; capped defensively), each round shuffles the
    // label table, and every CheckpointEvery rounds the table is
    // checkpointed so lineage and the failure-recovery path stay
    // bounded — see propagateLabels.
    //
    // Oracle: the same components via a recursive CTE (DuckDB WITH
    // RECURSIVE reachability, min over reached ids), over the same d02
    // pair SQL embedded as a subquery.
    "d13_dup_clusters" -> OpDef.sql(
      (s, d) => {
        val lab = dupLabels(s, d)
        lab
          .join(lab.groupBy("canonical_id").agg(count(lit(1)).as("cluster_size")),
                "canonical_id")
          .select("doc_id", "canonical_id", "cluster_size")
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE $duckLabelCtes,
         |sz AS (
         |  SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM lab GROUP BY canonical_id)
         |SELECT l.doc_id, l.canonical_id, s.cluster_size
         |FROM lab l JOIN sz s USING (canonical_id)
         |ORDER BY doc_id""".stripMargin),

    // The end-to-end dedup pipeline output: which documents actually make
    // it into the training corpus, and into which split. A doc survives
    // iff it is BOTH its exact-duplicate group's keeper (min id over
    // identical texts, d01's rule) and — when it appears in a near-dup
    // cluster at all — that cluster's canonical (d13's rule). The two
    // rules compose without conflict: identical docs share every shingle,
    // so an exact group sits inside one cluster and the cluster minimum
    // is always an exact keeper. Survivors carry d11's deterministic
    // md5-bucket split (splitOf/duckSplitCase — one definition with d11).
    // All three stages are the already-oracle-checked building blocks,
    // composed; the oracle composes the same SQL.
    //
    // dupLabels is memoized per corpus stamp across d13/d14/d28 (see
    // memoLabels): in a real pipeline the label table is a persisted
    // lake artifact every consumer reads, so computing the fixpoint once
    // per corpus build IS the honest cost model — the first consumer
    // pays the loop, the rest pay the join they'd run in production.
    "d14_corpus_select" -> OpDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val keep = docs
          .groupBy(textFp.as("fp"))
          .agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        val lab = dupLabels(s, d)
        docs
          .join(keep, "doc_id") // exact keepers only (semi-join shape)
          .join(lab, Seq("doc_id"), "left")
          .filter(col("canonical_id").isNull ||
                  col("canonical_id") === col("doc_id"))
          .select(col("doc_id"), col("source"),
                  splitOf(splitBucket(col("doc_id"))).as("split"))
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE $duckLabelCtes,
         |keepers AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT d.doc_id, d.source,
         |       ${duckSplitCase("d.doc_id")} AS split
         |FROM documents d
         |JOIN keepers k ON d.doc_id = k.doc_id
         |LEFT JOIN lab l ON d.doc_id = l.doc_id
         |WHERE l.doc_id IS NULL OR l.canonical_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // Benchmark decontamination: flag training-split documents whose
    // 3-word-shingle sets overlap the held-out test split — the standard
    // scrub that keeps evaluation data out of a training corpus (without
    // it, benchmark numbers measure memorization). Benchmark = d11's
    // deterministic test split, so the op is self-contained and every
    // stage reuses already-oracle-checked pieces: the md5-60-bit shingle
    // family (d02/d08) and the split rule (d11/d14).
    //
    // Scale shape: the benchmark's distinct shingle set is SMALL (real
    // benchmark suites are thousands of docs) — broadcast it; the
    // training side then streams through one scan + local hash lookups
    // and a per-doc partial count, no corpus shuffle. A benchmark too
    // big to broadcast degrades to an ordinary shuffled equality join on
    // the shingle hash — same plan minus the hint.
    "d16_decontaminate" -> OpDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("split", splitOf(splitBucket(col("doc_id"))))
          .withColumn("mh", expr("md5_shingle3_hashes(text)"))
          .filter(size(col("mh")) > 0)
        val bench = docs.filter(col("split") === "test")
          .select(explode(col("mh")).as("h")).distinct()
        docs.filter(col("split") === "train")
          .select(col("doc_id"), size(col("mh")).cast("bigint").as("n_shingles"),
                  explode(col("mh")).as("h"))
          .join(broadcast(bench.withColumn("hit", lit(1))), Seq("h"), "left")
          .groupBy("doc_id", "n_shingles")
          .agg(count(col("hit")).as("n_shared"))
          // threshold on the RAW ratio (d02/d04 convention); the emitted
          // ratio is epsilon-rounded for cross-engine hashing
          .filter(col("n_shared").cast("double") / col("n_shingles") >= 0.2)
          .select(col("doc_id"), col("n_shingles"), col("n_shared"),
                  round(col("n_shared").cast("double") / col("n_shingles")
                          + lit(1e-8), 4).as("overlap"))
          .orderBy("doc_id")
      },
      duckD16Sql),

    // d16 at the scale where the BENCHMARK side itself is big: the same
    // decontamination verdicts behind a Bloom prefilter. d16's broadcast
    // of the exact bench shingle table stops working when the held-out
    // suite reaches ~10^9 distinct shingles (multi-GB exact table), and
    // the fallback — a shuffled equality join — shuffles EVERY training
    // shingle. The Bloom form restores corpus-side economy: build a
    // Bloom filter over the bench set (~1.2 bytes/key at 1% fp — 10^9
    // keys is a ~1.2 GB task-shippable model, the d24/boiler-lake
    // artifact discipline), probe every training shingle in-scan with a
    // codegen'd might-contain (BloomContainsLong), and send ONLY the
    // survivors — true hits + the ~1% fp fraction — into the exact
    // verify join (pinned SHUFFLE_HASH: the scale path where neither
    // side broadcasts). Bloom has no false negatives, so
    // prefilter -> exact verify is BIT-IDENTICAL to d16: same oracle,
    // verbatim, while the verify join's probe side shrinks ~50x at
    // gate overlap rates (BloomDecontamSpec measures it).
    "d30_bloom_decontam" -> OpDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("split", splitOf(splitBucket(col("doc_id"))))
          .withColumn("mh", expr("md5_shingle3_hashes(text)"))
          .filter(size(col("mh")) > 0)
        val bench = docs.filter(col("split") === "test")
          .select(explode(col("mh")).as("h")).distinct()
        // Model build: size + bits in two driver-visible jobs (the
        // trainLloyd convention — the MODEL comes to the driver, never
        // the data; production persists the bits next to the benchmark
        // suite and rebuilds only when the suite changes).
        val bloom = bench.stat.bloomFilter("h", math.max(1L, bench.count()), 0.01)
        docs.filter(col("split") === "train")
          .select(col("doc_id"), size(col("mh")).cast("bigint").as("n_shingles"),
                  explode(col("mh")).as("h"))
          .filter(GraftFunctions.bloomContainsLong(col("h"), bloom))
          .join(bench.hint("shuffle_hash"), Seq("h"), "inner")
          .groupBy("doc_id", "n_shingles")
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared").cast("double") / col("n_shingles") >= 0.2)
          .select(col("doc_id"), col("n_shingles"), col("n_shared"),
                  round(col("n_shared").cast("double") / col("n_shingles")
                          + lit(1e-8), 4).as("overlap"))
          .orderBy("doc_id")
      },
      duckD16Sql),

    // Incremental dedup: today's batch against the EXISTING corpus — the
    // mode a production pipeline actually runs (re-deduping 100 TB per
    // crawl is not a plan; probing a persisted index is). Index = the
    // train/val splits, batch = the test split (d11's rule, so the op is
    // self-contained on driver data); each batch doc gets a verdict:
    //   exact_dup — its d01 fingerprint already exists in the index
    //               (match = lowest such index doc);
    //   near_dup  — a d02 band-bucket collision against an index doc
    //               verified at raw Jaccard >= 0.3 (match = lowest
    //               verified index doc, sim = that pair's);
    //   new       — neither.
    // Exact wins over near (an identical doc is trivially also near).
    //
    // Scale shape: everything the index side contributes (fingerprints,
    // shingle sets, band keys) is a pure function of the index — in
    // production those ARE lake tables written when docs entered the
    // corpus, so an incremental run computes signatures for the BATCH
    // only and equality-joins the index tables: cost scales with the
    // batch, never the corpus. The joins shuffle on (fp) and (band_id,
    // band_sig) — bucket the index tables on those keys and the probe is
    // exchange-free on the index side (BucketedJoinSpec's discipline).
    "d24_incremental_dedup" -> OpDef.sql(
      (s, d) => {
        val (batchFp, shBat, fpIdx, bandIdx, shIdx) = d24Artifacts(s, d)
        d24Verdicts(batchFp, shBat, fpIdx, bandIdx, shIdx)
      },
      duckD24Sql)
  )

  /** d16's DuckDB oracle — shared VERBATIM with d30_bloom_decontam (the
    * Bloom prefilter has no false negatives, so prefilter + exact verify
    * must produce d16's exact output) and s15_stream_decontam (the
    * intake-side twin; the s01/q27 one-oracle-many-paths convention).
    */
  private[graft] def duckD16Sql: String =
    s"""WITH w AS (
       |  SELECT doc_id, ${duckSplitCase("doc_id")} AS split,
       |         string_split_regex(text, '\\s+') AS ws
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, split, list_distinct(list_transform(
       |    generate_series(1, len(ws) - 2),
       |    i -> ('0x' || substr(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2])), 1, 15))::BIGINT)) AS hs
       |  FROM w),
       |nz AS (SELECT * FROM sh WHERE len(hs) > 0),
       |bench AS (SELECT DISTINCT unnest(hs) AS h FROM nz WHERE split = 'test'),
       |tr AS (
       |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles, unnest(hs) AS h
       |  FROM nz WHERE split = 'train'),
       |hits AS (
       |  SELECT t.doc_id, t.n_shingles, count(b.h) AS n_shared
       |  FROM tr t LEFT JOIN bench b ON t.h = b.h
       |  GROUP BY t.doc_id, t.n_shingles)
       |SELECT doc_id, n_shingles, n_shared,
       |       round(CAST(n_shared AS DOUBLE) / n_shingles + 1e-8, 4) AS overlap
       |FROM hits
       |WHERE CAST(n_shared AS DOUBLE) / n_shingles >= 0.2
       |ORDER BY doc_id""".stripMargin

  /** The benchmark's distinct md5-3-shingle hashes as a SORTED driver
    * array — the intake-side decontamination model (s15's analog of
    * s13's boiler-span list: benchmark-suite-sized, "megabytes as
    * longs"; a suite too big for the closure uses d30's Bloom bits or
    * the boiler-lake join path instead).
    */
  private[graft] def benchShingleList(s: SparkSession, d: String): Array[Long] =
    benchShingleListFrom(Tables.documents(s, d)
        .filter(splitOf(splitBucket(col("doc_id"))) === "test"))

  /** Same model from an arbitrary benchmark-docs frame (the parity
    * harness feeds hand corpora through the identical definition).
    */
  private[graft] def benchShingleListFrom(benchDocs: DataFrame): Array[Long] = {
    benchDocs
      .select(explode(expr("md5_shingle3_hashes(text)")).as("h"))
      .distinct()
      .orderBy("h")
      .collect()
      .map(_.getLong(0))
  }

  /** d16's verdict computed fully IN-ROW against a driver-resident
    * benchmark shingle list: per-doc shared-shingle count as ONE
    * codegen'd kernel call (CountInSortedLongs — no explode, no join,
    * no shuffle), which is what lets s15 run the scrub stateless on the
    * intake firehose. Shared by the s15 gate entry and the parity
    * harness so both exercise one definition.
    */
  private[graft] def decontamVerdicts(docs: DataFrame,
      bench: Array[Long]): DataFrame = {
    docs
      .select(col("doc_id"), expr("md5_shingle3_hashes(text)").as("mh"))
      .filter(size(col("mh")) > 0)
      .select(col("doc_id"), size(col("mh")).cast("bigint").as("n_shingles"),
              GraftFunctions.countInSortedLongs(col("mh"), bench).as("n_shared"))
      .filter(col("n_shared").cast("double") / col("n_shingles") >= 0.2)
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
              round(col("n_shared").cast("double") / col("n_shingles")
                      + lit(1e-8), 4).as("overlap"))
  }

  /** d24's full DuckDB oracle — shared VERBATIM with
    * s10_stream_incr_dedup (the streaming twin probes the same batch
    * against the same index, so one oracle checks both engine paths,
    * the s01/q27 convention).
    */
  private[graft] def duckD24Sql: String = {
    val minhashes = (0 until NumHashes).map(k =>
      s"list_min(list_transform(hs, h -> (${As(k)}*(h%$P31)+${Bs(k)})%$P31))")
      .mkString("[\n        ", ",\n        ", "]")
    s"""WITH d AS (
           |  SELECT doc_id, text, ${duckSplitCase("doc_id")} AS split,
           |         md5(text) AS fp, string_split_regex(text, '\\s+') AS ws
           |  FROM documents),
           |fpidx AS (
           |  SELECT fp, min(doc_id) AS exact_match
           |  FROM d WHERE split <> 'test' GROUP BY fp),
           |sh AS (
           |  SELECT doc_id, split, list_distinct(list_transform(
           |    generate_series(1, len(ws) - 2),
           |    i -> ('0x' || substr(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2])), 1, 15))::BIGINT)) AS hs
           |  FROM d),
           |nz AS (SELECT * FROM sh WHERE len(hs) > 0),
           |sig AS (SELECT doc_id, split, hs, $minhashes AS sig FROM nz),
           |bands AS (
           |  SELECT doc_id, split, b AS band_id,
           |         list_reduce(
           |           list_prepend(CAST(0 AS BIGINT),
           |                        sig[(b*$RowsPerBand+1):(b*$RowsPerBand+$RowsPerBand)]),
           |           (acc, h) -> (acc*31 + h) % $PolyMod) AS band_sig
           |  FROM sig, (SELECT unnest(generate_series(0, ${NumBands - 1})) AS b)),
           |cand AS (
           |  SELECT DISTINCT b.doc_id AS b_id, i.doc_id AS i_id
           |  FROM bands b JOIN bands i
           |    ON b.band_id = i.band_id AND b.band_sig = i.band_sig
           |  WHERE b.split = 'test' AND i.split <> 'test'),
           |vok AS (
           |  SELECT c.b_id, c.i_id,
           |         CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
           |           / len(list_distinct(list_concat(x.hs, y.hs))) AS sim_raw
           |  FROM cand c
           |  JOIN nz x ON x.doc_id = c.b_id
           |  JOIN nz y ON y.doc_id = c.i_id
           |  WHERE CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
           |        / len(list_distinct(list_concat(x.hs, y.hs))) >= 0.3),
           |near AS (
           |  SELECT m.b_id, m.near_match, round(w.sim_raw + 1e-8, 4) AS near_sim
           |  FROM (SELECT b_id, min(i_id) AS near_match FROM vok GROUP BY b_id) m
           |  JOIN vok w ON w.b_id = m.b_id AND w.i_id = m.near_match)
           |SELECT b.doc_id,
           |  CASE WHEN f.exact_match IS NOT NULL THEN 'exact_dup'
           |       WHEN n.near_match IS NOT NULL THEN 'near_dup'
           |       ELSE 'new' END AS verdict,
           |  coalesce(f.exact_match, n.near_match) AS match_id,
           |  CASE WHEN f.exact_match IS NULL AND n.near_match IS NOT NULL
           |       THEN n.near_sim END AS sim
           |FROM d b
           |LEFT JOIN fpidx f ON b.fp = f.fp
           |LEFT JOIN near n ON n.b_id = b.doc_id
           |WHERE b.split = 'test'
           |ORDER BY b.doc_id""".stripMargin
  }

  /** The defs map continues below (split by [[duckD24Sql]], whose text
    * s10_stream_incr_dedup shares verbatim — one oracle, two engine
    * paths, the s01/q27 convention).
    */
  /** The static corpus's boiler-span list as sorted hashes — the MODEL
    * a stream-side scrub broadcasts (s12's rate-table pattern: the
    * prior corpus builds the intake artifact; here it is a probe list
    * rather than a joinable table). Size is bounded by the nature of
    * boilerplate (shared chrome, not content): thousands to millions of
    * spans, megabytes as longs — a model-sized driver collect, like
    * e08's centroids, not a data collect.
    */
  private[graft] def boilerSpanHashes(s: SparkSession, d: String): Array[Long] =
    boilerSpanHashesFrom(s, Tables.documents(s, d))

  /** Same model build from an arbitrary docs frame (the parity harness
    * feeds a hand corpus through the identical pipeline).
    */
  private[graft] def boilerSpanHashesFrom(s: SparkSession,
      docs: DataFrame): Array[Long] =
    boilerSpanTable(docs).collect().map(_.getLong(0))

  /** The boiler-span model as a FRAME (h: long), the form that stays on
    * the cluster: span doc-frequency (one combinable countDistinct
    * shuffle), thresholded at [[BoilerMinDocs]]. [[boilerSpanHashesFrom]]
    * collects it for the codegen'd binary-search probe;
    * [[writeBoilerLake]] persists it for the join-path probe that needs
    * no driver-resident copy at all.
    */
  private[graft] def boilerSpanTable(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), explode(expr("md5_span8_hashes(text)")).as("h"))
      .groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= BoilerMinDocs)
      .select("h")
  }

  /** Persist the boiler-span list as a sorted lake table — the
    * 100-TB-crawl form of the model. The collected-array probe
    * ([[scrubAgainst]]) is right while the list is model-sized
    * (megabytes of longs ride the closure into a codegen'd binary
    * search, zero shuffle); a planetary crawl's boiler list can reach
    * 10^8 spans — GBs on the driver and in every task binary — so past
    * that the list lives HERE and the probe becomes a join
    * ([[scrubViaLake]]). Range-sorted by h so a reader gets
    * min/max-prunable, merge-friendly files.
    */
  private[graft] def writeBoilerLake(s: SparkSession, docs: DataFrame,
      path: String): Unit =
    boilerSpanTable(docs)
      .repartitionByRange(col("h")).sortWithinPartitions("h")
      .write.mode("overwrite").parquet(path)

  /** The scrub with the boiler list as a TABLE (lake form): per-doc
    * spans exploded once, an equality join against the span table marks
    * the hits, hit starts regroup per doc (combinable collect_set on the
    * span shuffle — volume ∝ matching spans, not corpus words), and the
    * rebuild is the same in-row frame logic as [[scrubAgainst]] over a
    * left join back to the docs (untouched rows pass through verbatim).
    *
    * `broadcastBoiler` picks the join strategy: below the threshold the
    * span table broadcasts (each task probes a local hash map — the
    * join twin of the binary-search closure); above it the hint is
    * omitted and the spans shuffle on h, with Spark's runtime bloom
    * filter (spark.sql.optimizer.runtime.bloomFilter.enabled) pruning
    * non-matching spans before the exchange. Output is bit-identical
    * either way (BoilerLakeSpec).
    *
    * Measured (bench/BENCH_boiler_probe_*_r10.json, prebuilt model on
    * every path, sf1): the first in-row probe formulation — interpreted
    * transform+filter HOFs around the codegen'd binary search — ran
    * 14.1 s vs 2.2 broadcast-join / 3.5 shuffle-join, which exposed the
    * HOF wrapper (not the search) as ~6x the whole operator. Fusing
    * the probe into ONE codegen'd kernel (SpanHitStarts: span hashing +
    * binary search per row, no lambdas) brought the in-row form to
    * 2.45 s — parity with
    * the joins (broadcast 1.87 / shuffle 2.62 same run,
    * bench/BENCH_boiler_probe_*.json). Pick by MODEL SIZE now, not
    * probe speed: in-row/broadcast under ~10^7 spans (~100 MB of
    * longs), shuffle join above — the form with no driver-resident or
    * per-task copy of the list at all.
    */
  private[graft] def scrubViaLake(docs: DataFrame,
      boiler: DataFrame, broadcastBoiler: Boolean): DataFrame = {
    val spanSide = if (broadcastBoiler) broadcast(boiler) else boiler
    val hits = docs
      .select(col("doc_id"),
        posexplode(expr("md5_span8_hashes(text)")).as(Seq("i", "h")))
      .join(spanSide, "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("i"))).as("hit_is"))
    rebuildScrubbed(
      docs.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"),
                coalesce(col("hit_is"), expr("array()")).as("hit_is")))
  }

  /** The per-row scrub against a FIXED boiler list: span hashes, hit
    * starts (codegen'd binary search per span), covered indices and the
    * word filter all happen in-row, so the same frame logic runs on a
    * batch table and a stream (stateless, append mode, zero shuffle).
    * Untouched rows pass through verbatim, d29's convention; on the
    * corpus the list was built from, the output IS d29's.
    */
  private[graft] def scrubAgainst(docs: DataFrame,
      boiler: Array[Long]): DataFrame = {
    rebuildScrubbed(docs
      .withColumn("hit_is", GraftFunctions.spanHitStarts(col("text"), boiler)))
  }

  /** The in-row rebuild shared by BOTH probe forms (collected-array
    * binary search and lake-table join): given (doc_id, text, hit_is —
    * the span starts that matched the boiler list), drop every word
    * covered by a hit span (start..start+7), keep untouched rows
    * verbatim. One definition, so the two probes cannot diverge on the
    * edit itself.
    */
  private def rebuildScrubbed(docsWithHits: DataFrame): DataFrame =
    docsWithHits
      .withColumn("ws", split(col("text"), "\\s+"))
      // the interpreted higher-order rebuild only EVALUATES for rows with
      // hits (CaseWhen branches are lazy per row) — untouched rows, the
      // overwhelming majority of any real corpus, pay the split and
      // nothing else
      .withColumn("cov", when(size(col("hit_is")) > 0, expr(
        "array_distinct(flatten(transform(hit_is, x -> sequence(x, x + 7))))")))
      .withColumn("kept", when(size(col("hit_is")) > 0, expr(
        "filter(transform(ws, (wd, i) -> " +
        "named_struct('wd', wd, 'c', array_contains(cov, i))), " +
        "x -> NOT x.c)")))
      .select(col("doc_id"), size(col("ws")).as("n_words"),
              when(size(col("hit_is")) === 0, lit(0))
                .otherwise(size(col("ws")) - size(col("kept")))
                .as("n_removed"),
              when(size(col("hit_is")) === 0, col("text"))
                .otherwise(expr("concat_ws(' ', transform(kept, x -> x.wd))"))
                .as("clean_text"))

  /** d29's DuckDB twin — shared VERBATIM with s13_stream_scrub (the
    * stream applies the static corpus's boiler list, so its batch truth
    * IS d29's output).
    */
  private[graft] def duckD29Sql: String =
    s"""WITH w AS (
         |  SELECT doc_id, text, string_split_regex(text, '\\s+') AS ws
         |  FROM documents),
         |ex AS (
         |  SELECT doc_id, u.sp AS sp, u.h AS h FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, greatest(len(ws) - 7, 0)),
         |      i -> struct_pack(sp := i - 1,
         |        h := ('0x' || substr(md5(concat_ws(' ', ws[i], ws[i+1],
         |          ws[i+2], ws[i+3], ws[i+4], ws[i+5], ws[i+6], ws[i+7])),
         |          1, 15))::BIGINT))) AS u
         |    FROM w)),
         |boiler AS (
         |  SELECT h FROM (
         |    SELECT h, count(DISTINCT doc_id) AS df FROM ex GROUP BY h)
         |  WHERE df >= $BoilerMinDocs),
         |hits AS (
         |  SELECT DISTINCT e.doc_id FROM ex e JOIN boiler b USING (h)),
         |cov AS (
         |  SELECT DISTINCT e.doc_id, e.sp + g.g AS idx
         |  FROM ex e JOIN boiler b USING (h),
         |       (SELECT unnest(generate_series(0, 7)) AS g) g),
         |wx AS (
         |  SELECT doc_id, u.idx AS idx, u.wd AS wd FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)),
         |      i -> struct_pack(idx := i - 1, wd := ws[i]))) AS u
         |    FROM w WHERE doc_id IN (SELECT doc_id FROM hits))),
         |kept AS (
         |  SELECT x.doc_id, x.idx, x.wd
         |  FROM wx x LEFT JOIN cov c ON x.doc_id = c.doc_id AND x.idx = c.idx
         |  WHERE c.doc_id IS NULL),
         |agg AS (
         |  SELECT h.doc_id, CAST(count(k.idx) AS BIGINT) AS n_kept,
         |         coalesce(string_agg(k.wd, ' ' ORDER BY k.idx), '') AS clean_text
         |  FROM hits h LEFT JOIN kept k USING (doc_id) GROUP BY h.doc_id)
         |SELECT w.doc_id, CAST(len(w.ws) AS INT) AS n_words,
         |       CAST(CASE WHEN a.doc_id IS NULL THEN 0
         |                 ELSE len(w.ws) - a.n_kept END AS INT) AS n_removed,
         |       CASE WHEN a.doc_id IS NULL THEN w.text
         |            ELSE a.clean_text END AS clean_text
         |FROM w LEFT JOIN agg a USING (doc_id)
         |ORDER BY w.doc_id""".stripMargin

  private val defs2: Map[String, OpDef] = Map(

    // SimHash: 64-bit per-row signature, then near-dup pairs at Hamming
    // distance <= SimHashRadius.
    //
    // Signature: the native codegen'd `simhash64(text)` kernel — one tight
    // per-row loop over the word multiset (HashKernels.simhash64),
    // bit-identical to the explode-words + 64 bit-sum-aggregate formulation
    // (SimHashSpec proves it) but with zero explode blow-up and zero
    // shuffle: the signature is computed inside the documents scan.
    //
    // Candidates: Manku-style block-combination tables (WWW'07 near-dup
    // scheme, re-sized to our radius). The code splits into 8 blocks of
    // 8 bits; a table per block PAIR (C(8,2) = 28 tables) joins on the
    // 16-bit concatenation of the two block values. Pigeonhole: <= 6
    // differing bits touch at most 6 of the 8 blocks, so some block pair
    // is identical in both codes — candidate recall at Hamming <= 6 is
    // exactly 1.0 (SimHashSpec verifies against exhaustive all-pairs
    // Hamming at sf0.01). The radius therefore equals the guaranteed
    // recall radius — no silently-missed near-dups, unlike chunk schemes
    // whose guarantee stops below their threshold.
    //
    // Scale: 28 bucket rows per doc, candidates only from ~15-bit-key
    // equality joins — ~1/2340 of all pairs under a uniform code
    // distribution. A corpus of near-identical cliques defeats any key
    // width, so the ACTIVE family is chosen by MEASURED density
    // (D03DensePairsPerDoc): narrow-family candidate pairs over a 10%
    // md5 sample, and past the threshold the C(6,2) dense family at
    // radius 4 (see DenseBlockWidth). Selection is a one-row-broadcast
    // selector feeding the combos filter and the radius cut, inside the
    // plan; the DuckDB oracle carries both families' combo tables and
    // selects with the same integer inequality.
    // Code/hash family: a 60-bit code over md5-60-bit word hashes
    // (simhash60_md5) rather than the 64-bit xxhash kernel, so every
    // stage — word split, word hash, per-bit sign sums, block keys,
    // Hamming distance — is exactly reproducible in DuckDB SQL and the
    // gate hash-checks the whole pipeline (the simhash64 kernel remains
    // as the general-purpose function; only this operator's signature
    // moved). 60 bits split into 8 blocks of widths 8,8,8,8,7,7,7,7:
    // pigeonhole over block COUNT, not width, so the radius-6 guarantee
    // holds.
    "d03_simhash" -> OpDef.sql(
      (s, d) => d03Body(s, d),
      duckD03Sql),

    // Blocked character-set Jaccard pairs (SQL-expressible near-dup metric).
    // Char-set Jaccard pairs, blocked on (source, lang, length DIV W)
    // where W is DENSITY-DERIVED from the corpus count (lenBandWidthCase
    // — the same one-row broadcast + integer ladder as d09's code width),
    // so block sizes stay flat as the corpus grows instead of the fixed-W
    // density^2 blowup (a 10x probe at fixed W=50 measured 12-17x
    // runtime). Near-identical docs land in the same band by
    // construction, the oracle mirrors count, ladder, and banding
    // exactly. Per-doc codepoint sets are precomputed ONCE (sorted
    // array<long>), the per-pair metric is a zero-alloc merge scan, and a
    // size-ratio prefilter (implied by sim >= 0.8, so it changes no
    // results) drops most pairs before the scan.
    "d04_char_jaccard" -> OpDef.sql(
      (s, d) => {
        val docs = withLenWidth(s, d, CharBandBase, CharBandMin)
          .withColumn("len_band", (length(col("text")) / col("len_w")).cast("int"))
          .withColumn("chars", expr("codepoint_set(text)"))
          .select("doc_id", "source", "lang", "len_band", "chars")
        val a = docs.toDF("a_id", "source", "lang", "len_band", "a_chars")
        val b = docs.toDF("b_id", "source", "lang", "len_band", "b_chars")
        a.join(b, Seq("source", "lang", "len_band"))
          .filter(col("a_id") < col("b_id"))
          .filter(size(col("a_chars")) * 10 >= size(col("b_chars")) * 8 &&
                  size(col("b_chars")) * 10 >= size(col("a_chars")) * 8)
          .withColumn("sim_raw", expr("sorted_jaccard(a_chars, b_chars)"))
          .filter(col("sim_raw") >= 0.8)
          .select(col("a_id"), col("b_id"),
                  round(col("sim_raw") + lit(1e-8), 4).as("sim"))
          .orderBy("a_id", "b_id")
      },
      s"""WITH n AS (SELECT count(*) AS corpus_n FROM documents),
        |p AS (SELECT ${lenBandWidthCase("corpus_n", CharBandBase, CharBandMin)} AS len_w FROM n),
        |c AS (
        |  SELECT doc_id, source, lang, length(text) // len_w AS len_band,
        |         list_distinct(string_split_regex(text, '')) AS chars
        |  FROM documents, p)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       round(CAST(len(list_intersect(a.chars, b.chars)) AS DOUBLE)
        |             / len(list_distinct(list_concat(a.chars, b.chars))) + 1e-8, 4) AS sim
        |FROM c a JOIN c b
        |  ON a.source = b.source AND a.lang = b.lang
        | AND a.len_band = b.len_band AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.chars, b.chars)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.chars, b.chars))) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin),

    // Word 3-gram Jaccard near-dup pairs, blocked on (source, lang). The
    // Spark side measures Jaccard over the hashed shingle sets (native
    // kernel, reused from minhash); the oracle over the raw shingle
    // strings — identical values since xxhash64 is injective on these
    // sets in practice, and the blocking bounds the pair count by design.
    "d10_ngram_jaccard" -> OpDef.sql(
      (s, d) => {
        // same density-derived band width as d04 (wider base: shingle
        // sets tolerate more length drift than codepoint sets at their
        // respective thresholds)
        val docs = withLenWidth(s, d, NgramBandBase, NgramBandMin)
          .withColumn("shingles", expr("shingle3_hashes(text)"))
          .filter(size(col("shingles")) > 0)
          .withColumn("len_band", (length(col("text")) / col("len_w")).cast("int"))
          .withColumn("sh_sorted", array_sort(col("shingles")))
          .select("doc_id", "source", "lang", "len_band", "sh_sorted")
        val a = docs.toDF("a_id", "source", "lang", "len_band", "a_sh")
        val b = docs.toDF("b_id", "source", "lang", "len_band", "b_sh")
        a.join(b, Seq("source", "lang", "len_band"))
          .filter(col("a_id") < col("b_id"))
          // implied by sim >= 0.2 (sizes within 5x); drops pairs pre-scan
          .filter(size(col("a_sh")) * 5 >= size(col("b_sh")) &&
                  size(col("b_sh")) * 5 >= size(col("a_sh")))
          .withColumn("sim_raw", expr("sorted_jaccard(a_sh, b_sh)"))
          .filter(col("sim_raw") >= 0.2)
          .select(col("a_id"), col("b_id"),
                  round(col("sim_raw") + lit(1e-8), 4).as("sim"))
          .orderBy("a_id", "b_id")
      },
      s"""WITH n AS (SELECT count(*) AS corpus_n FROM documents),
        |p AS (SELECT ${lenBandWidthCase("corpus_n", NgramBandBase, NgramBandMin)} AS len_w FROM n),
        |sh AS (
        |  SELECT doc_id, source, lang, length(text) // len_w AS len_band,
        |         list_distinct(list_transform(
        |           generate_series(1, len(string_split_regex(text, '\\s+')) - 2),
        |           i -> concat_ws(' ',
        |                  string_split_regex(text, '\\s+')[i],
        |                  string_split_regex(text, '\\s+')[i+1],
        |                  string_split_regex(text, '\\s+')[i+2]))) AS shingles
        |  FROM documents, p),
        |nz AS (SELECT * FROM sh WHERE len(shingles) > 0)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |             / len(list_distinct(list_concat(a.shingles, b.shingles))) + 1e-8, 4) AS sim
        |FROM nz a JOIN nz b
        |  ON a.source = b.source AND a.lang = b.lang
        | AND a.len_band = b.len_band AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.2
        |ORDER BY a_id, b_id""".stripMargin),

    // Deterministic hash-based corpus splitting: every document lands in a
    // stable md5-derived bucket (0-99) and a train/val/test split
    // (80/10/10) that is a pure function of its id — reproducible across
    // runs, clusters, and engines (no sampling RNG, no seed coordination),
    // which is how a 100-TB training corpus gets split in practice. The
    // same 60-bit md5-prefix construction as d08, so DuckDB replicates it
    // exactly. Per-row codegen'd expressions: scan-speed at any scale.
    "d11_hash_sample" -> OpDef.sql(
      (s, d) => Tables.documents(s, d)
        .withColumn("bucket", splitBucket(col("doc_id")))
        .withColumn("split", splitOf(col("bucket")))
        .select("doc_id", "source", "bucket", "split")
        .orderBy("doc_id"),
      s"""SELECT doc_id, source,
         |       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS INT) AS bucket,
         |       ${duckSplitCase("doc_id")} AS split
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Rolling-hash fingerprinting: min/max/count over shingle hashes plus a
    // polynomial fold — a compact per-document sketch for containment-style
    // matching. Shingle hashes are md5-derived (first 15 hex chars as a
    // 60-bit long) and sorted ascending, which makes every column — the
    // order-dependent fold included — exactly reproducible in DuckDB
    // (xxhash64 has no DuckDB twin, md5 does), so this op is
    // hash-oracle-checked, not rows-only.
    "d08_fingerprint" -> OpDef.sql(
      (s, d) => {
        Tables.documents(s, d)
          .withColumn("mh", expr("md5_shingle3_hashes(text)"))
          .filter(size(col("mh")) > 0)
          .select(
            col("doc_id"),
            size(col("mh")).as("n_shingles"),
            expr("array_min(mh)").as("min_hash"),
            expr("array_max(mh)").as("max_hash"),
            // Rolling polynomial hash mod 1e15+37 via the native PolyHash
            // kernel (same fold as the SQL aggregate form, codegen'd).
            expr("poly_hash(mh)").as("fingerprint"))
          .orderBy("doc_id")
      },
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id, list_sort(list_distinct(list_transform(
        |    generate_series(1, len(ws) - 2),
        |    i -> ('0x' || substr(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2])), 1, 15))::BIGINT))) AS hs
        |  FROM w),
        |nz AS (SELECT * FROM sh WHERE len(hs) > 0)
        |SELECT doc_id, CAST(len(hs) AS INT) AS n_shingles,
        |       list_min(hs) AS min_hash, list_max(hs) AS max_hash,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
        |         (acc, h) -> (acc * 31 + h % 1000000007) % 1000000000000037) AS fingerprint
        |FROM nz ORDER BY doc_id""".stripMargin),

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken's MOSS scheme):
    // per sliding window of W consecutive shingle hashes, keep the
    // minimum (leftmost on ties — array_position's first-occurrence rule
    // in BOTH engines) with its position. Selects ~2/(W+1) of shingles
    // yet GUARANTEES any sufficiently long shared passage between two
    // documents shares a fingerprint — the sub-linear index for
    // passage-level copy detection. d08 fingerprints whole documents
    // (one row/doc, finds whole-doc dupes); d27 explodes EVERY span
    // (finds all repeated spans, but its index is corpus-sized);
    // winnowing is the middle tier a 100-TB plagiarism/overlap scan
    // actually builds: position-robust local fingerprints at a fixed
    // sampling rate.
    //
    // Scale shape: one scan, TWO codegen'd kernel calls per row — the
    // d08-family positional span hasher (md5_span3_hashes) and the
    // O(n) monotone-deque window-min pass (winnow4_positions; each
    // index enters and leaves the deque once, vs the O(n·W)
    // slice-per-window SQL form, which measured 82 s at sf1 where this
    // runs with the d27/d29 span family). Output ~2/(W+1) of corpus
    // shingles, no shuffle but the gate's ORDER BY. Matching then
    // joins fingerprints by fp equality — d02's banded-join discipline
    // on a far smaller table.
    // d41: CONTAINMENT dedup — the partial-overlap case every
    // Jaccard-threshold op (d02/d04/d10) structurally misses: a short
    // doc quoted whole inside a long one has high CONTAINMENT
    // (|A∩B|/|A|) but low Jaccard (the union is article-sized), so the
    // fragment survives near-dup dedup and trains twice. Rule: drop a
    // doc when >= 75% of its shingle set lies inside another doc's,
    // the LARGER doc wins (ties to the lower id) — curation keeps the
    // superset, the fragment adds nothing.
    //
    // Scale shape: candidates come from the d37 WINNOW index (~2/(w+1)
    // of shingles; a contained doc shares long runs with its container,
    // and any shared run past the winnow guarantee shares a
    // fingerprint), so pair generation is an equi self-join on the
    // small fingerprint table — d02's banding discipline, same
    // hot-bucket caveats, never all-pairs. A pair must share >= 2
    // fingerprints (MOSS's coincidence cut): one fp position dominates
    // at most w window minima, so any shared run of >= 2w+k-1 = 11
    // spans still guarantees two, while the single-shared-fp tail —
    // measured 65.4M of 67.0M distinct candidate pairs at sf10, a 41x
    // cut — never reaches the array-carrying verify join. Verification
    // is one merge-scan intersection count per surviving pair (mh is
    // the sorted-distinct view of hs — computed by array ops, not a
    // second md5 pass), and the per-doc "best container" is a size-1
    // TopKBy heap (map-side combinable — the same double containment
    // ranks identically in both engines: int/int division of identical
    // integers). The oracle replays the SAME candidate generation
    // (HAVING count >= 2 over the distinct doc/fp table), so the two
    // engines agree by construction even where winnowing's guarantee
    // has gaps (many sub-guarantee fragments summing past 75% — those
    // pairs are invisible to BOTH).
    "d41_containment_dedup" -> OpDef.sql(
      (s, d) => {
        val sh = persistTracked("d41_sh",
          Tables.documents(s, d)
            .withColumn("hs", expr("md5_span3_hashes(text)"))
            .filter(size(col("hs")) > 0)
            .withColumn("mh", array_sort(array_distinct(col("hs"))))
            .select(col("doc_id"), col("hs"), col("mh"),
                    size(col("mh")).as("n_sh")))
        val fps = sh
          .select(col("doc_id"),
                  explode(expr("winnow4_positions(hs)")).as("fpos"),
                  col("hs"))
          .select(col("doc_id"), element_at(col("hs"), col("fpos")).as("fp"))
          .distinct()
        val cand = fps.toDF("x", "fp")
          .join(fps.toDF("y", "fp"), "fp")
          .filter(col("x") =!= col("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("nfp"))
          .filter(col("nfp") >= 2)
          .select("x", "y")
        val dropped = cand
          .join(sh.select(col("doc_id").as("x"), col("mh").as("x_mh"),
                          col("n_sh").as("n_x")), "x")
          .join(sh.select(col("doc_id").as("y"), col("mh").as("y_mh"),
                          col("n_sh").as("n_y")), "y")
          // zero-alloc merge-scan count (array_intersect built a hash
          // set + output array PER PAIR; at sf10's candidate volume
          // that was the whole wall — 141 s -> seconds)
          .withColumn("cont",
            expr("sorted_intersect_count(x_mh, y_mh)").cast("double")
              / col("n_x"))
          .filter(col("cont") >= 0.75 &&
                  (col("n_y") > col("n_x") ||
                   (col("n_y") === col("n_x") && col("y") < col("x"))))
        dropped.groupBy(col("x").as("doc_id"))
          .agg(expr("topk_by(cont, y, 1)").as("top"))
          .select(col("doc_id"),
                  col("top")(0)("id").as("container_id"),
                  round(col("top")(0)("score") + lit(1e-8), 4)
                    .as("containment"))
          .orderBy("doc_id")
      },
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |h AS (
        |  SELECT doc_id, CASE WHEN len(ws) >= 3 THEN
        |    list_transform(generate_series(1, len(ws) - 2),
        |      i -> ('0x' || substr(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2])), 1, 15))::BIGINT)
        |    ELSE [] END AS hs
        |  FROM w),
        |nz AS (
        |  SELECT doc_id, hs, list_distinct(hs) AS mh,
        |         len(list_distinct(hs)) AS n_sh
        |  FROM h WHERE len(hs) > 0),
        |f AS (
        |  SELECT DISTINCT doc_id, list_min(hs[s : s + 3]) AS fp
        |  FROM nz, unnest(generate_series(1, greatest(len(hs) - 3, 1))) AS t(s)),
        |cand AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |v AS (
        |  SELECT c.x, c.y,
        |         CAST(len(list_intersect(mx.mh, my.mh)) AS DOUBLE)
        |           / mx.n_sh AS cont,
        |         mx.n_sh AS n_x, my.n_sh AS n_y
        |  FROM cand c
        |  JOIN nz mx ON mx.doc_id = c.x
        |  JOIN nz my ON my.doc_id = c.y),
        |d AS (
        |  SELECT x, y, cont FROM v
        |  WHERE cont >= 0.75 AND (n_y > n_x OR (n_y = n_x AND y < x)))
        |SELECT x AS doc_id, y AS container_id,
        |       round(cont + 1e-8, 4) AS containment
        |FROM (SELECT x, y, cont, row_number() OVER (
        |        PARTITION BY x ORDER BY cont DESC, y) AS rk FROM d)
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin),

    // d40: EDIT-DISTANCE near-dup over a bounded window — the dedup
    // tier BETWEEN d01's exact hash (catches byte-identity only) and
    // d02/d04's Jaccard (bag-of-shingles; blind to ORDER, so it
    // over-matches shuffled text and under-scores small in-place
    // typo/OCR damage). Levenshtein is the right metric for that
    // damage class, but it's O(L^2) per pair and all-pairs is O(n^2)
    // — both dimensions need cutting before 100 TB:
    //  - the WINDOW bound: distance is computed on the
    //    first-128-chars window of docs that FILL the window
    //    (length >= 128 — an explicit tier boundary, not a fudge: a
    //    sub-window doc's whole text IS its window, so it belongs to
    //    the short tier where d01/d25-style whole-string comparison
    //    is already cheap; padding short docs into this tier instead
    //    hands every one of them an identical all-space tail segment
    //    — ONE join key shared by 12% of the corpus, which is a
    //    quadratic hot bucket by construction: measured 621 docs on
    //    the pad key at sf0.1, ~4B join rows at sf10 before the
    //    verify ever ran). Every comparison is O(k*128) with the
    //    banded threshold DP (`levenshtein(l, r, k)` early-exits).
    //  - the SEGMENT filter (the pigeonhole behind PassJoin-style
    //    edit joins): split the window into k+1 fixed segments; an
    //    edit script of <= k ops touches <= k of them, so every true
    //    pair shares at least one segment VERBATIM. The shift window
    //    is +-k/2, not +-k: both windows are EXACTLY 128 chars, so a
    //    segment shifted by s means the text before it grew by s
    //    (>= s net insertions) AND the text after it shrank by s
    //    (>= s net deletions) — 2|s| <= k. Candidates are then an
    //    EQUI-join on xxhash64(slot, segment) — an 8-byte shuffle
    //    key; a hash collision only ADDS a candidate the verify DP
    //    rejects, never loses one. Content selectivity is that of
    //    exact 14-char substring collision (sf0.01: 1,723 candidates
    //    vs 124,750 all-pairs, 72x; hottest content key at sf0.1
    //    carries 11 docs). Genuine boilerplate heat at corpus scale
    //    is a skew KEY (AQE skew split / d41-style frequency cap),
    //    not a design break. Probe keys dedup IN-ROW (array_distinct
    //    before the explode) — shift collisions never reach a
    //    shuffle; measured at sf10 the row-level dedup + the halved
    //    window cut the entry 92 -> ~35 s.
    // Candidate pairs canonicalize (least, greatest) + distinct so
    // the verify DP runs once per unordered pair.
    "d40_edit_dedup" -> OpDef.sql(
      (s, d) => {
        val k = 8; val L = 128; val nseg = k + 1
        val docs = persistTracked("d40_docs",
          Tables.documents(s, d)
            .filter(length(col("text")) >= L)
            .select(col("doc_id"),
                    substring(col("text"), 1, L).as("w")))
        val bounds = (0 until nseg).map { i =>
          val st = i * L / nseg
          (i, st, (i + 1) * L / nseg - st)
        }
        val homeArr = array(bounds.map { case (i, st, ln) =>
          xxhash64(lit(i), substring(col("w"), st + 1, ln))
        }: _*)
        val probeArr = array_distinct(array(bounds.flatMap { case (i, st, ln) =>
          (-k / 2 to k / 2).collect {
            case sh if st + sh >= 0 && st + sh + ln <= L =>
              xxhash64(lit(i), substring(col("w"), st + sh + 1, ln))
          }
        }: _*))
        val home = docs
          .select(col("doc_id").as("a"), explode(homeArr).as("hk"))
        val probe = docs
          .select(col("doc_id").as("b"), explode(probeArr).as("hk"))
        val cand = home.join(probe, Seq("hk"))
          .filter(col("a") =!= col("b"))
          .select(least(col("a"), col("b")).as("doc_a"),
                  greatest(col("a"), col("b")).as("doc_b"))
          .distinct()
        cand
          .join(docs.select(col("doc_id").as("doc_a"), col("w").as("wa")), "doc_a")
          .join(docs.select(col("doc_id").as("doc_b"), col("w").as("wb")), "doc_b")
          .withColumn("lev", levenshtein(col("wa"), col("wb"), k))
          .filter(col("lev") >= 0) // threshold form: -1 means "> k"
          .select(col("doc_a"), col("doc_b"), col("lev").cast("long").as("lev"))
          .orderBy("doc_a", "doc_b")
      },
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 128) AS w
        |  FROM documents WHERE length(text) >= 128)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(levenshtein(a.w, b.w) AS BIGINT) AS lev
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.w, b.w) <= 8
        |ORDER BY doc_a, doc_b""".stripMargin),

    "d37_winnow" -> OpDef.sql(
      (s, d) => {
        Tables.documents(s, d)
          .withColumn("hs", expr("md5_span3_hashes(text)"))
          .filter(size(col("hs")) > 0)
          .select(col("doc_id"), col("hs"),
                  explode(expr("winnow4_positions(hs)")).as("fpos"))
          .select(col("doc_id"),
                  element_at(col("hs"), col("fpos")).as("fp"),
                  col("fpos"))
          .orderBy("doc_id", "fpos", "fp")
      },
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |h AS (
        |  SELECT doc_id, CASE WHEN len(ws) >= 3 THEN
        |    list_transform(generate_series(1, len(ws) - 2),
        |      i -> ('0x' || substr(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2])), 1, 15))::BIGINT)
        |    ELSE [] END AS hs
        |  FROM w),
        |nz AS (SELECT * FROM h WHERE len(hs) > 0),
        |f AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(hs) - 3, 1)),
        |    s -> struct_pack(fp := list_min(hs[s : s + 3]),
        |                     fpos := s + list_position(hs[s : s + 3],
        |                                  list_min(hs[s : s + 3])) - 1))) AS f
        |  FROM nz)
        |SELECT DISTINCT doc_id, f.fp AS fp, CAST(f.fpos AS INT) AS fpos
        |FROM f ORDER BY doc_id, fpos, fp""".stripMargin),

    // Span-level duplication scoring: for every document, how much of it
    // is built from 8-word spans that ALSO appear in other documents —
    // the substring-granularity view of duplication ("Deduplicating
    // Training Data Makes Language Models Better", Lee et al. 2022:
    // repeated spans drive memorization even when no whole document is a
    // near-dup; boilerplate headers/footers are the classic case). Doc-
    // level dedup (d01/d02/d03) cannot see these; this op scores them
    // without a suffix array: span identity = the d02/d16 md5-60-bit
    // shingle family at width 8.
    //
    // Scale shape: one explode of the distinct per-doc span set, ONE
    // shuffle on the span hash (the groupBy's partial count combines
    // map-side; the HAVING >= 2 filter cuts the unique-span majority
    // before the join back), and the per-doc re-aggregation shuffles on
    // doc_id. No pairwise anything — cost is linear in total spans. A
    // true character-granular pass (the paper's suffix array) is the
    // specialized tool past this; at corpus scale THIS is the form that
    // runs as ordinary combinable aggregations.
    "d27_span_dedup" -> OpDef.sql(
      (s, d) => {
        val sh = persistTracked("d27_spans",
          Tables.documents(s, d)
            .withColumn("hs", expr("md5_shingle8_hashes(text)"))
            .filter(size(col("hs")) > 0)
            .select("doc_id", "hs"))
        val ex = sh.select(col("doc_id"), explode(col("hs")).as("h"))
        // hs is doc-distinct, so count(*) per hash = distinct-doc count
        val rep = ex.groupBy("h").agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 2)
          .select(col("h"), lit(1).as("hit"))
        ex.join(rep, Seq("h"), "left")
          .groupBy("doc_id").agg(count(col("hit")).as("n_repeated"))
          .join(sh.select(col("doc_id"), size(col("hs")).as("n_spans")), "doc_id")
          .select(col("doc_id"), col("n_spans"), col("n_repeated"),
            round(col("n_repeated").cast("double") / col("n_spans")
                    + lit(1e-8), 4).as("span_dup_ratio"))
          .orderBy("doc_id")
      },
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(ws) - 7),
        |    i -> ('0x' || substr(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3],
        |                                        ws[i+4], ws[i+5], ws[i+6], ws[i+7])), 1, 15))::BIGINT)) AS hs
        |  FROM w),
        |nz AS (SELECT * FROM sh WHERE len(hs) > 0),
        |ex AS (SELECT doc_id, unnest(hs) AS h FROM nz),
        |rep AS (SELECT h FROM ex GROUP BY h HAVING count(*) >= 2),
        |per AS (
        |  SELECT e.doc_id, CAST(count(r.h) AS BIGINT) AS n_repeated
        |  FROM ex e LEFT JOIN rep r ON e.h = r.h
        |  GROUP BY e.doc_id)
        |SELECT z.doc_id, CAST(len(z.hs) AS INT) AS n_spans, p.n_repeated,
        |       round(CAST(p.n_repeated AS DOUBLE) / len(z.hs) + 1e-8, 4) AS span_dup_ratio
        |FROM nz z JOIN per p ON z.doc_id = p.doc_id
        |ORDER BY z.doc_id""".stripMargin),

    // Boilerplate REMOVAL (the CCNet/RefinedWeb passage-level scrub):
    // where d27 REPORTS span-level duplication, d29 edits it out —
    // every 8-word span occurring in >= BoilerMinDocs distinct documents
    // (headers, footers, license blurbs, navigation chrome) is erased
    // from every document carrying it, and the text is rebuilt from the
    // surviving words. Output: (doc_id, n_words, n_removed, clean_text).
    //
    // Scale shape: the ONLY per-word work that leaves its row is the
    // positional span-hash explode (a native codegen'd kernel,
    // md5_span8_hashes — the interpreted higher-order-md5 formulation
    // measured ~2x the whole operator); doc-frequency is distinct
    // (doc, span) then a combinable count (d27's two-shuffle
    // discipline); the boilerplate hits come back as ONE small
    // collect_set of span starts per affected doc; and the text is
    // rebuilt IN-ROW (flatten spans to covered indices, filter the word
    // array by index) — corpus words are never shuffled. No pairwise
    // work anywhere. The threshold is the knob a real pipeline tunes
    // (3 at gate scale; production boilerplate sits at df in the
    // thousands).
    "d29_boilerplate_scrub" -> OpDef.sql(
      (s, d) => {
        // the kernel splits on \s+ exactly like the ws column, so span
        // index k covers words k..k+7 of ws; the md5-60-bit fold is the
        // engine-shared convention (saltedBucket, d08/d27)
        // only (doc_id, text) is cached — the word ARRAYS would multiply
        // the cache several-fold, and they're only needed in-row (split
        // is codegen'd, recomputing beats caching at corpus scale)
        val w = persistTracked("d29_docs", Tables.documents(s, d)
          .select(col("doc_id"), col("text")))
        val ex = persistTracked("d29_spans", w
          .select(col("doc_id"),
                  posexplode(expr("md5_span8_hashes(text)")).as(Seq("sp", "h"))))
        // one shuffle, not distinct-then-count: countDistinct's partial
        // aggregation dedups (h, doc_id) map-side before anything moves
        val boiler = ex.groupBy("h")
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= BoilerMinDocs)
          .select("h")
        val hits = ex.join(boiler, "h")
          .groupBy("doc_id").agg(collect_set(col("sp")).as("sps"))
        // rebuild ONLY the affected docs (a tiny fraction of any real
        // corpus): the higher-order rebuild expressions run interpreted
        // (no codegen for lambdas), and running them per-word over every
        // row measured as the operator's dominant stage (47.9 of 60 s at
        // sf10). Untouched docs pass through VERBATIM — also the right
        // semantics (no whitespace re-normalization of text the scrub
        // never touched) — and the oracle mirrors the same split.
        val affected = w.join(hits, "doc_id")
          .withColumn("ws", split(col("text"), "\\s+"))
          .withColumn("cov", expr(
            "array_distinct(flatten(transform(sps, s -> sequence(s, s + 7))))"))
          .withColumn("kept", expr(
            "filter(transform(ws, (wd, i) -> " +
            "named_struct('wd', wd, 'c', array_contains(cov, i))), " +
            "x -> NOT x.c)"))
          .select(col("doc_id"), size(col("ws")).as("n_words"),
                  (size(col("ws")) - size(col("kept"))).as("n_removed"),
                  expr("concat_ws(' ', transform(kept, x -> x.wd))")
                    .as("clean_text"))
        val untouched = w.join(hits, Seq("doc_id"), "left_anti")
          .select(col("doc_id"),
                  size(split(col("text"), "\\s+")).as("n_words"),
                  lit(0).as("n_removed"), col("text").as("clean_text"))
        affected.union(untouched).orderBy("doc_id")
      },
      duckD29Sql),

    // Priority-based cluster retention: within each near-dup cluster keep
    // the doc from the most-preferred SOURCE (ties to the lower id),
    // instead of d13/d14's blind min-id rule — the retention policy real
    // corpus builds use (curated/licensed sources outrank crawl dumps
    // when they carry the same content). Priority here is a
    // deterministic demo function of the source name (suffix mod 4, the
    // d17 convention); a real pipeline passes a curated rank table and
    // nothing downstream changes. Unclustered docs are their own
    // cluster (size 1, trivially kept).
    //
    // Scale shape: the label table (d13's loop output) left-joins the
    // corpus, then ONE min_by aggregation per cluster — the arg-min
    // rides the same shuffle as the cluster-size count; the keeper's
    // attributes come back via an equality join on the kept id. No new
    // pairwise work: selection costs one combinable aggregate over the
    // corpus regardless of cluster shapes.
    "d28_priority_select" -> OpDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("prio", Corpus.sourcePrio(col("source")))
        val clustered = docs.join(dupLabels(s, d), Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("canonical_id"), col("doc_id")))
        val keep = clustered.groupBy("cluster_id")
          .agg(expr("min_by(doc_id, named_struct('p', prio, 'i', doc_id))").as("keep_id"),
               count(lit(1)).as("cluster_size"))
        keep
          .join(clustered.select(col("doc_id").as("keep_id"),
                                 col("source"), col("prio")), "keep_id")
          .select(col("cluster_id"), col("keep_id"), col("source"),
                  col("prio"), col("cluster_size"))
          .orderBy("cluster_id")
      },
      s"""WITH RECURSIVE $duckLabelCtes,
         |pr AS (
         |  SELECT doc_id, source,
         |         ${Corpus.sourcePrioSql("source")} AS prio
         |  FROM documents),
         |cl AS (
         |  SELECT p.doc_id, p.source, p.prio,
         |         coalesce(l.canonical_id, p.doc_id) AS cluster_id
         |  FROM pr p LEFT JOIN lab l ON p.doc_id = l.doc_id),
         |sz AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM cl GROUP BY cluster_id),
         |keep AS (
         |  SELECT cluster_id, doc_id AS keep_id, source, prio FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cluster_id
         |             ORDER BY prio, doc_id) AS rk
         |    FROM cl) WHERE rk = 1)
         |SELECT k.cluster_id, k.keep_id, k.source, k.prio, s.cluster_size
         |FROM keep k JOIN sz s USING (cluster_id)
         |ORDER BY k.cluster_id""".stripMargin)
  )

  /** The gate registry: both halves (the map is split only so
    * [[duckD24Sql]] can sit between its batch consumer and the streaming
    * twin that shares it). Declared AFTER defs1/defs2 — object vals
    * initialize in source order, and a forward reference here would be
    * null at init.
    */
  val defs: Map[String, OpDef] = defs1 ++ defs2
}
