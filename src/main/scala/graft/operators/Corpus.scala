package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.OpDef
import graft.sources.Tables

/** Corpus-construction operators: the steps between "deduped documents"
  * and "bytes a trainer reads" — domain-mixture resampling and sequence
  * packing. Both are deterministic functions of the data (md5-derived
  * buckets, no RNG), so a re-run after a failure reproduces the same
  * corpus — the property that makes a 100-TB build resumable.
  */
object Corpus {

  /** Count of regex matches in a column (codegen'd, no UDF). */
  private def nMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  private val WsTokenPat = "\\S+"

  /** Deterministic salted md5 bucket of a doc id in [0, mod) — the same
    * 60-bit md5-prefix construction as d08/d11, with a salt so each
    * consumer (mixture accept/reject, packing shard) draws an independent
    * "random" stream from the same id.
    */
  private[operators] def saltedBucket(salt: String, id: Column, mod: Int): Column =
    saltedBucketVar(salt, id, lit(mod))

  /** [[saltedBucket]] with a COLUMN modulus — for buckets whose count is
    * itself derived from the data (d18's laddered shard count).
    */
  private[operators] def saltedBucketVar(salt: String, id: Column, mod: Column): Column =
    conv(substring(md5(concat(lit(salt + ":"), id.cast("string"))), 1, 15), 16, 10)
      .cast("long") % mod

  private[operators] def duckSaltedBucket(salt: String, idSql: String, mod: Int): String =
    duckSaltedBucketVar(salt, idSql, mod.toString)

  private[operators] def duckSaltedBucketVar(salt: String, idSql: String, modSql: String): String =
    s"('0x' || substr(md5('$salt:' || CAST($idSql AS VARCHAR)), 1, 15))::BIGINT % $modSql"

  /** d38's whole pipeline over an arbitrary documents frame — factored
    * so the spec can drive a planted IMBALANCED corpus (the gate data
    * is source-balanced, where temperature sampling is correctly a
    * no-op): α=0.5 rate table (sqrt(n_min/n), IEEE-exact both
    * engines), broadcast into one corpus scan, d17's md5 accept under
    * its own salt.
    */
  private[graft] def temperatureSample(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min("n").as("nmin"))))
      .withColumn("rate", sqrt(col("nmin").cast("double") / col("n")))
      .withColumn("rate_q",
        floor(col("rate") * RateScale + lit(1e-9)).cast("long"))
      .select("source", "rate_q")
    docs.join(broadcast(rates), "source")
      .filter(saltedBucket("temp", col("doc_id"), RateScale) < col("rate_q"))
      .select(col("doc_id"), col("source"), col("rate_q"))
      .orderBy("doc_id")
  }

  /** Deterministic demo source priority (numeric suffix mod 4, 0 = most
    * preferred) shared by d17 (as weight prio+1) and d28 (as retention
    * rank). The digits guard is explicit and mirrored verbatim in
    * [[sourcePrioSql]] so BOTH engines take the same branch on any
    * source name: an unguarded cast diverges the moment the naming
    * convention drifts (Spark ANSI throws, DuckDB CAST throws, TRY_CAST
    * NULLs — three different behaviors for one malformed row).
    * Non-numeric or >18-digit suffixes (past bigint's 19 digits) fall
    * back to the WORST rank, 3, identically on both sides. A real
    * pipeline passes a curated rank table; everything downstream is
    * independent of where the rank came from.
    */
  private[operators] def sourcePrio(source: Column): Column = {
    val sfx = source.substr(lit(4), length(source))
    when(sfx.rlike("^[0-9]{1,18}$"), (sfx.cast("bigint") % 4).cast("int"))
      .otherwise(lit(3))
  }

  /** [[sourcePrio]]'s DuckDB twin — same regex, same fallback. */
  private[operators] def sourcePrioSql(colSql: String): String =
    s"CASE WHEN regexp_matches(substr($colSql, 4), '^[0-9]{1,18}$$') " +
      s"THEN CAST(CAST(substr($colSql, 4) AS BIGINT) % 4 AS INT) ELSE 3 END"

  /** Demo per-source weight for the gate entry: [[sourcePrio]] + 1
    * (weights 1–4).
    */
  private def demoWeight(source: Column): Column =
    (sourcePrio(source) + 1).cast("long")

  // Mixture sampling-rate quantization: rates are materialized as an
  // integer threshold out of 10000 so the accept test is exact-integer
  // in both engines (the double rate itself never gets hashed).
  private[operators] val RateScale = 10000

  /** d18 shard sizing: shards are the packing PARALLELISM (each packs as
    * an independent windowed cumsum), so the count must grow with the
    * corpus — a constant 8 meant 8 tasks at any scale. The ladder is the
    * d04/d09 shape: smallest power of two holding tokens-per-shard at or
    * under the target. TokPerShardRef is a gate-scale stand-in for a
    * real deployment's training-file token budget (~512M tokens/file);
    * only the constant changes, the ladder and oracle shape are scale-
    * independent. Capped at 2^20 shards (a bound the CASE text needs;
    * 2^20 x 512M tokens ≈ a 2-PB corpus at the real constant).
    */
  private[graft] val TokPerShardRef = 8192L
  private[graft] val MaxPackShards = 1 << 20

  /** The active shard count as a SQL CASE over a token-total column —
    * the same generated text in Spark and DuckDB.
    */
  private[graft] def packShardsCase(tokSql: String): String =
    Iterator.iterate(1L)(_ * 2).takeWhile(_ < MaxPackShards)
      .map(sh => s"WHEN $tokSql <= ${TokPerShardRef * sh} THEN $sh")
      .mkString("CASE ", " ", s" ELSE $MaxPackShards END")

  /** The Scala twin of [[packShardsCase]] (for specs). */
  private[graft] def packShards(tokTotal: Long): Int = {
    var sh = 1L
    while (sh < MaxPackShards && tokTotal > TokPerShardRef * sh) sh *= 2
    sh.toInt
  }

  /** d17's quantized per-source accept-rate table (source, rate_q) from
    * any documents frame — factored so s12 can compute it over the
    * STATIC corpus and broadcast it against a stream. M = min_s(n_s/p_s)
    * keeps the most-constrained source in full; everything else
    * downsamples toward its target share.
    */
  private[graft] def mixtureRates(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source")
      .agg(count(lit(1)).as("n"))
      .withColumn("w", demoWeight(col("source")))
    val sw = counts.agg(sum(col("w")).as("sw"))
    val withSw = counts.crossJoin(broadcast(sw))
    val mm = withSw.agg(min(col("n").cast("double") * col("sw") / col("w")).as("mm"))
    withSw.crossJoin(broadcast(mm))
      .withColumn(
        "rate",
        least(lit(1.0), col("w").cast("double") * col("mm") / col("sw") / col("n")))
      .withColumn("rate_q", floor(col("rate") * RateScale + lit(1e-9)))
      .select("source", "rate_q")
  }

  /** The per-row accept test: a pure function of doc_id (md5 bucket vs
    * the quantized rate) — adding data never flips a prior keep, and a
    * stream can apply it row-by-row with zero state.
    */
  private[graft] def mixtureAccept(docId: Column, rateQ: Column): Column =
    saltedBucket("mix", docId, RateScale) < rateQ

  /** d17's oracle — shared VERBATIM with s12_stream_mixture. */
  private[graft] val duckD17Sql: String =
    s"""WITH c AS (
       |  SELECT source, count(*) AS n,
       |         CAST(${sourcePrioSql("source")} + 1 AS BIGINT) AS w
       |  FROM documents GROUP BY source),
       |s AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM c),
       |m AS (SELECT min(CAST(n AS DOUBLE) * sw / w) AS mm FROM c, s),
       |r AS (
       |  SELECT source,
       |         CAST(floor(least(1.0, CAST(w AS DOUBLE) * mm / sw / n)
       |                    * $RateScale + 1e-9) AS BIGINT) AS rate_q
       |  FROM c, s, m)
       |SELECT d.doc_id, d.source, r.rate_q
       |FROM documents d JOIN r ON d.source = r.source
       |WHERE ${duckSaltedBucket("mix", "d.doc_id", RateScale)} < r.rate_q
       |ORDER BY d.doc_id""".stripMargin

  val defs: Map[String, OpDef] = Map(
    // d39: stratified sampling with EXACT per-source quotas. d11/d17
    // sample by rate (expected counts); an eval set or labeling batch
    // needs exactly k per stratum. The naive form is
    // `row_number() OVER (PARTITION BY source ...) <= k` — the q18/d31
    // low-cardinality-window anti-pattern (the whole corpus sorts
    // through a handful of partitions). Here the per-source top-k is
    // ONE map-side-combinable aggregate (the TopKBy kernel: partial
    // heaps of size k merge associatively — shuffled volume is
    // sources x k rows, never the corpus), ordered by the d08/d11
    // md5 bucket so the quota is a deterministic "random" draw any
    // engine reproduces. Ties (60-bit md5) break id-asc in kernel and
    // oracle alike.
    "d39_stratified_sample" -> OpDef.sql(
      (s, d) => {
        val k = 20
        Tables.documents(s, d)
          .withColumn("b", Dedup.idBucket50(col("doc_id")))
          .groupBy("source")
          .agg(expr(s"topk_by(-CAST(b AS DOUBLE), doc_id, $k)").as("top"))
          .select(col("source"), explode(col("top")).as("c"))
          .select(col("source"), col("c.id").as("doc_id"))
          .orderBy("source", "doc_id")
      },
      s"""SELECT source, doc_id FROM (
         |  SELECT source, doc_id,
         |         row_number() OVER (
         |           PARTITION BY source
         |           ORDER BY ${Dedup.duckBucket50("doc_id")}, doc_id)
         |           AS rk
         |  FROM documents)
         |WHERE rk <= 20 ORDER BY source, doc_id""".stripMargin),

    // Domain-mixture resampling: downsample over-represented sources so
    // the kept corpus matches target proportions (the "data mixing" step
    // of every LLM corpus build — e.g. The Pile / Dolma publish exactly
    // such weights). Rates are chosen so the most-constrained source is
    // kept in full and every other source is downsampled toward its
    // target share: M = min_s(n_s / p_s), rate_s = min(1, p_s * M / n_s).
    //
    // Scale shape: pass 1 is a 20-group count (map-side partial agg —
    // bytes of shuffle); the two scalar reductions over that 20-row
    // table are driver-free cross joins; pass 2 streams the corpus once
    // against the BROADCAST rate table with a per-row md5 accept test.
    // Two scans total, no corpus shuffle, and the accept decision is a
    // pure function of doc_id — adding data never flips a prior keep.
    "d17_source_mixture" -> OpDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs.join(broadcast(mixtureRates(docs)), "source")
          .filter(mixtureAccept(col("doc_id"), col("rate_q")))
          .select(col("doc_id"), col("source"), col("rate_q"))
          .orderBy("doc_id")
      },
      duckD17Sql),

    // Sequence packing: lay documents end-to-end into fixed-token-budget
    // bins (the training-file layout step — trainers read fixed-length
    // token streams, not ragged documents). Each doc gets (shard, bin,
    // offset): byte-exact bookkeeping a packer/loader can follow.
    //
    // True first-fit packing is inherently sequential, so the scalable
    // form shards first: docs are md5-sharded, and packing runs as an
    // ordinary windowed cumulative sum WITHIN each shard — shards pack
    // in parallel with zero coordination. Shard count is COUNT-LADDERED
    // from the corpus token total ([[packShardsCase]]): shards are the
    // packing parallelism AND the output-file granularity, so they must
    // grow with the corpus, not sit at a gate-scale constant. The
    // tokenized projection (doc_id, n_tokens — ~16 bytes/doc, no text)
    // is persisted so the sizing aggregate and the packing pass share
    // one text scan. The only corpus shuffle is the hash partition by
    // shard; no global sort exists anywhere in the plan.
    "d18_seq_pack" -> OpDef.sql(
      (s, d) => {
        val tok = graft.Caching.persistTracked("d18_tok",
          Tables.documents(s, d).select(
            col("doc_id"),
            nMatches(col("text"), WsTokenPat).as("n_tokens")))
        val docs = tok
          .crossJoin(broadcast(tok.agg(
            sum(col("n_tokens").cast("long")).as("tok_total"))))
          .withColumn("n_shards", expr(packShardsCase("tok_total")))
          .select(col("doc_id"), col("n_tokens"),
            saltedBucketVar("pack", col("doc_id"), col("n_shards"))
              .cast("int").as("shard"))
        val w = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs.withColumn("cum", sum(col("n_tokens").cast("long")).over(w))
          .select(col("doc_id"), col("shard"), col("n_tokens"),
                  expr("(cum - n_tokens) div 256").as("bin_id"),
                  expr("(cum - n_tokens) % 256").as("bin_offset"))
          .orderBy("doc_id")
      },
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_tokens
         |  FROM documents),
         |p AS (
         |  SELECT ${packShardsCase("tok_total")} AS n_shards
         |  FROM (SELECT CAST(sum(n_tokens) AS BIGINT) AS tok_total FROM t)),
         |sh AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(${duckSaltedBucketVar("pack", "doc_id",
                      "(SELECT n_shards FROM p)")} AS INT) AS shard
         |  FROM t),
         |c AS (
         |  SELECT doc_id, shard, n_tokens,
         |         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM sh)
         |SELECT doc_id, shard, n_tokens,
         |       (cum - n_tokens) // 256 AS bin_id,
         |       (cum - n_tokens) % 256 AS bin_offset
         |FROM c ORDER BY doc_id""".stripMargin),

    // Sliding-window chunking: split each document into overlapping
    // token windows (W=64 tokens, stride S=48 → 16-token overlap) — the
    // retrieval/context-window layout step (RAG indexes, long-doc
    // training with context continuity) that complements d18's
    // gap-free packing. Window count: 1 if n<=W, else ceil((n-W)/S)+1,
    // so the final window always ends at the last token and every
    // window holds >= W-S+1 real tokens. Tokenizer is the d05/d07
    // split family (\\s+, parity with DuckDB's string_split_regex
    // proven across those gates); all arithmetic is integer DIV.
    //
    // Scale shape: ZERO corpus shuffle — one scan, a per-row bounded
    // explode (chunks-per-doc ∝ doc tokens / stride, so output size is
    // a fixed ~1.33x multiple of the corpus), slice/array_join inside
    // whole-stage codegen. The ORDER BY is gate determinism only; a
    // production run writes chunks partition-local. At 100 TB this is
    // exactly as parallel as the input file count.
    "d36_chunk" -> OpDef.sql(
      (s, d) => {
        val W = 64
        val S = 48
        Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
          .withColumn("n", size(col("toks")))
          .withColumn("nc",
            when(col("n") <= W, lit(1))
              .otherwise(expr(s"CAST((n - $W + ${S - 1}) DIV $S AS INT) + 1")))
          .withColumn("chunk_id", explode(sequence(lit(0), col("nc") - 1)))
          .select(col("doc_id"),
                  col("chunk_id").cast("long").as("chunk_id"),
                  least(lit(W), col("n") - col("chunk_id") * S)
                    .cast("long").as("n_tok"),
                  array_join(slice(col("toks"),
                    col("chunk_id") * S + 1, lit(W)), " ").as("chunk_text"))
          .orderBy("doc_id", "chunk_id")
      },
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |         CASE WHEN len(toks) <= 64 THEN 1
        |              ELSE ((len(toks) - 64 + 47) // 48) + 1 END AS nc
        |  FROM t),
        |e AS (
        |  SELECT doc_id, toks, n, unnest(range(0, nc)) AS chunk_id FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       CAST(least(64, n - chunk_id * 48) AS BIGINT) AS n_tok,
        |       array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64],
        |                       ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin),

    // Temperature-based source rebalancing (α = 0.5): where d17 targets
    // EXTERNALLY-GIVEN mixture weights, temperature sampling derives the
    // rates from the data's own distribution — keep probability
    // sqrt(n_min / n_s), so post-sampling source sizes ∝ sqrt(n_s)
    // (= n^α): over-represented sources are damped, the smallest source
    // is kept ENTIRELY (rate exactly 1), and relative order is
    // preserved — the standard multi-source flattening for LLM corpus
    // builds (multilingual sampling, The Pile-style source balancing).
    // sqrt is IEEE-correctly-rounded, so the rate table is bit-identical
    // across engines (no libm drift) and the accept stays the d17 md5
    // bucket — deterministic, stateless, resumable. NOTE the modeling
    // difference from d17: rates depend on the CORPUS COUNTS, so in
    // production the rate table is a build artifact (yesterday's corpus
    // sets today's rates — the s12/s16 pattern), not a constant.
    //
    // Scale shape: pass 1 a per-source count (map-side combinable,
    // bytes of shuffle), one broadcast min; pass 2 one corpus scan
    // against the broadcast rate table with the per-row md5 accept.
    "d38_temperature_mix" -> OpDef.sql(
      (s, d) => temperatureSample(Tables.documents(s, d)),
      s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         |m AS (SELECT min(n) AS nmin FROM c),
         |r AS (SELECT source,
         |        CAST(floor(sqrt(CAST(nmin AS DOUBLE) / n) * $RateScale
         |                   + 1e-9) AS BIGINT) AS rate_q
         |      FROM c, m)
         |SELECT d.doc_id, d.source, r.rate_q
         |FROM documents d JOIN r ON d.source = r.source
         |WHERE ${duckSaltedBucket("temp", "d.doc_id", RateScale)} < r.rate_q
         |ORDER BY d.doc_id""".stripMargin)
  )
}
