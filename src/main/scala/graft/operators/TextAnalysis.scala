package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.OpDef
import graft.sources.Tables

/** Text-analysis operators for training-data curation over `documents`:
  * language-ID (stopword n-gram heuristic), quality scoring, token
  * counting. Everything is built from codegen'd `functions._` — per-row,
  * no shuffle, so these stream through 100 TB at scan speed.
  */
object TextAnalysis {

  /** Count of regex matches in a column (codegen'd, no UDF). */
  private def nMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** d42's hot-feature cutoff: features on more than this many docs are
    * candidates for the sound sub-rounding drop (see the gate entry).
    */
  private[graft] val HotDf = 1024L

  /** Whitespace-token count — d31/d33/s16's bucketing metric. */
  private[graft] def withNTok(docs: DataFrame): DataFrame =
    docs.withColumn("n_tok", nMatches(col("text"), WsTokenPat))

  /** The sources x 9 per-source decile cut table (d31's model): a
    * map-side-combinable aggregate whose output is tiny at any corpus
    * size. Cuts are epsilon-rounded to 4 decimals so the interpolated
    * values are bit-identical across engines.
    */
  private[graft] def decileCuts(docs: DataFrame): DataFrame =
    docs.groupBy("source").agg(
      expr("""transform(
             |  percentile(n_tok, array(0.1D,0.2D,0.3D,0.4D,0.5D,
             |                          0.6D,0.7D,0.8D,0.9D)),
             |  t -> round(t + 1e-8, 4))""".stripMargin).as("cuts"))

  /** Per-row decile assignment against a broadcast cut table: decile =
    * 1 + #{cuts strictly below n_tok}. Shared verbatim by d31/d33 and
    * the streaming intake twin s16 (stream-static broadcast join —
    * stateless), so batch and stream bucketing cannot drift.
    *
    * The join is LEFT on source: under the production pattern where
    * yesterday's corpus sets today's cut table, a document from a source
    * the model has never seen must be a VISIBLE decision, not silent
    * loss — it passes through with `decile` NULL, and the gate sites
    * (d33/s16) quarantine NULLs with an explicit predicate instead of
    * relying on an inner join to disappear them.
    */
  private[graft] def withDecile(docs: DataFrame, cuts: DataFrame): DataFrame =
    docs.join(broadcast(cuts), Seq("source"), "left")
      .withColumn("decile",
        when(col("cuts").isNull, lit(null).cast("int"))
          .otherwise(
            (size(expr("filter(cuts, t -> CAST(n_tok AS DOUBLE) > t)"))
              + lit(1)).cast("int")))

  /** Train `k` BPE merges on the corpus (see the d34 gate entry's comment
    * for the scale shape). Returns the merge table: one row per learned
    * merge (rank, left, right, merged, pair count at selection time).
    */
  private[graft] def bpeTrain(s: SparkSession, docs: DataFrame,
      k: Int): DataFrame = {
    val sp = s
    import sp.implicits._
    val words = docs
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"), split(col("w"), "").as("sym"))
    var cur = words.persist()
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, String, Long)]
    try {
      for (r <- 1 to k) {
        val top = cur
          .select(col("freq"), explode(expr(
            """arrays_zip(slice(sym, 1, greatest(size(sym) - 1, 0)),
              |           slice(sym, 2, greatest(size(sym) - 1, 0)))""".stripMargin))
            .as("pr"))
          .select(col("freq"), expr("pr.`0`").as("l"), expr("pr.`1`").as("r"))
          .groupBy("l", "r").agg(sum("freq").as("n"))
          .orderBy(desc("n"), col("l"), col("r")).limit(1)
          .collect()
        if (top.nonEmpty) {
          val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((r, a, b, a + b, n))
          // one greedy left-to-right merge of adjacent (a, b), the native
          // BpeMergeOnce kernel bound to the round's pair (the comparison
          // is against the last EMITTED symbol, so a symbol consumed by a
          // merge can't start another one); the interpreted aggregate()
          // fold it replaced copied the accumulator per element (O(L²))
          val next = cur
            .withColumn("sym",
              graft.expressions.GraftFunctions.bpeMergeOnce(col("sym"), a, b))
            .persist()
          // materialize the round before dropping its parent, so the next
          // round's aggregate never recomputes the whole merge chain
          next.count()
          cur.unpersist(blocking = false)
          cur = next
        }
      }
    } finally cur.unpersist(blocking = false)
    merges.toSeq.toDF("rank", "left_sym", "right_sym", "merged", "n")
      .orderBy("rank")
  }

  /** The trained merge model for this corpus as (left, right) in rank
    * order — d34's output collected to the driver (K rows; the model,
    * never the data). Shared by d35 and the s18 intake twin so batch
    * and stream tokenize under the SAME vocabulary. Memoized per corpus
    * CONTENT stamp ([[Tables.stamp]]: size + head/tail digest, so a
    * regenerated corpus of identical byte length within mtime granularity
    * still retrains, and a missing table fails with a clear error) — the
    * in-JVM form of the train-once / apply-many discipline (production
    * persists the K rows as a tokenizer artifact). The cache is bounded:
    * a long-lived JVM cycling many corpora evicts oldest-inserted.
    */
  private val mergeCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[(String, String)]]() {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[(String, String)]]): Boolean =
          size() > 8
      })

  private[graft] def trainedMerges(s: SparkSession, d: String): Seq[(String, String)] = {
    val key = Tables.stamp(d, "documents")
    mergeCache.synchronized {
      Option(mergeCache.get(key)).getOrElse {
        val m = bpeTrain(s, Tables.documents(s, d), 8)
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        mergeCache.put(key, m)
        m
      }
    }
  }

  /** The full merge fold for one word column: chars → the K merges in
    * rank order (BPE apply is rank-ordered by definition). One native
    * kernel call per word ([[graft.expressions.BpeFold]]) instead of K
    * chained interpreted aggregate() folds.
    */
  private def bpeFold(w: Column, merges: Seq[(String, String)]): Column =
    if (merges.isEmpty) split(w, "")
    else graft.expressions.GraftFunctions.bpeFold(split(w, ""), merges)

  /** The tokenizer's word table: every DISTINCT word of `docs` folded
    * ONCE. This is the model-shaped half of apply — vocabulary-sized
    * (millions of rows at 100 TB, vs trillions of corpus tokens), so
    * the expensive fold runs orders of magnitude fewer times than a
    * per-occurrence apply, and the table broadcasts.
    */
  private[graft] def bpeVocab(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    docs
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .withColumn("n_sym",
        size(bpeFold(col("w"), merges)))

  /** Tokenize with a trained merge list: corpus words probe the folded
    * vocab by broadcast join; words OUTSIDE the vocab (an arriving
    * stream's novel words) fall back to the in-row fold — coalesce
    * evaluates lazily, so the fold only ever runs on vocab misses.
    * Emits per-doc whitespace-word and BPE-token counts.
    */
  private[graft] def bpeTokenCounts(docs: DataFrame,
      merges: Seq[(String, String)], vocab: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(vocab), Seq("w"), "left")
      .withColumn("n_sym_eff",
        coalesce(col("n_sym"),
          size(bpeFold(col("w"), merges))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sym_eff").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** DuckDB replay of the K-round BPE training loop — the d34/d35/s18
    * oracle. The merge sequence is deterministic by construction (argmax
    * with count-desc/pair-asc tie-break over integer counts), so a SQL
    * replay is exact, not approximate. Representation: each word's
    * symbol list is ONE string, every symbol wrapped in chr(31)
    * sentinels (`␟a␟␟b␟…` — chr(31) is outside the corpus alphabet, and
    * the decile/gate data is printable ASCII). One round's greedy
    * left-to-right non-overlapping merge of (a,b) is then a single
    * `replace(ws, '␟a␟␟b␟', '␟ab␟')`: standard replace scans left to
    * right and resumes AFTER each replacement, which is exactly the
    * fold semantics of [[graft.expressions.BpeMergeOnce]] (a consumed
    * symbol cannot start the next merge; "aaa" under (a,a) → "aa","a"),
    * and the
    * double-sentinel inner boundary means a pair pattern can never
    * match across partial symbols. Every CTE is MATERIALIZED: the K
    * chained rounds reference their predecessors several times, and
    * DuckDB's default inlining would recompute the chain exponentially.
    * coalesce-to-chr(30) guards the degenerate no-pairs round (the
    * sentinel never occurs, so the replace is a no-op, matching the
    * Spark loop that simply stops appending merges).
    */
  private[graft] def duckBpeChain(k: Int): String = {
    val S = "chr(31)"
    val w0 = s"""w0 AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
       |         regexp_replace(w, '(.)', $S || '\\1' || $S, 'g') AS ws
       |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
       |  WHERE length(w) > 0 GROUP BY w)""".stripMargin
    val rounds = (1 to k).map { i =>
      val p = i - 1
      s"""p$i AS MATERIALIZED (
         |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT freq, string_split(trim(ws, $S), $S||$S) AS syms FROM w$p),
         |       LATERAL unnest(generate_series(1, len(syms) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (
         |  SELECT $i AS rank, l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT w, freq,
         |         replace(ws,
         |           coalesce((SELECT $S||l||$S||$S||r||$S FROM m$i), chr(30)),
         |           coalesce((SELECT $S||l||r||$S FROM m$i), chr(30))) AS ws
         |  FROM w$p)""".stripMargin
    }
    (w0 +: rounds).mkString(",\n")
  }

  private[graft] def duckD34Sql(k: Int): String = {
    val sel = (1 to k).map(i => s"SELECT * FROM m$i").mkString("\nUNION ALL\n")
    s"""WITH ${duckBpeChain(k)},
       |mm AS ($sel)
       |SELECT CAST(rank AS INT) AS rank, l AS left_sym, r AS right_sym,
       |       l || r AS merged, n
       |FROM mm ORDER BY rank""".stripMargin
  }

  private[graft] def duckD35Sql(k: Int): String =
    s"""WITH ${duckBpeChain(k)},
       |vocab AS MATERIALIZED (
       |  SELECT w, len(string_split(trim(ws, chr(31)), chr(31)||chr(31))) AS n_sym
       |  FROM w$k)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
       |FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
       |      FROM documents) t
       |JOIN vocab USING (w)
       |WHERE length(w) > 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d31's DuckDB oracle; `where` narrows it to d33/s16's gate form. */
  private[graft] def duckD31Sql(where: String = ""): String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |         CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT source,
       |         list_transform(
       |           quantile_cont(n_tok, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
       |           x -> round(x + 1e-8, 4)) AS cuts
       |  FROM t GROUP BY source),
       |scored AS (
       |  SELECT doc_id, t.source, n_tok,
       |         CAST(len(list_filter(cuts, x -> CAST(n_tok AS DOUBLE) > x)) + 1
       |              AS INT) AS decile
       |  FROM t JOIN c ON t.source = c.source)
       |SELECT doc_id, source, n_tok, decile FROM scored
       |$where
       |ORDER BY doc_id""".stripMargin

  // Stopword alternations per language; kept identical in the DuckDB SQL.
  private[operators] val EnPat = "\\b(the|and|of|a|is)\\b"
  private[operators] val EsPat = "\\b(el|la|los|las|es)\\b"
  private[operators] val DePat = "\\b(der|die|das|und|ist)\\b"
  private[operators] val FrPat = "\\b(le|les|et|est|une)\\b"

  private val WsTokenPat = "\\S+"
  private val BpeTokenPat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  private val PunctPat = "[.,!?;:]"

  // PII patterns (d19). ASCII-only constructs so Java regex (Spark) and
  // RE2 (DuckDB) agree: classes, bounded repeats, and \b word boundaries
  // behave identically over ASCII; no backrefs/lookaround (RE2 has none).
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Pat = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val NumPat = "[0-9]{2,}"

  private def scored(s: SparkSession, d: String): DataFrame =
    withStopHits(Tables.documents(s, d))

  private def withStopHits(docs: DataFrame): DataFrame =
    docs
      .withColumn("en_hits", nMatches(col("text"), EnPat))
      .withColumn("es_hits", nMatches(col("text"), EsPat))
      .withColumn("de_hits", nMatches(col("text"), DePat))
      .withColumn("fr_hits", nMatches(col("text"), FrPat))

  /** d21's KEEP/DROP verdict pipeline over any (doc_id, text) frame —
    * every column is a per-row function of the text (no aggregation, no
    * shuffle), which is exactly what lets s11 run it UNCHANGED on a
    * document stream in append mode with zero state. One definition;
    * the batch gate adds only its orderBy.
    */
  private[graft] def qualityVerdict(docs: DataFrame): DataFrame =
    withQualityKeep(docs)
      .select("doc_id", "n_words", "ok_len", "ok_rep", "ok_stop", "ok_tok", "keep")

  /** d21's verdict columns appended to the INPUT columns — so p01 can
    * apply the gate as a single-scan FILTER (`.filter(col("keep"))`)
    * while keeping (source, text) for the stages downstream.
    */
  private[operators] def withQualityKeep(docs: DataFrame): DataFrame =
    withStopHits(docs)
      .withColumn("n_words", nMatches(col("text"), WsTokenPat))
      .withColumn("n_distinct",
        size(array_distinct(regexp_extract_all(col("text"), lit(WsTokenPat), lit(0)))))
      .withColumn("n_nonws", length(regexp_replace(col("text"), "\\s", "")))
      .withColumn("ok_len", col("n_words") >= 10 && col("n_words") <= 5000)
      .withColumn("ok_rep", col("n_distinct") * 5 >= col("n_words"))
      .withColumn("ok_stop",
        col("en_hits") + col("es_hits") + col("de_hits") + col("fr_hits") >= 1)
      .withColumn("ok_tok",
        col("n_nonws") >= col("n_words") * 2 && col("n_nonws") <= col("n_words") * 12)
      .withColumn("keep",
        col("ok_len") && col("ok_rep") && col("ok_stop") && col("ok_tok"))

  /** d21's oracle — shared VERBATIM with s11_stream_quality_filter. */
  private[graft] val duckD21Sql: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_words,
       |    CAST(len(list_distinct(regexp_extract_all(text, '\\S+'))) AS INT) AS n_distinct,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS INT) AS n_nonws,
       |    len(regexp_extract_all(text, '$EnPat')) +
       |    len(regexp_extract_all(text, '$EsPat')) +
       |    len(regexp_extract_all(text, '$DePat')) +
       |    len(regexp_extract_all(text, '$FrPat')) AS stop_hits
       |  FROM documents)
       |SELECT doc_id, n_words,
       |  n_words >= 10 AND n_words <= 5000 AS ok_len,
       |  n_distinct * 5 >= n_words AS ok_rep,
       |  stop_hits >= 1 AS ok_stop,
       |  n_nonws >= n_words * 2 AND n_nonws <= n_words * 12 AS ok_tok,
       |  (n_words >= 10 AND n_words <= 5000) AND (n_distinct * 5 >= n_words)
       |    AND (stop_hits >= 1)
       |    AND (n_nonws >= n_words * 2 AND n_nonws <= n_words * 12) AS keep
       |FROM m ORDER BY doc_id""".stripMargin

  /** Character-bigram array of `text` (1-based, char semantics in both
    * engines; empty for len<2 — `sequence(1, 0)` would DESCEND in Spark,
    * so the short-doc branch is explicit).
    */
  private def charBigrams(c: Column): Column =
    when(length(c) >= 2,
      transform(sequence(lit(1), length(c) - 1), i => c.substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))

  /** d43/s24's trained LM as closure-sized sorted arrays (the d29
    * sorted-list-riding-the-closure discipline): bigram key = UTF-16
    * pair packed into a long, values = the 6dp-rounded logp in EXACT
    * integer micros. The long micro-sum the scorer computes carries the
    * same digits as a DECIMAL(38,6) sum, so cross-engine float-order
    * parity holds by construction, and the only libm call (ln) runs
    * once per distinct model entry — driver-side, charset²-bounded.
    */
  final case class LmModel(bigramKeys: Array[Long], bigramMicros: Array[Long],
      ctxKeys: Array[Long], ctxMicros: Array[Long], dfltMicros: Long)

  // train-once memo per corpus stamp (the e08ModelMemo discipline) — a
  // bench rep or a stream restart must not retrain an unchanged corpus
  private val lmMemo =
    new java.util.concurrent.ConcurrentHashMap[String, LmModel]()
  private[graft] def lmModelMemo(key: String)(build: => LmModel): LmModel =
    lmMemo.computeIfAbsent(key, _ => build)

  /** Train d43's char-bigram Laplace model on `ref`: one corpus scan
    * whose groupBy combines map-side down to a charset²-bounded table,
    * collected driver-side (model-sized — the Lloyd-means/BPE-merge
    * convention) and rounded to integer micros once per entry. Laplace:
    * p(c2|c1) = (n12+1)/(n1+V); unseen context falls to 1/V (an empty
    * reference corpus fails LOUDLY on the 1/0 conversion rather than
    * minting a silent all-default model).
    */
  private[graft] def lmModel(ref: DataFrame): LmModel = {
    def micros(p: Double): Long =
      BigDecimal(math.log(p) + 1e-12)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.movePointRight(6).longValueExact
    val bcnt = ref
      .select(explode(charBigrams(col("text"))).as("b"))
      .groupBy("b").agg(count(lit(1)).as("n12"))
    val ccnt = bcnt
      .groupBy(substring(col("b"), 1, 1).as("c1"))
      .agg(sum("n12").as("n1"))
    val v = ref
      .select(explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .agg(countDistinct(col("ch")).as("v"))
      .first().getLong(0)
    val bPairs = bcnt
      .join(ccnt, substring(col("b"), 1, 1) === col("c1"))
      .select("b", "n12", "n1").collect()
      .map { r =>
        val b = r.getString(0)
        ((b.charAt(0).toLong << 16) | b.charAt(1),
          micros((r.getLong(1) + 1).toDouble / (r.getLong(2) + v).toDouble))
      }.sortBy(_._1)
    val cPairs = ccnt.collect()
      .map(r => (r.getString(0).charAt(0).toLong,
        micros(1.0 / (r.getLong(1) + v).toDouble)))
      .sortBy(_._1)
    LmModel(bPairs.map(_._1), bPairs.map(_._2),
      cPairs.map(_._1), cPairs.map(_._2), micros(1.0 / v.toDouble))
  }

  /** d43's scoring pass over any (doc_id, lang, text) frame: one scan,
    * zero shuffle, ONE codegen'd kernel call per row ([[graft.expressions.LmNllMicros]]
    * — the interpreted HOF fold this replaces ran per CHARACTER and
    * measured 274 s at sf10; the kernel scores the same corpus in
    * seconds). The long micro-sum divided back to a double matches the
    * oracle's DECIMAL-sum→DOUBLE cast digit for digit.
    */
  private[graft] def lmScore(docs: DataFrame,
      m: LmModel): DataFrame = {
    docs
      .withColumn("n_big",
        when(length(col("text")) >= 2, length(col("text")) - 1)
          .otherwise(lit(0)).cast("int"))
      .withColumn("micros", graft.expressions.GraftFunctions.lmNllMicros(
        col("text"), m.bigramKeys, m.bigramMicros, m.ctxKeys, m.ctxMicros,
        m.dfltMicros))
      .select(col("doc_id"), col("lang"), col("n_big"),
        when(col("n_big") > 0,
          round(-(col("micros").cast("double") / lit(1e6)) / col("n_big")
                  + lit(1e-9), 6))
          .as("nll"))
  }

  /** d43's oracle: the identical train + score in DuckDB SQL. */
  private[graft] val duckD43Sql: String =
    """WITH ref AS (SELECT text FROM documents WHERE lang = 'en'),
      |rb AS (
      |  SELECT substr(text, CAST(i AS INT), 2) AS b
      |  FROM ref, unnest(range(1, len(text))) AS t(i)),
      |bc AS (SELECT b, CAST(count(*) AS BIGINT) AS n12 FROM rb GROUP BY b),
      |cc AS (SELECT substr(b, 1, 1) AS c1, CAST(sum(n12) AS BIGINT) AS n1
      |       FROM bc GROUP BY 1),
      |vv AS (SELECT CAST(count(DISTINCT substr(text, CAST(i AS INT), 1)) AS BIGINT) AS v
      |       FROM ref, unnest(range(1, len(text) + 1)) AS t(i)),
      |bm AS (SELECT b, round(ln((n12 + 1)::DOUBLE / (n1 + v)::DOUBLE) + 1e-12, 6) AS logp
      |       FROM bc JOIN cc ON substr(bc.b, 1, 1) = cc.c1 CROSS JOIN vv),
      |cm AS (SELECT c1, round(ln(1.0 / (n1 + v)::DOUBLE) + 1e-12, 6) AS logp0
      |       FROM cc CROSS JOIN vv),
      |db AS (SELECT doc_id, substr(text, CAST(i AS INT), 2) AS b
      |       FROM documents, unnest(range(1, len(text))) AS t(i)),
      |terms AS (
      |  SELECT doc_id,
      |         coalesce(bm.logp, cm.logp0,
      |                  (SELECT round(ln(1.0 / v::DOUBLE) + 1e-12, 6) FROM vv)) AS lp
      |  FROM db LEFT JOIN bm USING (b)
      |          LEFT JOIN cm ON substr(db.b, 1, 1) = cm.c1),
      |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_big,
      |               CAST(sum(CAST(lp AS DECIMAL(38,6))) AS DOUBLE) AS s
      |        FROM terms GROUP BY doc_id)
      |SELECT d.doc_id, d.lang,
      |       coalesce(a.n_big, 0) AS n_big,
      |       CASE WHEN a.n_big > 0 THEN round(-s / a.n_big + 1e-9, 6) END AS nll
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  val defs: Map[String, OpDef] = Map(

    // Language ID by stopword-hit scoring (deterministic CASE cascade;
    // the oracle runs the identical cascade in SQL).
    "d05_langid" -> OpDef.sql(
      (s, d) => scored(s, d)
        .withColumn("predicted_lang",
          when(col("en_hits") >= col("es_hits") &&
               col("en_hits") >= col("de_hits") &&
               col("en_hits") >= col("fr_hits"), "en")
          .when(col("es_hits") >= col("de_hits") &&
                col("es_hits") >= col("fr_hits"), "es")
          .when(col("de_hits") >= col("fr_hits"), "de")
          .otherwise("fr"))
        .select("doc_id", "en_hits", "es_hits", "de_hits", "fr_hits",
                "predicted_lang")
        .orderBy("doc_id"),
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EnPat')) AS INT) AS en_hits,
         |  CAST(len(regexp_extract_all(text, '$EsPat')) AS INT) AS es_hits,
         |  CAST(len(regexp_extract_all(text, '$DePat')) AS INT) AS de_hits,
         |  CAST(len(regexp_extract_all(text, '$FrPat')) AS INT) AS fr_hits,
         |  CASE
         |    WHEN len(regexp_extract_all(text, '$EnPat')) >= len(regexp_extract_all(text, '$EsPat'))
         |     AND len(regexp_extract_all(text, '$EnPat')) >= len(regexp_extract_all(text, '$DePat'))
         |     AND len(regexp_extract_all(text, '$EnPat')) >= len(regexp_extract_all(text, '$FrPat')) THEN 'en'
         |    WHEN len(regexp_extract_all(text, '$EsPat')) >= len(regexp_extract_all(text, '$DePat'))
         |     AND len(regexp_extract_all(text, '$EsPat')) >= len(regexp_extract_all(text, '$FrPat')) THEN 'es'
         |    WHEN len(regexp_extract_all(text, '$DePat')) >= len(regexp_extract_all(text, '$FrPat')) THEN 'de'
         |    ELSE 'fr'
         |  END AS predicted_lang
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Quality scoring: length, token count, avg token length, punctuation /
    // uppercase / stopword ratios, plus an integer-threshold quality bucket.
    "d06_quality" -> OpDef.sql(
      (s, d) => scored(s, d)
        .withColumn("n_chars_txt", length(col("text")))
        .withColumn("n_tokens", nMatches(col("text"), WsTokenPat))
        .withColumn("n_nonws", length(regexp_replace(col("text"), "\\s", "")))
        // zero-denominator guards emit NULL, matching DuckDB's x/0 = NULL
        // (Spark doubles would give NaN/Infinity and fail the oracle on
        // empty or whitespace-only documents)
        .withColumn("avg_token_len",
          when(col("n_tokens") > 0,
            round(col("n_nonws").cast("double") / col("n_tokens") + lit(1e-8), 4)))
        .withColumn("punct_ratio",
          when(col("n_chars_txt") > 0,
            round((col("n_chars_txt") -
                   length(regexp_replace(col("text"), PunctPat, "")))
                  .cast("double") / col("n_chars_txt") + lit(1e-8), 4)))
        .withColumn("upper_ratio",
          when(col("n_chars_txt") > 0,
            round((col("n_chars_txt") -
                   length(regexp_replace(col("text"), "[A-Z]", "")))
                  .cast("double") / col("n_chars_txt") + lit(1e-8), 4)))
        .withColumn("stop_ratio",
          when(col("n_tokens") > 0,
            round(col("en_hits").cast("double") / col("n_tokens") + lit(1e-8), 4)))
        .withColumn("quality_bucket",
          when(col("n_tokens") >= 60, "long")
          .when(col("n_tokens") >= 30, "mid")
          .otherwise("short"))
        .select("doc_id", "n_chars_txt", "n_tokens", "avg_token_len",
                "punct_ratio", "upper_ratio", "stop_ratio", "quality_bucket")
        .orderBy("doc_id"),
      s"""SELECT doc_id,
         |  CAST(length(text) AS INT) AS n_chars_txt,
         |  CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_tokens,
         |  round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
         |        / len(regexp_extract_all(text, '\\S+')) + 1e-8, 4) AS avg_token_len,
         |  round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
         |        / length(text) + 1e-8, 4) AS punct_ratio,
         |  round(CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
         |        / length(text) + 1e-8, 4) AS upper_ratio,
         |  round(CAST(len(regexp_extract_all(text, '$EnPat')) AS DOUBLE)
         |        / len(regexp_extract_all(text, '\\S+')) + 1e-8, 4) AS stop_ratio,
         |  CASE WHEN len(regexp_extract_all(text, '\\S+')) >= 60 THEN 'long'
         |       WHEN len(regexp_extract_all(text, '\\S+')) >= 30 THEN 'mid'
         |       ELSE 'short' END AS quality_bucket
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Token counting: whitespace tokens and a BPE-ish regex tokenization.
    "d07_token_count" -> OpDef.sql(
      (s, d) => Tables.documents(s, d)
        .withColumn("ws_tokens", nMatches(col("text"), WsTokenPat))
        .withColumn("bpe_tokens", nMatches(col("text"), BpeTokenPat))
        .select("doc_id", "ws_tokens", "bpe_tokens")
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Corpus vocabulary: per-language term and document frequencies above
    // a min-count floor — the aggregation that feeds tokenizer/BPE
    // training and IDF weighting. Shape chosen for 100 TB: explode +
    // groupBy(lang, term) is map-side combinable and shuffles only
    // (lang, term) partials; the floor is a HAVING on the aggregate (no
    // per-group top-k window — a rank-per-lang window would cap the
    // cluster at n_langs tasks, the q18 anti-pattern).
    "d12_vocab" -> OpDef.sql(
      (s, d) => Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
                explode(split(col("text"), "\\s+")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("lang", "term")
        .agg(count(lit(1)).as("n"),
             countDistinct(col("doc_id")).as("df"))
        .filter(col("n") >= 20)
        .orderBy(col("lang"), col("n").desc, col("term")),
      """SELECT lang, term, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM (SELECT lang, doc_id,
        |             unnest(string_split_regex(text, '\s+')) AS term
        |      FROM documents)
        |WHERE length(term) > 0
        |GROUP BY lang, term HAVING count(*) >= 20
        |ORDER BY lang, n DESC, term""".stripMargin),

    // Repetition / diversity signals (the C4/Gopher-style quality
    // filters): what fraction of a doc's words, characters, and 3-gram
    // shingles are distinct. Highly repetitive docs (boilerplate, spam,
    // keyword stuffing) score low and get filtered before training.
    // Every metric is a ratio of integer counts — exact in both engines,
    // so unlike an entropy formulation (whose libm log calls differ
    // across engines) this is hash-oracle-checkable. Per-row codegen'd
    // expressions only (array_distinct is a collection function, not an
    // interpreted lambda; shingle/codepoint sets come from the native
    // kernels): scan-speed at any scale, like d05-d07.
    "d15_repetition" -> OpDef.sql(
      (s, d) => {
        val nWords = nMatches(col("text"), WsTokenPat)
        // the shingle kernel splits on \s+ INCLUDING empty edge tokens, so
        // its total-shingle denominator is split-length - 2 (as in the
        // DuckDB twin), not the nonwhitespace-token count
        val nShingles = greatest(size(split(col("text"), "\\s+")) - lit(2), lit(0))
        Tables.documents(s, d)
          .withColumn("n_words", nWords)
          .withColumn("distinct_word_ratio",
            when(col("n_words") > 0,
              round(size(array_distinct(split(col("text"), "\\s+")))
                .cast("double") / col("n_words") + lit(1e-8), 4)))
          .withColumn("distinct_char_ratio",
            when(length(col("text")) > 0,
              round(size(expr("codepoint_set(text)"))
                .cast("double") / length(col("text")) + lit(1e-8), 4)))
          .withColumn("distinct_shingle_ratio",
            when(nShingles > 0,
              round(size(expr("md5_shingle3_hashes(text)"))
                .cast("double") / nShingles + lit(1e-8), 4)))
          .select("doc_id", "n_words", "distinct_word_ratio",
                  "distinct_char_ratio", "distinct_shingle_ratio")
          .orderBy("doc_id")
      },
      """WITH w AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS ws,
        |         len(regexp_extract_all(text, '\S+')) AS n_words
        |  FROM documents)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words,
        |  CASE WHEN n_words > 0 THEN
        |    round(CAST(len(list_distinct(ws)) AS DOUBLE) / n_words + 1e-8, 4)
        |  END AS distinct_word_ratio,
        |  CASE WHEN length(text) > 0 THEN
        |    round(CAST(len(list_distinct(string_split_regex(text, ''))) AS DOUBLE)
        |          / length(text) + 1e-8, 4)
        |  END AS distinct_char_ratio,
        |  CASE WHEN greatest(len(ws) - 2, 0) > 0 THEN
        |    round(CAST(len(list_distinct(list_transform(
        |            generate_series(1, len(ws) - 2),
        |            i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))) AS DOUBLE)
        |          / greatest(len(ws) - 2, 0) + 1e-8, 4)
        |  END AS distinct_shingle_ratio
        |FROM w ORDER BY doc_id""".stripMargin),

    // Quality-filter composition (the C4/Gopher-style KEEP/DROP decision):
    // the point where the d05/d06/d15 signals become an actionable verdict
    // plus per-rule reason flags — what a curation pipeline materializes
    // so drops are auditable by rule. Every rule is an exact-integer
    // comparison (ratios via cross-multiplication, never a float
    // division), so the verdict is bit-identical in both engines by
    // construction, and the whole thing is one codegen'd scan like
    // d05-d07. Thresholds are the operator's contract: 10 <= words <=
    // 5000, distinct-word ratio >= 1/5, >= 1 stopword hit (any of the
    // four languages), mean token length in [2, 12].
    "d21_quality_filter" -> OpDef.sql(
      (s, d) => qualityVerdict(Tables.documents(s, d)).orderBy("doc_id"),
      duckD21Sql),

    // Adjacent-pair statistics (the BPE merge-step aggregation): counts
    // of adjacent whitespace-token pairs across the corpus, with a
    // count floor — the table a tokenizer trainer consults to pick its
    // next merge (and a collocation report in its own right). One
    // explode of per-row zipped neighbors (no self-join: the pairing
    // happens INSIDE the row via arrays_zip of the token array and its
    // tail) into a map-side-combinable groupBy; the floor is a HAVING,
    // no top-k window (the d12 discipline). Per-merge-round reruns at
    // 100 TB would re-tokenize with the merged vocab and re-run the
    // same plan — the aggregation, not the loop, is the operator.
    "d26_bpe_pairs" -> OpDef.sql(
      (s, d) => Tables.documents(s, d)
        .withColumn("tokens", split(col("text"), "\\s+"))
        .select(explode(expr(
          """arrays_zip(slice(tokens, 1, greatest(size(tokens) - 1, 0)),
            |           slice(tokens, 2, greatest(size(tokens) - 1, 0)))""".stripMargin))
          .as("pr"))
        .select(expr("pr.`0`").as("left_tok"), expr("pr.`1`").as("right_tok"))
        .filter(length(col("left_tok")) > 0 && length(col("right_tok")) > 0)
        .groupBy("left_tok", "right_tok")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 20)
        .orderBy(col("n").desc, col("left_tok"), col("right_tok"))
        .select("left_tok", "right_tok", "n"),
      """SELECT pr.l AS left_tok, pr.r AS right_tok,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
        |           i -> struct_pack(l := ws[i], r := ws[i+1]))) AS pr
        |  FROM (SELECT string_split_regex(text, '\s+') AS ws FROM documents))
        |WHERE length(pr.l) > 0 AND length(pr.r) > 0
        |GROUP BY 1, 2 HAVING count(*) >= 20
        |ORDER BY n DESC, left_tok, right_tok""".stripMargin),

    // Out-of-vocabulary scoring: each document's token share outside the
    // corpus vocabulary (d12's definition: per-(lang, term) count >= 20)
    // — the log-free twin of a perplexity filter (KenLM-style gibberish
    // screens rank by rare-token mass; counts and one ratio stay exact
    // in both engines where a log-prob would hash-mismatch). Docs whose
    // raw OOV share exceeds half are flagged via integer
    // cross-multiplication.
    //
    // Scale shape: one explode feeds BOTH the vocabulary aggregate and
    // the per-doc probe; the vocabulary is tiny (it IS d12's output), so
    // the probe join is broadcast — a corpus that outgrows that drops
    // the hint and shuffles on (lang, term). Only docs with >= 1 token
    // appear (the probe has no rows for empty docs), matching the SQL.
    "d23_oov_ratio" -> OpDef.sql(
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
                  explode(split(col("text"), "\\s+")).as("term"))
          .filter(length(col("term")) > 0)
        val vocab = toks.groupBy("lang", "term")
          .agg(count(lit(1)).as("n")).filter(col("n") >= 20)
          .select(col("lang"), col("term"), lit(1).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("lang", "term"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
               (count(lit(1)) - count(col("in_vocab"))).as("n_oov"))
          .withColumn("oov_ratio",
            round(col("n_oov").cast("double") / col("n_tokens") + lit(1e-8), 4))
          .withColumn("flag_oov", col("n_oov") * 2 > col("n_tokens"))
          .select("doc_id", "n_tokens", "n_oov", "oov_ratio", "flag_oov")
          .orderBy("doc_id")
      },
      """WITH tok AS (
        |  SELECT doc_id, lang, term FROM (
        |    SELECT doc_id, lang,
        |           unnest(string_split_regex(text, '\s+')) AS term
        |    FROM documents)
        |  WHERE length(term) > 0),
        |v AS (SELECT lang, term FROM tok GROUP BY lang, term HAVING count(*) >= 20),
        |j AS (
        |  SELECT t.doc_id, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok t LEFT JOIN v ON t.lang = v.lang AND t.term = v.term)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(oov) AS BIGINT) AS n_oov,
        |       round(CAST(sum(oov) AS DOUBLE) / count(*) + 1e-8, 4) AS oov_ratio,
        |       sum(oov) * 2 > count(*) AS flag_oov
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Corpus accounting: the per-(source, lang, split) report a corpus
    // build publishes next to the data — doc counts, token/char budgets,
    // token-length spread. The split is d11's md5 rule (one definition,
    // shared through Dedup), so these stats describe exactly the corpus
    // d14 selects. Map-side-combinable groupBy over a 3-level key whose
    // cardinality is sources x langs x 3 — tiny output at any corpus
    // size, one scan, no window.
    "d22_corpus_stats" -> OpDef.sql(
      (s, d) => Tables.documents(s, d)
        .withColumn("split", Dedup.splitOf(Dedup.splitBucket(col("doc_id"))))
        .withColumn("n_tokens", nMatches(col("text"), WsTokenPat))
        .groupBy("source", "lang", "split")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens").cast("bigint")).as("total_tokens"),
             sum(length(col("text")).cast("bigint")).as("total_chars"),
             min(col("n_tokens")).as("min_tokens"),
             max(col("n_tokens")).as("max_tokens"),
             round(avg(col("n_tokens")) + lit(1e-8), 4).as("avg_tokens"))
        .orderBy("source", "lang", "split"),
      s"""SELECT source, lang, ${Dedup.duckSplitCase("doc_id")} AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS total_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
         |  CAST(min(len(regexp_extract_all(text, '\\S+'))) AS INT) AS min_tokens,
         |  CAST(max(len(regexp_extract_all(text, '\\S+'))) AS INT) AS max_tokens,
         |  round(avg(len(regexp_extract_all(text, '\\S+'))) + 1e-8, 4) AS avg_tokens
         |FROM documents
         |GROUP BY 1, 2, 3 ORDER BY source, lang, split""".stripMargin),

    // PII / sensitive-token scrub: redact emails, IPv4 addresses, and
    // digit runs from event payloads, with per-pattern counts — the
    // log-scrubbing pass a training pipeline runs before free-text fields
    // enter a corpus. Redaction is staged (emails, then IPs in the
    // email-scrubbed text, then remaining digit runs) so the counts are
    // DISJOINT: an IP's octets are one IP hit, not also digit-run hits.
    // Everything is per-row regexp_replace/extract_all — codegen'd,
    // scan-speed, no shuffle, like d05–d07. The gate runs it over the
    // events payloads (the driver corpus's only digit-bearing text);
    // PiiScrubSpec exercises real emails/IPs/phones on a synthetic feed.
    "d19_pii_scrub" -> OpDef.sql(
      (s, d) => {
        val noEmail = regexp_replace(col("props"), EmailPat, "<EMAIL>")
        val noIp = regexp_replace(noEmail, Ipv4Pat, "<IP>")
        val clean = regexp_replace(noIp, NumPat, "<NUM>")
        Tables.events(s, d)
          .select(col("event_id"),
                  nMatches(col("props"), EmailPat).as("n_emails"),
                  nMatches(noEmail, Ipv4Pat).as("n_ips"),
                  nMatches(noIp, NumPat).as("n_nums"),
                  length(clean).as("clean_len"),
                  md5(clean).as("clean_hash"))
          .orderBy("event_id")
      },
      s"""SELECT event_id,
         |  CAST(len(regexp_extract_all(props, '$EmailPat')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(props, '$EmailPat', '<EMAIL>', 'g'),
         |    '$Ipv4Pat')) AS INT) AS n_ips,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(regexp_replace(props, '$EmailPat', '<EMAIL>', 'g'),
         |                   '$Ipv4Pat', '<IP>', 'g'),
         |    '$NumPat')) AS INT) AS n_nums,
         |  CAST(length(regexp_replace(regexp_replace(regexp_replace(props,
         |    '$EmailPat', '<EMAIL>', 'g'), '$Ipv4Pat', '<IP>', 'g'),
         |    '$NumPat', '<NUM>', 'g')) AS INT) AS clean_len,
         |  md5(regexp_replace(regexp_replace(regexp_replace(props,
         |    '$EmailPat', '<EMAIL>', 'g'), '$Ipv4Pat', '<IP>', 'g'),
         |    '$NumPat', '<NUM>', 'g')) AS clean_hash
         |FROM events ORDER BY event_id""".stripMargin),

    // IDF-weighted keyword extraction: each document's top-3 terms by
    // tf · (N/df) — term frequency weighted by the corpus-rarity factor.
    // The weight is the RECIPROCAL-df idf variant, not log(N/df):
    // a libm log differs across engines in the last bit and would
    // hash-mismatch (the d15 entropy note); tf·N/df is one exact integer
    // product and one IEEE division, bit-identical in both engines, and
    // ranking happens on the shared epsilon-rounded score.
    //
    // Scale shape: tf is an explode + map-side-combinable groupBy like
    // d12; df is vocabulary-sized, so its join back onto tf is broadcast
    // (a corpus whose vocabulary outgrows broadcast drops the hint and
    // shuffles on term — same plan); N reaches every row as a one-row
    // broadcast like d17's rate table. The per-doc top-3 is a row_number
    // window over doc_id — a HIGH-cardinality partition key, so the
    // window parallelizes with the corpus (q18's anti-pattern is only
    // the low-cardinality window).
    "d20_tfidf" -> OpDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
        tf.join(broadcast(df), "term")
          .crossJoin(broadcast(n))
          .withColumn("score",
            round((col("tf") * col("n_docs")).cast("double") / col("df")
                    + lit(1e-8), 4))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk"), col("term"), col("tf"),
                  col("df"), col("score"))
          .orderBy("doc_id", "rk")
      },
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        |        FROM documents)
        |  WHERE length(term) > 0 GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         round(CAST(tf.tf * n.n_docs AS DOUBLE) / df.df + 1e-8, 4) AS score
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, rk, term, tf, df, score FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |            ORDER BY score DESC, term) AS INT) AS rk
        |  FROM scored)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),

    // BPE tokenizer TRAINING (Sennrich-style), distributed: the corpus
    // is scanned ONCE for the word-frequency table, and the iterative
    // merge loop runs entirely over that table — distinct words, not
    // corpus tokens — which is what makes tokenizer induction feasible
    // at 100 TB (the word table is millions of rows where the corpus is
    // trillions). Each round: (1) adjacent symbol-pair counts weighted
    // by word frequency — one combinable aggregate; (2) the argmax pair
    // to the driver (ONE row per round — the trainLloyd model
    // discipline; ties broken count desc, pair asc, so training is
    // deterministic); (3) the merge applied per word by a fold
    // (`aggregate` HOF) that replaces adjacent (a,b) with the merged
    // symbol greedily left-to-right — the fold carries the emitted
    // prefix, so overlapping occurrences ("aaa" under (a,a)) merge
    // non-overlapping exactly like the reference algorithm. Output: the
    // learned merge table — HASH-PROVEN against a full cross-engine
    // replay: the K-round loop IS expressible in SQL (see duckBpeChain's
    // sentinel-wrapped-string trick), so the oracle re-trains the
    // tokenizer in DuckDB and the merge sequence must match row for row.
    // BpeTrainSpec additionally replays the algorithm in Scala and pins
    // a hand corpus with arithmetically known merges.
    "d34_bpe_train" -> OpDef.sql(
      (s, d) => bpeTrain(s, Tables.documents(s, d), 8),
      duckD34Sql(8)),

    // The apply side of the tokenizer loop (train once / apply many —
    // the AnnIndexLake discipline in tokenizer form): the K-row merge
    // table rides the plan as literals, the expensive merge fold runs
    // ONCE PER DISTINCT WORD (the vocabulary-sized folded-word table,
    // broadcast back into the corpus scan — per-occurrence apply would
    // run the interpreted fold trillions of times at 100 TB; this runs
    // it millions), and unseen words fall back to a lazy in-row fold;
    // the per-doc output is the token count a sequence-packing /
    // context-budget pass consumes (d18's input, now under a TRAINED
    // vocabulary instead of the whitespace proxy). HASH-PROVEN: the
    // oracle re-trains the model in DuckDB (duckBpeChain) and tokenizes
    // the corpus under it, so Spark's fold and SQL's replace must agree
    // on every word of every document. BpeApplySpec replays tokenization
    // in Scala, and s18 is the intake twin on the same model.
    "d35_bpe_apply" -> OpDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = trainedMerges(s, d)
        bpeTokenCounts(docs, merges, bpeVocab(docs, merges))
      },
      duckD35Sql(8)),

    // Per-source decile bucketing WITHOUT the window: corpus curation
    // ranks documents into quantile buckets per source (keep the top-k
    // length/quality deciles), and the textbook `ntile() OVER (PARTITION
    // BY source ORDER BY metric)` is exactly q18's anti-pattern — source
    // is a LOW-cardinality key, so the window funnels the whole corpus
    // through a handful of sort partitions. The scale-safe form splits
    // rank-assignment into (1) a map-side-combinable aggregate producing
    // the 9 per-source cut points (a sources x 9 model table — tiny at
    // any corpus size), (2) a broadcast join back, (3) a per-row
    // codegen'd bucket compare: decile = 1 + #{cuts strictly below the
    // metric}. One corpus scan, zero sorts, zero windows; the only
    // all-rows shuffle in the naive form never happens. Ties sit in the
    // LOWEST bucket their value allows in BOTH engines (strict `>` on
    // cut points rounded to 4 decimals — the shared epsilon-rounding
    // convention, so interpolated cuts are bit-identical cross-engine).
    // NOTE decile is ntile-like, not ntile-exact: equal metric values
    // always land in the same bucket here (ntile splits ties across
    // buckets to force equal counts), which is the curation-correct
    // semantics — a filter "decile >= 8" must not keep one copy of a
    // value and drop another.
    "d31_quality_deciles" -> OpDef.sql(
      (s, d) => {
        val docs = withNTok(Tables.documents(s, d))
        withDecile(docs, decileCuts(docs))
          .select("doc_id", "source", "n_tok", "decile")
          .orderBy("doc_id")
      },
      duckD31Sql()),

    // Intake decile gate: d31's bucketing as a corpus-curation FILTER —
    // keep only the top-3 per-source token-count deciles. Same model,
    // same compare, one more codegen'd predicate; the streaming twin
    // (s16) broadcasts the identical cut table into the intake stream.
    "d33_decile_gate" -> OpDef.sql(
      (s, d) => {
        val docs = withNTok(Tables.documents(s, d))
        withDecile(docs, decileCuts(docs))
          // explicit unknown-source policy: decile NULL (a source absent
          // from the cut model) is quarantined here — stated, not an
          // inner-join side effect
          .filter(col("decile").isNotNull && col("decile") >= 8)
          .select("doc_id", "source", "n_tok", "decile")
          .orderBy("doc_id")
      },
      duckD31Sql("WHERE decile >= 8")),

    // BM25 retrieval over the corpus: the ranking function an actual
    // search/retrieval pass runs (dedup-aware corpus QA, "find the docs
    // about X", RAG index sanity checks). Query terms are chosen
    // deterministically IN-PLAN — the 5 highest-df terms of length >= 4
    // (df desc, term asc) — so the entry is self-contained on driver
    // data. Scoring is BM25 with k1=1.2, b=0.75 and the RATIONAL idf
    // (N - df + 0.5)/(df + 0.5) — the d20/d15 discipline: no libm log
    // in a hash-compared score (a last-bit log difference across engines
    // would flip the hash), products and divisions only, identical
    // expression shape in both engines, final sum epsilon-rounded.
    //
    // Scale shape: tf/df/dl are d20's explode + map-side-combinable
    // aggregates (in production they ARE the persisted inverted-index
    // lake, written once per corpus build — the AnnIndexLake
    // discipline); the query-term table is 5 rows broadcast into the tf
    // scan, so only postings of the queried terms survive into scoring;
    // doc-length norms join on doc_id over those candidates; the global
    // top-10 is TakeOrderedAndProject (per-partition heads, no full
    // sort). Corpus-side cost: one tokenize scan + the combinable
    // index aggregates, independent of query count.
    "d32_bm25" -> OpDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
        val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
        val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val qterms = dfT.filter(length(col("term")) >= 4)
          .orderBy(desc("df"), col("term")).limit(5)
        tf.join(broadcast(qterms), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("idf",
            (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          .withColumn("norm",
            lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))
          .withColumn("ts",
            col("idf") * ((col("tf") * lit(2.2)) /
              (col("tf") + lit(1.2) * col("norm"))))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hit"),
               round(sum(col("ts")) + lit(1e-8), 4).as("score"))
          .orderBy(desc("score"), col("doc_id")).limit(10)
          .select("doc_id", "n_hit", "score")
      },
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        |        FROM documents)
        |  WHERE length(term) > 0 GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
        |       FROM tf GROUP BY doc_id),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl
        |          FROM dl),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |q AS (SELECT term, df FROM df WHERE length(term) >= 4
        |      ORDER BY df DESC, term LIMIT 5),
        |sc AS (
        |  SELECT tf.doc_id,
        |         ((n_docs - q.df + 0.5) / (q.df + 0.5)) *
        |         ((tf.tf * 2.2) / (tf.tf + 1.2 *
        |            (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / avgdl)))) AS ts
        |  FROM tf JOIN q USING (term) JOIN dl USING (doc_id), stats)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
        |       round(sum(ts) + 1e-8, 4) AS score
        |FROM sc GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    // d42: SPARSE COSINE SIMILARITY JOIN — all doc pairs with tf-idf
    // cosine >= 0.8 over word-TRIGRAM features, by an inverted-index
    // self-join. The WEIGHTED counterpart to d10's set Jaccard and
    // the sparse counterpart to d09/e04's dense-embedding cosine;
    // trigrams (not unigrams) because the corpus vocabulary is 31
    // words — unigram cosine >= 0.6 holds for HALF of all 125k
    // random pairs at sf0.01, while trigram cosine separates cleanly
    // (25 pairs >= 0.8, everything else <= 0.1).
    //
    // SHAPE: the exact join volume is sum(df^2) over features — each
    // co-occurrence contributes one multiply — and on trigram
    // features that sum is ~11x the posting count at BOTH sf1 and
    // sf10 (max df 25): the self-join IS linear here, and it beat
    // the All-Pairs prefix-filter + pairwise-verify form 27 s vs
    // 69 s at sf10, because this corpus's false candidates (pairs
    // sharing ONE rare feature by chance) each cost one join row
    // here but a full doc-length explode there. What makes df^2
    // dangerous at 100 TB is boilerplate (stopword shingles with
    // df ~ corpus size), and that has a SOUND adaptive escape, below.
    //
    // FLOAT-SUM DETERMINISM: cross-engine hash parity forbids
    // order-dependent double sums. Every summed quantity is nudged +
    // rounded to a fixed scale and summed as DECIMAL (exact,
    // associative): norm^2 terms at 4dp, dot terms at 12dp — Spark's
    // partial-agg tree and DuckDB's serial scan produce identical
    // digits. tf-idf is the d20 rational form (tf * N / df —
    // IEEE-exact, no libm log on a hash-compared path).
    //
    // HOT-FEATURE ESCAPE (df > HotDf): a feature's total possible
    // contribution to ANY pair is bounded by its max normalized
    // weight squared, so hot features are dropped from the join
    // GREEDILY BY MEASURED mw^2, only while the cumulative dropped
    // bound stays under 1e-5 — an order of magnitude below the 4dp
    // output rounding. Norms keep full mass; only dot contributions
    // vanish. Genuine boilerplate (tiny weight everywhere, by idf)
    // always qualifies; a corpus where a hot feature CARRIES
    // similarity (mw large) keeps it and pays its df^2 — correctness
    // is never traded. Idle on the gate corpus (max df 25);
    // CosinePairsSpec plants a 1,300-doc stopword corpus to prove it
    // engages without changing one pair. The cumulative-bound window
    // runs on the hot set only — features with >HotDf postings
    // number in the thousands even at 100 TB.
    "d42_cosine_pairs" -> OpDef.sql(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val t = 0.8
        val docs = Tables.documents(s, d)
        val tf = docs
          .select(col("doc_id"), explode(expr("md5_span3_hashes(text)")).as("h"))
          .groupBy("doc_id", "h").agg(count(lit(1)).as("tf"))
        val dfq = tf.groupBy("h").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val wr = tf.join(dfq, "h").crossJoin(broadcast(n))
          .withColumn("wr", (col("tf") * col("n_docs")).cast("double") / col("df"))
        val nrm = wr.groupBy("doc_id")
          .agg(sqrt(sum(round(col("wr") * col("wr") + lit(1e-8), 4)
                          .cast(DecimalType(38, 4))).cast("double")).as("nrm"))
        val w = graft.Caching.persistTracked("d42_w",
          wr.join(nrm, "doc_id")
            .select(col("doc_id"), col("h"), col("df"),
                    (col("wr") / col("nrm")).as("w")))
        // INVARIANT: the partition-less window below sees one row per
        // HOT feature (df > HotDf). A feature's df counts its postings and
        // the dfs sum to |postings| (the rows of `w`), so at most
        // |postings| / (HotDf + 1) features are hot: the single-partition
        // window is bounded by 1/1025 of the postings it was cut from.
        val dropped = w.filter(col("df") > HotDf)
          .groupBy("h").agg(max(col("w") * col("w")).as("mw2"))
          .withColumn("cum", sum(col("mw2")).over(
            Window.orderBy(col("mw2"), col("h"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("cum") <= lit(1e-5))
          .select("h")
        val wj = w.join(dropped, Seq("h"), "left_anti")
          .select(col("doc_id"), col("h"), col("w"))
        wj.toDF("doc_a", "h", "wa")
          .join(wj.toDF("doc_b", "h", "wb"), "h")
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(round(sum(round(col("wa") * col("wb") + lit(1e-12), 12)
                           .cast(DecimalType(38, 12))).cast("double") + lit(1e-8), 4)
                 .as("cos"))
          .filter(col("cos") >= t)
          .orderBy("doc_a", "doc_b")
      },
      """WITH wsx AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2])), 1, 15))::BIGINT AS h
        |  FROM wsx, unnest(generate_series(1, greatest(len(ws) - 2, 0))) t(i)),
        |tf AS (SELECT doc_id, h, CAST(count(*) AS BIGINT) AS tf FROM g GROUP BY 1, 2),
        |dfx AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |wr AS (
        |  SELECT tf.doc_id, tf.h, CAST(tf.tf * n.n_docs AS DOUBLE) / dfx.df AS wr
        |  FROM tf JOIN dfx USING (h), n),
        |nrm AS (
        |  SELECT doc_id,
        |         sqrt(CAST(sum(CAST(round(wr*wr + 1e-8, 4) AS DECIMAL(38,4))) AS DOUBLE)) AS nrm
        |  FROM wr GROUP BY doc_id),
        |w AS (SELECT wr.doc_id, wr.h, wr.wr / nrm.nrm AS w FROM wr JOIN nrm USING (doc_id))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(CAST(sum(CAST(round(a.w * b.w + 1e-12, 12) AS DECIMAL(38,12))) AS DOUBLE) + 1e-8, 4) AS cos
        |FROM w a JOIN w b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING cos >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin),

    // Language-model perplexity scoring — the CCNet-style quality
    // signal d21's rule cascade can't express: train a character-bigram
    // Laplace LM on the high-trust slice (lang='en'), score EVERY
    // document's avg negative log-likelihood under it. Low nll = looks
    // like the reference corpus; a curation pass gates on nll exactly
    // like d33 gates on deciles.
    //
    // SHAPE: train is one corpus scan whose groupBy is map-side
    // combinable down to a charset^2-bounded model (a few thousand rows
    // at ANY corpus size — it rides the closure as sorted long arrays,
    // the d29 discipline); score is a second scan with ONE codegen'd
    // kernel call per row (LmNllMicros — the interpreted HOF fold it
    // replaces ran per character: 274 s at sf10, seconds now), ZERO
    // shuffle besides the output sort. At 100 TB both passes run at
    // scan speed.
    //
    // FLOAT DISCIPLINE (the d42 rule): ln() — the one libm call whose
    // last ulp can differ across engines — runs only at MODEL BUILD,
    // once per distinct (bigram|context) entry, nudged + rounded to 6dp
    // there and stored as EXACT integer micros; the per-document long
    // micro-sum carries the same digits as the oracle's DECIMAL(38,6)
    // sum, immune to any summation order. Docs shorter than 2
    // chars have no bigrams: n_big=0, nll NULL — a visible policy, not
    // a dropped row. HASH-PROVEN: the oracle re-trains the model in SQL
    // and must agree on every document's digits; LmPerplexitySpec pins
    // a hand corpus with arithmetically-known probabilities and the
    // en-vs-other separation the signal exists to provide.
    "d43_lm_perplexity" -> OpDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val m = lmModelMemo(Tables.stamp(d, "documents"))(
          lmModel(docs.filter(col("lang") === "en")))
        lmScore(docs, m).orderBy("doc_id")
      },
      duckD43Sql)
  )
}
