package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.operators.Similarity.E08Model

/** Train-once / probe-many lake persistence for the ANN-family models —
  * the production shape d24's index artifacts established for dedup,
  * applied to the vector side.
  *
  * Why this exists: e03/e08 as GATE entries retrain their centroids
  * inside every run, which is the right demo of the distributed trainer
  * but the wrong production topology — at 100 TB the quantizer is
  * trained once (on a sample), written to the lake, and every
  * subsequent job (today's dedup, tomorrow's intake assignment, any
  * number of searches) READS it. The model is O(sqrt(cells) x dim)
  * floats — two 4096-row matrices (~4 MB) even at a 10^9-vector budget
  * — so reading it is a metadata-sized collect, while the thing it
  * saves (LloydIters x 2 full training passes over the corpus) scales
  * with the data.
  *
  * Layout under a directory `dir`:
  *  - `centroids_l1`  (cell,  vec: array<float>) — k1 rows
  *  - `centroids_l2`  (cell2, vec: array<float>) — k2 rows
  *  - `assignments`   (vec_id, cell, cell2) — the posting table, laid
  *    out partition-per-cell-range and sorted by (cell, cell2, vec_id)
  *    so a cell-targeted probe reads a contiguous, min/max-prunable
  *    slice. At lake scale this is the table to BUCKET on `cell`
  *    (the [[Ingest.writeBucketedEventLake]] discipline) so the dedup
  *    pair-join re-reads it without an Exchange.
  *
  * Int8 lake ([[writeInt8Lake]]): e07's packed production layout —
  *  - `scales`  (pos, mx: double) — Dim rows
  *  - `vectors` (vec_id, qvec: array<tinyint>) — the 4x storage cut
  * Reconstruction ([[readInt8Dequantized]]) shares its arithmetic with
  * the e09 gate entry (Similarity.dequantInt8), so search over the lake
  * is bit-identical to search over the inline quantize.
  *
  * Everything here is float/int-exact through parquet: centroid floats
  * and int8 codes round-trip unchanged, so persisted-model assignment
  * reproduces training-time assignment BIT-FOR-BIT
  * (AnnIndexLakeSpec asserts all of it).
  */
object AnnIndexLake {

  /** Exactly-once batch append for the index insert paths. The bare
    * `appendTo*` forms are BLIND appends — correct for a single clean
    * application, but a retried/replayed intake batch would duplicate
    * rows (and a duplicated posting can surface the same neighbor
    * twice, displacing a legitimate one). Passing a `batchId` routes
    * through here instead:
    *
    *  1. a committed `_graft_append_<batchId>` marker short-circuits —
    *     the batch already landed (replay = no-op);
    *  2. debris from a crashed earlier attempt (files carrying this
    *     batch's name prefix, no marker) is deleted first;
    *  3. the batch stages under an underscore dir (invisible to parquet
    *     readers), its files rename into the table under the
    *     `bt<batchId>_` prefix, and the marker commits LAST —
    *     crash-anywhere + replay converges on exactly one copy.
    *
    * Renames are per-file FileSystem ops (metadata-cheap on HDFS-likes;
    * a copy on bare object stores — the usual committer trade).
    */
  private def appendBatch(s: SparkSession, table: String, batchId: String,
      df: DataFrame): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    require(batchId.matches("[A-Za-z0-9_-]+"),
      s"batchId '$batchId' must be filename-safe")
    val dirP = new HPath(table)
    val fs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new HPath(s"$table/_graft_append_$batchId")
    if (fs.exists(marker)) return
    val prefix = s"bt${batchId}_"
    if (fs.exists(dirP))
      fs.listStatus(dirP).filter(_.getPath.getName.startsWith(prefix))
        .foreach(st => fs.delete(st.getPath, false))
    val tmp = new HPath(s"$table/_graft_stage_$batchId")
    df.write.mode("overwrite").parquet(tmp.toString)
    fs.listStatus(tmp).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(st => fs.rename(st.getPath,
        new HPath(dirP, prefix + st.getPath.getName)))
    fs.delete(tmp, true)
    fs.create(marker, true).close()
  }

  /** Insert-path landing dispatch: `batchId == null` is the documented
    * BLIND append (at-least-once under retries — callers own delivery);
    * a batchId routes through [[appendBatch]]'s exactly-once protocol.
    */
  private def landAppend(s: SparkSession, table: String, batchId: String,
      rows: DataFrame): Unit =
    if (batchId == null) rows.write.mode("append").parquet(table)
    else appendBatch(s, table, batchId, rows)

  // ---- e08 trained-quantizer index ----------------------------------

  /** Train e08's two-level quantizer on `emb`, persist model + posting
    * table under `dir`, return the in-memory model (callers writing and
    * immediately probing skip one read).
    */
  def writeE08Index(s: SparkSession, emb: DataFrame, dir: String): E08Model = {
    val m = Similarity.e08TrainModel(s, emb)
    writeCentroids(s, m.c1, s"$dir/centroids_l1", "cell")
    writeCentroids(s, m.c2, s"$dir/centroids_l2", "cell2")
    Similarity.e08AssignWith(s, m, emb)
      .select("vec_id", "cell", "cell2")
      .repartition(col("cell"))
      .sortWithinPartitions("cell", "cell2", "vec_id")
      .write.mode("overwrite").parquet(s"$dir/assignments")
    m
  }

  private def writeCentroids(s: SparkSession, c: Array[Array[Float]],
      path: String, idName: String): Unit = {
    val sp = s
    import sp.implicits._
    c.zipWithIndex.map { case (a, i) => (i, a.toSeq) }.toSeq
      .toDF(idName, "vec")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The persisted model, collected back to driver arrays (model-sized:
    * k1+k2 rows). Registering/assigning from it is
    * [[Similarity.e08AssignWith]] — no Lloyd jobs.
    */
  def readE08Model(s: SparkSession, dir: String): E08Model = {
    def mat(path: String): Array[Array[Float]] =
      s.read.parquet(path).collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
        .sortBy(_._1).map(_._2)
    val c1 = mat(s"$dir/centroids_l1")
    val c2 = mat(s"$dir/centroids_l2")
    E08Model(c1.length, c2.length, c1, c2)
  }

  /** The posting table (vec_id, cell, cell2). */
  def readE08Assignments(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/assignments")

  /** Insert path for the e08 index: assign `newEmb` under the FROZEN
    * persisted two-level model and append — the [[appendToE03Index]]
    * discipline (cost ∝ new vectors, zero Lloyd jobs; appended rows are
    * bit-identical to a one-pass assignment under the same model,
    * spec-proven, so dedup/probe jobs cannot tell an append happened).
    */
  def appendToE08Index(s: SparkSession, dir: String, newEmb: DataFrame,
      batchId: String = null): Unit =
    landAppend(s, s"$dir/assignments", batchId,
      Similarity.e08AssignWith(s, readE08Model(s, dir), newEmb)
        .select("vec_id", "cell", "cell2")
        .repartition(col("cell"))
        .sortWithinPartitions("cell", "cell2", "vec_id"))

  /** e08's dedup verdicts FROM the persisted index: the posting table
    * joined back to its embeddings (the lake keeps ids, not vector
    * copies), then the same in-cell pair stage the gate runs — zero
    * training jobs, identical survivors (spec-asserted).
    */
  def e08DedupFromIndex(s: SparkSession, dir: String,
      emb: DataFrame): DataFrame = {
    val assigned = graft.Caching.persistTracked("e08_lake_assigned",
      readE08Assignments(s, dir)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select("vec_id", "cell", "cell2", "embedding"))
    Similarity.e08PairStage(assigned)
  }

  // ---- e03 IVF index --------------------------------------------------

  /** Train e03's coarse quantizer (two distributed Lloyd iterations —
    * the model never touches the driver even here: centroids stay a
    * DataFrame end to end) and persist it under `dir`:
    *  - `centroids` (cell, anchor: array<float>) — NumCells rows
    *  - `postings`  (vec_id, cell) — the inverted file, top-2 cells per
    *    vector, partitioned by cell (the lake layout a cell-targeted
    *    probe prunes on)
    */
  def writeE03Index(s: SparkSession, emb: DataFrame, dir: String): Unit = {
    val centroids = graft.Caching.persistTracked("e03_lake_centroids",
      Similarity.e03TrainCentroids(s, emb))
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    Similarity.e03Postings(emb, centroids)
      .select("vec_id", "cell")
      .repartition(col("cell")).sortWithinPartitions("cell", "vec_id")
      .write.mode("overwrite").parquet(s"$dir/postings")
  }

  /** INCREMENTAL index maintenance: assign `newEmb` under the index's
    * FROZEN coarse quantizer and append their postings — the production
    * insert path (you do not retrain the quantizer per intake tick; you
    * retrain on a schedule, which is [[writeE03Index]] again). Cost ∝
    * new vectors: one broadcast-centroid assignment pass, zero Lloyd
    * jobs, zero reads of existing postings. Appended files land
    * cell-partitioned + sorted like the originals, so probe pruning is
    * unchanged. The contract (AnnIndexLakeSpec): the grown index's
    * postings and probe results are IDENTICAL to assigning the whole
    * corpus under the same centroids in one pass — an append is
    * invisible to search, recall drift comes only from the quantizer
    * aging (a measured, scheduled concern, not a correctness one).
    */
  def appendToE03Index(s: SparkSession, dir: String, newEmb: DataFrame,
      batchId: String = null): Unit = {
    val centroids = graft.Caching.persistTracked(s"e03_append_$dir",
      s.read.parquet(s"$dir/centroids"))
    landAppend(s, s"$dir/postings", batchId,
      Similarity.e03Postings(newEmb, centroids)
        .select("vec_id", "cell")
        .repartition(col("cell")).sortWithinPartitions("cell", "vec_id"))
  }

  /** Train-once entry point for the e03 gate: the index for corpus `d`
    * is written at most once per corpus CONTENT stamp (a `_graft_stamp`
    * marker, committed only AFTER the index lands, so a crash mid-write
    * retrains) and every later call in this JVM — bench reps, repeated
    * gate runs — goes straight to [[e03SearchFromIndex]] with ZERO Lloyd
    * jobs. (Lake.scratch embeds a per-process token precisely so
    * concurrent JVMs never race each other's Overwrite, which also means
    * each JVM trains its own copy; a production deployment points this
    * at a DURABLE lake path instead, where the stamp marker alone
    * arbitrates staleness.) This is the same
    * production topology e08/e10 already run: training is a corpus-build
    * step, search is a read.
    */
  def ensureE03Index(s: SparkSession, d: String, emb: DataFrame): String =
    ensureStamped(s, "e03idx", d)(dir => writeE03Index(s, emb, dir))

  /** IVF search over the persisted index: centroids and postings read
    * from the lake (postings re-joined to their embeddings by id — the
    * lake keeps ids, not vector copies), probe-side plan identical to
    * the gate's, ZERO Lloyd jobs.
    */
  def e03SearchFromIndex(s: SparkSession, dir: String, emb: DataFrame,
      queries: DataFrame, k: Int = Similarity.TopK): DataFrame = {
    val centroids = s.read.parquet(s"$dir/centroids")
    val postings = s.read.parquet(s"$dir/postings")
      .join(emb.select("vec_id", "embedding"), "vec_id")
      .select("vec_id", "embedding", "cell")
    Similarity.e03Search(s, postings, centroids, queries, k)
  }

  // ---- int8 vector lake ----------------------------------------------

  /** Quantize `emb` per e07 and persist the packed layout. */
  def writeInt8Lake(s: SparkSession, emb: DataFrame, dir: String): Unit = {
    val ex = emb.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("pos", "v")))
    val dims = ex.groupBy("pos")
      .agg(max(abs(col("v").cast("double"))).as("mx"))
    dims.coalesce(1).write.mode("overwrite").parquet(s"$dir/scales")
    ex.join(broadcast(dims), "pos")
      .withColumn("q", Similarity.quantInt8(col("v"), col("mx")))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(named_struct(" +
                "'p', pos, 'v', q))), x -> CAST(x.v AS tinyint))").as("qvec"))
      .write.mode("overwrite").parquet(s"$dir/vectors")
  }

  /** Insert path for the int8 lake: quantize `newEmb` under the FROZEN
    * per-dimension scales and append. A frozen scale cannot represent a
    * new value beyond it, so out-of-scale components CLAMP to ±127 —
    * loud refusal is the wrong trade here (one outlier dimension would
    * block a whole intake batch) and silent wraparound the worst (ANSI
    * tinyint cast would throw anyway); the clamp bounds the per-value
    * reconstruction error at |v| - mx, it is pinned by spec, and like
    * quantizer aging everywhere else in this lake the scheduled fix is
    * a re-quantize ([[writeInt8Lake]] again). In-scale appends are
    * bit-identical to one-pass quantization under the same scales.
    */
  def appendToInt8Lake(s: SparkSession, dir: String, newEmb: DataFrame,
      batchId: String = null): Unit = {
    val scales = s.read.parquet(s"$dir/scales")
    landAppend(s, s"$dir/vectors", batchId,
      newEmb.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .join(broadcast(scales), "pos")
        .withColumn("q", least(greatest(
          Similarity.quantInt8(col("v"), col("mx")), lit(-127)), lit(127)))
        .groupBy("vec_id")
        .agg(expr("transform(array_sort(collect_list(named_struct(" +
                  "'p', pos, 'v', q))), x -> CAST(x.v AS tinyint))").as("qvec")))
  }

  /** The dequantized corpus (vec_id, dvec) reconstructed from the lake —
    * same arithmetic as the inline path, so [[Similarity.knnInt8Search]]
    * over it returns the e09 gate result exactly.
    */
  def readInt8Dequantized(s: SparkSession, dir: String): DataFrame = {
    val scales = s.read.parquet(s"$dir/scales")
    s.read.parquet(s"$dir/vectors")
      .select(col("vec_id"), posexplode(col("qvec")).as(Seq("pos", "q")))
      .join(broadcast(scales), "pos")
      .withColumn("dv", Similarity.dequantInt8(col("q").cast("int"), col("mx")))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(named_struct(" +
                "'p', pos, 'v', dv))), x -> x.v)").as("dvec"))
  }

  // ---- e11 PQ index --------------------------------------------------

  /** Train e11's PQ model on `emb`, persist sub-codebooks + code table
    * under `dir`, return the model. Layout:
    *  - `codebooks` (sub, cell, vec: array<float>) — M*K rows (~4 KB)
    *  - `codes`     (vec_id, code0..code{M-1}, recon_n2) — the 16 B/row
    *    production table ADC search scans INSTEAD of the float corpus
    * Floats round-trip parquet unchanged, so a model read back encodes
    * and searches bit-identically (spec-asserted).
    */
  def writePqIndex(s: SparkSession, emb: DataFrame,
      dir: String): Similarity.PqModel = {
    val sp = s
    import sp.implicits._
    val m = Similarity.pqTrain(emb)
    m.books.zipWithIndex.flatMap { case (book, i) =>
      book.zipWithIndex.map { case (c, j) => (i, j, c.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    Similarity.pqEncode(m, emb)
      .write.mode("overwrite").parquet(s"$dir/codes")
    m
  }

  /** Insert path for the PQ index: encode `newEmb` under the FROZEN
    * persisted sub-codebooks and append to the code table — appended
    * codes are bit-identical to a one-pass encode under the same model
    * (spec-proven), so ADC search cannot tell an append happened;
    * recall drift is codebook aging, fixed on a schedule by retraining
    * ([[writePqIndex]] again).
    */
  def appendToPqIndex(s: SparkSession, dir: String, newEmb: DataFrame,
      batchId: String = null): Unit =
    landAppend(s, s"$dir/codes", batchId,
      Similarity.pqEncode(readPqModel(s, dir), newEmb))

  /** The persisted PQ model, collected back (M*K rows — metadata). */
  def readPqModel(s: SparkSession, dir: String): Similarity.PqModel = {
    val rows = s.read.parquet(s"$dir/codebooks").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Float](2).toArray))
      .toMap
    val mM = rows.keys.map(_._1).max + 1
    val k = rows.keys.map(_._2).max + 1
    val books = Array.tabulate(mM, k)((i, j) => rows((i, j)))
    Similarity.PqModel(mM, k, books(0)(0).length, books,
      s.read.parquet(s"$dir/codes").count())
  }

  /** e11's two-stage search FROM the persisted index: the ADC stage
    * scans the 16 B/row code table, the refine stage point-fetches the
    * shortlist from the float lake — zero training jobs.
    */
  def pqSearchFromIndex(s: SparkSession, dir: String, emb: DataFrame,
      queries: DataFrame, k: Int = Similarity.TopK): DataFrame =
    Similarity.pqSearch(s, readPqModel(s, dir),
      s.read.parquet(s"$dir/codes"), emb, queries, k)

  /** An index dir under the [[graft.operators.Lake.scratch]] root,
    * (re)built by `build` at most once per corpus CONTENT stamp — the
    * `_graft_stamp` marker commits only AFTER the build, so a crash
    * mid-write rebuilds. The e03/e08 train-once discipline, factored.
    * Marker IO routes through the Hadoop FileSystem resolved from the
    * index dir's own URI (the GraftTable discipline), so pointing the
    * scratch root at a durable lake scheme needs no code change.
    */
  private def ensureStamped(s: SparkSession, tag: String, d: String)
      (build: String => Unit): String = {
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = graft.operators.Lake.scratch(tag, d)
    val stamp = Tables.stamp(d, "embeddings")
    val marker = new HPath(s"$dir/_graft_stamp")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    val current = fs.exists(marker) && {
      val in = fs.open(marker)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        new String(out.toByteArray, "UTF-8") == stamp
      } finally in.close()
    }
    if (!current) {
      build(dir)
      val out = fs.create(marker, true)
      try out.write(stamp.getBytes("UTF-8")) finally out.close()
    }
    dir
  }

  /** Train-once entry point for the e11 PQ index (codebooks + code
    * table), per corpus content stamp.
    */
  def ensurePqIndex(s: SparkSession, d: String, emb: DataFrame): String =
    ensureStamped(s, "e11idx", d)(dir => { writePqIndex(s, emb, dir); () })

  // ---- e02 LSH index ---------------------------------------------------

  /** Persist e02's banded sign-code table:
    *  - `meta`  (bits, corpus_n) — one row: the band width the ladder
    *    picked at build time, FROZEN (appends and probes code at this
    *    width even after the corpus outgrows the next rung — width
    *    migration is a scheduled rebuild, like every quantizer here)
    *  - `codes` (vec_id, band, bcode) — NumDupBands rows per vector,
    *    band-partitioned + bcode-sorted so a probe's bucket join reads
    *    contiguous min/max-prunable slices
    * The planes are data-oblivious (a fixed deterministic family), so
    * unlike e03/e08/e11 there is no trained model to round-trip: the
    * artifact IS the derivation's output, and reuse skips exactly the
    * corpus-sized sign-coding pass.
    */
  def writeLshIndex(s: SparkSession, emb: DataFrame, dir: String): Unit = {
    val sp = s
    import sp.implicits._
    val n = emb.count()
    val bits = Similarity.bandBits(n, Similarity.E02TargetBucket)
    Seq((bits, n)).toDF("bits", "corpus_n")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    Similarity.bandedCodes(emb, fixedBits = Some(bits))
      .select("vec_id", "band", "bcode")
      .repartition(col("band")).sortWithinPartitions("band", "bcode")
      .write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** The frozen band width the index was built at. */
  def readLshBits(s: SparkSession, dir: String): Int =
    s.read.parquet(s"$dir/meta").select("bits").head().getInt(0)

  /** Insert path for the LSH index: code `newEmb` at the FROZEN width
    * and append. The code of a vector is a pure function of (vector,
    * plane family, width), so appended rows are bit-identical to a
    * one-pass build at the same width — appends are invisible to
    * search by construction (spec-pinned); what ages is the WIDTH
    * (bucket density drifts up as the corpus grows), fixed by a
    * scheduled [[writeLshIndex]] rebuild.
    */
  def appendToLshIndex(s: SparkSession, dir: String, newEmb: DataFrame,
      batchId: String = null): Unit =
    landAppend(s, s"$dir/codes", batchId,
      Similarity.bandedCodes(newEmb,
          fixedBits = Some(readLshBits(s, dir)))
        .select("vec_id", "band", "bcode")
        .repartition(col("band")).sortWithinPartitions("band", "bcode"))

  /** Build-once entry point for the LSH code table, per corpus content
    * stamp — the last tier to gain the train-once/probe-many
    * discipline.
    */
  def ensureLshIndex(s: SparkSession, d: String, emb: DataFrame): String =
    ensureStamped(s, "e02idx", d)(dir => writeLshIndex(s, emb, dir))

  /** e02's multiprobe search FROM the persisted code table: the corpus
    * side is a parquet scan of `codes` (zero corpus-sized sign-coding
    * jobs — only the query handful is coded, at the frozen width);
    * probe stage and exact re-rank identical to the gate's
    * ([[Similarity.lshProbeStage]]), so results reproduce the inline
    * search exactly (spec-asserted).
    */
  def e02LshSearchFromIndex(s: SparkSession, dir: String, emb: DataFrame,
      queries: DataFrame, k: Int = Similarity.TopK): DataFrame = {
    val bits = readLshBits(s, dir)
    val qCodes = Similarity.bandedCodes(
      queries.select(col("q_id").as("vec_id"), col("q_vec").as("embedding")),
      fixedBits = Some(bits))
    Similarity.lshProbeStage(s, s.read.parquet(s"$dir/codes"),
      qCodes, emb, queries, k)
  }

  // ---- e13/e14 cascade sketch artifact --------------------------------

  /** Persist the e13/e14 int8 cascade sketch as a lake artifact:
    * (vec_id, label, dx, dn, rx) — every corpus column EXCEPT the float
    * embedding. This realizes the cascade's IO story: the stored table
    * the exact tiers SCAN physically lacks the 256 B vector column (no
    * reader of this artifact can pay for it, pruned or not); float
    * vectors are point-fetched from the embeddings lake for bound
    * survivors only ([[graft.operators.Similarity.cascadeKnnSearch]]).
    * vec_id-range layout keeps the survivor id-join's fetch side
    * min/max-prunable.
    */
  def writeCascadeSketch(s: SparkSession, emb: DataFrame,
      dir: String): Unit =
    Similarity.int8CascadeSketch(emb).drop("embedding")
      .repartitionByRange(8, col("vec_id"))
      .sortWithinPartitions("vec_id")
      .write.mode("overwrite").parquet(s"$dir/sketch")

  /** Insert path for the cascade sketch: sketch `newEmb` and append.
    * The sketch is a PER-ROW pure function (no trained model at all —
    * per-vector scale, code, residual norm), so an appended row is
    * bit-identical to the row a full rebuild would produce, and the
    * exactness proof is untouched: appends are invisible to search by
    * construction, with no quantizer-aging caveat (spec-pinned in
    * AnnIndexLakeSpec).
    */
  def appendToCascadeSketch(s: SparkSession, dir: String,
      newEmb: DataFrame, batchId: String = null): Unit =
    landAppend(s, s"$dir/sketch", batchId,
      Similarity.int8CascadeSketch(newEmb).drop("embedding")
        .sortWithinPartitions("vec_id"))

  /** The persisted sketch table (no embedding column — by layout). */
  def readCascadeSketch(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/sketch")

  /** Build-once entry point for the cascade sketch, per corpus content
    * stamp.
    */
  def ensureCascadeSketch(s: SparkSession, d: String,
      emb: DataFrame): String =
    ensureStamped(s, "cascadesk", d)(dir => writeCascadeSketch(s, emb, dir))

  /** The warm cascade sketch for corpus `d`: artifact ensured per
    * content stamp, read back, and memoized PER STAMP — a corpus whose
    * content changes mid-session gets a fresh key, so a long-lived
    * search service can never answer from a stale cached sketch while
    * "brute" reads fresh data (the r15 tier-contract hazard).
    */
  private[graft] def cascadeSketch(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val dir = ensureCascadeSketch(s, d, emb)
    graft.Caching.persistTrackedReuse(
      s"cascade_sk_${Tables.stamp(d, "embeddings")}",
      readCascadeSketch(s, dir))
  }

  /** Write-once entry point for the e07/e09 int8 vector lake (scales +
    * packed codes), per corpus content stamp.
    */
  def ensureInt8Lake(s: SparkSession, d: String, emb: DataFrame): String =
    ensureStamped(s, "int8lake", d)(dir => writeInt8Lake(s, emb, dir))

  /** e12's IVFPQ search, COMPOSED from the two persisted artifacts the
    * family already maintains: the e03 coarse index (centroids + cell
    * postings) and the e11 PQ index (codebooks + code table). The
    * cell-tagged code table is their id join — in a production lake
    * it's written that way at build time (cell and codes land in one
    * pass over the corpus); the model/centroid reads are metadata.
    * Zero training jobs when both indexes are current.
    */
  def ivfPqSearch(s: SparkSession, d: String, emb: DataFrame,
      queries: DataFrame, k: Int = Similarity.TopK): DataFrame = {
    val e03Dir = ensureE03Index(s, d, emb)
    val pqDir = ensurePqIndex(s, d, emb)
    val m = readPqModel(s, pqDir)
    val cellCodes = s.read.parquet(s"$e03Dir/postings")
      .select("vec_id", "cell")
      .join(s.read.parquet(s"$pqDir/codes"), "vec_id")
    Similarity.pqRefine(
      Similarity.ivfPqShortlist(s, m, cellCodes,
        s.read.parquet(s"$e03Dir/centroids"), queries),
      emb, queries, k)
  }

  // ---- the unified search facade --------------------------------------

  /** The tier table, for error messages and the spec's sweep. "exact"
    * is the int8-cascade exact tier — brute force's answer (provably,
    * not approximately) while float-scoring only bound-admitted
    * survivors; it is also the kernel [[searchWhere]] filters.
    */
  val SearchTiers: Seq[String] =
    Seq("brute", "exact", "lsh", "ivf", "int8", "pq", "ivfpq")

  /** ONE user-facing entry point over the whole ANN family — the five
    * approximate tiers plus the exact baseline stop being gate-shaped
    * (`vec_id < NumQueries`) and take the caller's OWN query frame:
    *
    *   AnnIndexLake.search(s, d, queries, "ivfpq", k = 20)
    *
    * `queries` carries (q_id: long, q_vec: array<float> — the corpus
    * embedding element type). Output is e01's shape: (q_id, rk,
    * neighbor_id, sim), rk 1..k by descending rounded cosine with
    * neighbor-id tie-break. Query ids share the corpus id space: a
    * query whose id equals a corpus vector's excludes that one vector
    * (self-match exclusion — what the gate entries rely on); disjoint
    * ids (e.g. negatives) exclude nothing.
    *
    * Tier guide (measured at sf10 — bench/BENCH_ann_tiers_r14.json):
    * "brute" exact, reads the whole corpus per query batch; "lsh"
    * data-oblivious (no TRAINING — the planes are a fixed family; the
    * code table itself is a persisted artifact like every other tier,
    * probed without re-coding the corpus), recall ~0.84; "ivf" trained
    * coarse cells, recall ~0.9; "int8" exact-shape scan over the
    * 4x-compressed lake; "pq" 16x-compressed ADC scan + exact refine,
    * recall ~1.0 at gate scale but reads EVERY code row — right for
    * tiny corpora or when no coarse quantizer is trainable; "ivfpq"
    * the production default — PQ's compression under IVF's pruning
    * (reads ~NProbe/NumCells of the code table), recall ~0.94.
    *
    * Index artifacts build lazily, at most once per corpus content
    * stamp (the train-once discipline); every later call is a pure
    * probe with zero training jobs.
    */
  def search(s: SparkSession, d: String, queries: DataFrame,
      tier: String, k: Int = Similarity.TopK): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val q = queries.select(col("q_id").cast("long").as("q_id"),
      col("q_vec"))
    tier match {
      case "brute" => Similarity.knnBruteSearch(s, emb, q, k)
      case "exact" =>
        Similarity.cascadeKnnSearch(s, cascadeSketch(s, d),
          Similarity.cascadeQuerySketch(q), emb, k)
      case "lsh" =>
        e02LshSearchFromIndex(s, ensureLshIndex(s, d, emb), emb, q, k)
      case "ivf" =>
        e03SearchFromIndex(s, ensureE03Index(s, d, emb), emb, q, k)
      case "int8" =>
        Similarity.knnInt8Search(s,
          readInt8Dequantized(s, ensureInt8Lake(s, d, emb)), q, k)
      case "pq" =>
        pqSearchFromIndex(s, ensurePqIndex(s, d, emb), emb, q, k)
      case "ivfpq" => ivfPqSearch(s, d, emb, q, k)
      case other => throw new IllegalArgumentException(
        s"unknown ANN tier '$other' — expected one of " +
          SearchTiers.mkString("[", ", ", "]"))
    }
  }

  /** FILTERED exact top-k — [[search]]'s missing axis, and the search
    * shape every production vector store grew: "the k nearest
    * neighbors among the vectors WHERE <predicate>". The predicate
    * ranges over the corpus columns (label, vec_id — any attribute the
    * embeddings table carries) and prunes the CORPUS side BEFORE
    * ranking (pre-filtering — the only plan that guarantees k
    * survivors; post-filtering an approximate top-k' cannot). Ranking
    * is the e14 cascade: exact by arithmetic, float-scoring only
    * bound-admitted rows, so the filtered scan reads the sketch (~80 B/
    * row packed int8 in production; array<float> dx in the gate
    * artifact), not the float vectors (int8CascadeSketch's scaladoc). Returns
    * e01's shape; fewer than k rows for a query mean the predicate
    * admits fewer than k vectors, not recall loss. AnnSearchApiSpec proves verdict
    * identity with a filtered brute force across predicates and hand
    * queries.
    */
  def searchWhere(s: SparkSession, d: String, queries: DataFrame,
      predicate: org.apache.spark.sql.Column,
      k: Int = Similarity.TopK): DataFrame = {
    val q = queries.select(col("q_id").cast("long").as("q_id"),
      col("q_vec"))
    Similarity.cascadeKnnSearch(s, cascadeSketch(s, d).filter(predicate),
      Similarity.cascadeQuerySketch(q),
      Tables.embeddings(s, d).select("vec_id", "embedding"), k)
  }
}
