package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.{AnnIndexLake, Tables}

/** The train-once/probe-many contract for the persisted ANN artifacts:
  *
  *  - the e08 model round-trips the lake bit-exactly (float centroids
  *    unchanged), so assignment from the persisted model reproduces the
  *    persisted posting table row-for-row;
  *  - the probe side runs NO Lloyd: its Spark job count is a fraction
  *    of the training side's, measured via job groups in the same
  *    session;
  *  - dedup verdicts computed from the lake (posting table joined back
  *    to embeddings, pair stage only) equal the verdicts the same model
  *    yields inline;
  *  - the int8 lake reconstructs the e09 dequantized corpus exactly,
  *    and search over it returns the e09 gate result row-for-row.
  */
class AnnIndexLakeSpec extends AnyFunSuite with SparkFixture {

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString

  private def countJobs(group: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  test("e08 index: model round-trips, probe reproduces postings with no Lloyd") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tmpDir("e08idx")
    var written: Similarity.E08Model = null
    val trainJobs = countJobs("e08_train") {
      written = AnnIndexLake.writeE08Index(spark, emb, dir)
    }
    val m = AnnIndexLake.readE08Model(spark, dir)
    assert(m.k1 == written.k1 && m.k2 == written.k2)
    assert(m.c1.map(_.toSeq).toSeq == written.c1.map(_.toSeq).toSeq,
      "level-1 centroids changed through the lake")
    assert(m.c2.map(_.toSeq).toSeq == written.c2.map(_.toSeq).toSeq,
      "level-2 centroids changed through the lake")

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getInt(2))
    var persisted: Set[(Long, Int, Int)] = null
    var reassigned: Set[(Long, Int, Int)] = null
    val probeJobs = countJobs("e08_probe") {
      persisted = AnnIndexLake.readE08Assignments(spark, dir)
        .select("vec_id", "cell", "cell2").collect().map(key).toSet
      reassigned = Similarity.e08AssignWith(spark, m, emb)
        .select("vec_id", "cell", "cell2").collect().map(key).toSet
    }
    assert(persisted == reassigned,
      "persisted-model assignment diverged from the persisted posting table")
    assert(persisted.nonEmpty)
    // no Lloyd on the probe side: training pays LloydIters x 2 collect
    // rounds plus the sample/assignment passes; the probe is two scans
    assert(probeJobs < trainJobs,
      s"probe ran $probeJobs jobs vs $trainJobs for training")
  }

  test("e08 dedup from the persisted index equals the same model inline") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tmpDir("e08dedup")
    AnnIndexLake.writeE08Index(spark, emb, dir)
    val m = AnnIndexLake.readE08Model(spark, dir)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getInt(2))
    val fromLake = AnnIndexLake.e08DedupFromIndex(spark, dir, emb)
      .collect().map(key).toSeq
    val inline = Similarity.e08PairStage(
        Similarity.e08AssignWith(spark, m, emb))
      .collect().map(key).toSeq
    assert(fromLake == inline, "lake dedup diverged from inline dedup")
    assert(fromLake.nonEmpty)
    assert(fromLake.size < emb.count(), "lake dedup dropped nothing")
  }

  test("e03 search from the persisted IVF index equals same-centroid inline search, no Lloyd") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tmpDir("e03idx")
    AnnIndexLake.writeE03Index(spark, emb, dir)
    val queries = emb.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val lakeSearch = AnnIndexLake.e03SearchFromIndex(spark, dir, emb, queries)
    val fromLake = lakeSearch.collect().map(_.toSeq).toSeq
    // inline search under the SAME persisted centroids (retraining would
    // give float-avg-order-different centroids; the lake's premise is
    // that the model is fixed)
    val centroids = spark.read.parquet(s"$dir/centroids")
    val inline = Similarity.e03Search(spark,
        Similarity.e03Postings(emb, centroids), centroids, queries)
      .collect().map(_.toSeq).toSeq
    assert(fromLake == inline, "lake-backed IVF search diverged")
    assert(fromLake.nonEmpty)
    // "no Lloyd on the probe side" is STRUCTURAL here: e03's training is
    // one declarative query (job counts can't separate it), but its mean
    // aggregation carries a collect_list signature the probe plan must
    // not contain — the lake plan's centroid side must be a parquet scan
    val lakePlan = lakeSearch.queryExecution.optimizedPlan.toString
    assert(!lakePlan.contains("collect_list"),
      "probe plan contains the Lloyd mean aggregate (retraining)")
    val trainPlan = Similarity.e03TrainCentroids(spark, emb)
      .queryExecution.optimizedPlan.toString
    assert(trainPlan.contains("collect_list"),
      "sentinel: the Lloyd signature moved; update this assert")
  }

  test("e03 append: frozen-quantizer inserts are invisible to search") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tmpDir("e03app")
    AnnIndexLake.writeE03Index(spark, emb.filter(col("vec_id") >= 100), dir)
    AnnIndexLake.appendToE03Index(spark, dir,
      emb.filter(col("vec_id") < 100))

    // grown postings == one-pass assignment of the WHOLE corpus under
    // the same frozen centroids — the append is pure insertion
    val centroids = spark.read.parquet(s"$dir/centroids")
    val grown = spark.read.parquet(s"$dir/postings")
      .collect().map(_.toSeq).toSet
    val onePass = Similarity.e03Postings(emb, centroids)
      .select("vec_id", "cell").collect().map(_.toSeq).toSet
    assert(grown == onePass, "append diverged from one-pass assignment")

    // and probing the grown index answers exactly like the one-pass one
    val queries = emb.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val fromGrown = AnnIndexLake.e03SearchFromIndex(spark, dir, emb, queries)
      .collect().map(_.toSeq).toSeq
    assert(fromGrown.nonEmpty)
    assert(fromGrown ==
      Similarity.e03Search(spark, Similarity.e03Postings(emb, centroids),
        centroids, queries).collect().map(_.toSeq).toSeq,
      "search over the grown index diverged")

    // the insert path never retrains: its assignment plan must not
    // carry the Lloyd mean aggregate (the structural no-Lloyd assert)
    val appendPlan = Similarity.e03Postings(
        emb.filter(col("vec_id") < 100), centroids)
      .queryExecution.optimizedPlan.toString
    assert(!appendPlan.contains("collect_list"),
      "append plan contains the Lloyd mean aggregate (retraining)")
  }

  test("e08/pq/int8 indexes take frozen-model appends invisible to probes") {
    val emb = Tables.embeddings(spark, sfDir)
    val old = emb.filter(col("vec_id") >= 100)
    val neu = emb.filter(col("vec_id") < 100)

    // e08: grown assignments == one-pass assignment under the read-back
    // (parquet round-tripped) model
    val d8 = tmpDir("e08app")
    AnnIndexLake.writeE08Index(spark, old, d8)
    AnnIndexLake.appendToE08Index(spark, d8, neu)
    assert(AnnIndexLake.readE08Assignments(spark, d8)
        .collect().map(_.toSeq).toSet ==
      Similarity.e08AssignWith(spark,
          AnnIndexLake.readE08Model(spark, d8), emb)
        .select("vec_id", "cell", "cell2")
        .collect().map(_.toSeq).toSet,
      "e08 append diverged from one-pass assignment")

    // pq: grown code table == one-pass encode under the same codebooks
    val dp = tmpDir("pqapp")
    AnnIndexLake.writePqIndex(spark, old, dp)
    AnnIndexLake.appendToPqIndex(spark, dp, neu)
    assert(spark.read.parquet(s"$dp/codes")
        .collect().map(_.toSeq).toSet ==
      Similarity.pqEncode(AnnIndexLake.readPqModel(spark, dp), emb)
        .collect().map(_.toSeq).toSet,
      "pq append diverged from one-pass encode")

    // int8: appended rows round-trip within the frozen quantization
    // step; values beyond a frozen scale clamp to it exactly
    val di = tmpDir("i8app")
    AnnIndexLake.writeInt8Lake(spark, old, di)
    AnnIndexLake.appendToInt8Lake(spark, di, neu)
    val boosted = old.limit(1).select(lit(999999L).as("vec_id"),
      expr("transform(embedding, x -> CAST(x * 3.0 AS float))")
        .as("embedding"))
    AnnIndexLake.appendToInt8Lake(spark, di, boosted)
    val scales = spark.read.parquet(s"$di/scales").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val deq = AnnIndexLake.readInt8Dequantized(spark, di)
    assert(deq.count() == emb.count() + 1)
    val got = deq.filter(col("vec_id") < 100 || col("vec_id") === 999999L)
      .select(col("vec_id"), posexplode(col("dvec")).as(Seq("pos", "d")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getFloat(2))
      .toMap
    val want = neu.select("vec_id", "embedding").unionByName(boosted)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getFloat(2))
    var clamped = 0
    want.foreach { case ((id, pos), v) =>
      val mx = scales(pos)
      val d = got((id, pos))
      if (math.abs(v) <= mx)
        assert(math.abs(d - v) <= mx / 127 + 1e-6,
          s"in-scale value $v at ($id, $pos) dequantized to $d")
      else {
        assert(math.abs(d - math.signum(v) * mx) <= 1e-6,
          s"out-of-scale value $v at ($id, $pos) should clamp to ±$mx, got $d")
        clamped += 1
      }
    }
    assert(clamped > 0, "no out-of-scale value exercised the clamp leg")
  }

  test("e03 gate trains once per corpus stamp; repeat runs are pure index reads") {
    val emb = Tables.embeddings(spark, sfDir)
    // first ensure call may write; once the stamp marker matches, a
    // repeat ensure must neither retrain nor rewrite the index
    val dir = AnnIndexLake.ensureE03Index(spark, sfDir, emb)
    val centroidsDir = java.nio.file.Paths.get(dir, "centroids")
    val before = java.nio.file.Files.getLastModifiedTime(centroidsDir)
    val reuseJobs = countJobs("e03_reuse") {
      assert(AnnIndexLake.ensureE03Index(spark, sfDir, emb) == dir)
    }
    assert(reuseJobs == 0, s"a current index must cost zero jobs to ensure, ran $reuseJobs")
    assert(java.nio.file.Files.getLastModifiedTime(centroidsDir) == before,
      "a current index must not be rewritten")
    // and the gate entry's own result is stable across the reuse
    val r1 = SparkEntry.queries("e03_ann_ivf")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val r2 = SparkEntry.queries("e03_ann_ivf")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(r1 == r2 && r1.nonEmpty)
  }

  test("e08/e10/s14 share one trained model per corpus (no Lloyd on reuse)") {
    // first calls may train (or hit an earlier test's memo); once warm,
    // every consumer of the same corpus must assign under the cached
    // model with zero Lloyd trainings
    SparkEntry.queries("e08_semantic_dedup_trained")(spark, sfDir).collect()
    SparkEntry.queries("e10_incremental_semdedup")(spark, sfDir).collect()
    val before = Similarity.lloydRuns.get()
    val r1 = SparkEntry.queries("e08_semantic_dedup_trained")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val r2 = SparkEntry.queries("e10_incremental_semdedup")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(Similarity.lloydRuns.get() == before,
      "warm-corpus gate runs must not retrain the quantizer")
    assert(r1.nonEmpty && r2.nonEmpty)
  }

  test("int8 lake reconstructs the dequantized corpus exactly") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tmpDir("int8")
    AnnIndexLake.writeInt8Lake(spark, emb, dir)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val inline = key(Similarity.int8Dequantized(emb))
    val lake = key(AnnIndexLake.readInt8Dequantized(spark, dir))
    assert(lake.keySet == inline.keySet)
    val diverged = inline.collect {
      case (id, v) if lake(id) != v => id
    }
    assert(diverged.isEmpty,
      s"${diverged.size} vectors reconstruct differently; first: ${diverged.headOption}")
  }

  test("e09 search over the int8 lake returns the gate result row-for-row") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tmpDir("int8knn")
    AnnIndexLake.writeInt8Lake(spark, emb, dir)
    val queries = emb.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val overLake = Similarity.knnInt8Search(spark,
        AnnIndexLake.readInt8Dequantized(spark, dir), queries)
      .collect().map(_.toSeq).toSeq
    val gate = SparkEntry.queries("e09_knn_int8")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(overLake == gate, "lake-backed e09 diverged from the gate entry")
    assert(overLake.nonEmpty)
  }

  test("e11 PQ index round-trips; lake-backed search = gate, no Lloyd") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tmpDir("pq")
    val trained = AnnIndexLake.writePqIndex(spark, emb, dir)
    val read = AnnIndexLake.readPqModel(spark, dir)
    assert(read.m == trained.m && read.k == trained.k &&
           read.sub == trained.sub)
    for (i <- 0 until trained.m; j <- 0 until trained.k)
      assert(read.books(i)(j).toSeq == trained.books(i)(j).toSeq,
        s"codebook ($i, $j) drifted through parquet")
    val queries = emb.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val before = Similarity.lloydRuns.get()
    val overLake = AnnIndexLake.pqSearchFromIndex(spark, dir,
        emb.select("vec_id", "embedding"), queries)
      .collect().map(_.toSeq).toSeq
    assert(Similarity.lloydRuns.get() == before,
      "searching a persisted PQ index must run zero Lloyd jobs")
    // identity vs the SAME model searched in memory (the write-path
    // model): codes + shortlist + re-rank must survive the round trip
    val inMem = Similarity.pqSearch(spark, trained,
        Similarity.pqEncode(trained, emb),
        emb.select("vec_id", "embedding"), queries)
      .collect().map(_.toSeq).toSeq
    assert(overLake == inMem, "lake-backed e11 diverged from in-memory")
    assert(overLake.nonEmpty)
  }

  test("LSH index: probe-only reuse, frozen-width appends invisible") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

    // append invisibility: build on part, append the rest at the FROZEN
    // width — grown code table == one-pass build over the whole corpus
    val dir = tmpDir("lshidx")
    AnnIndexLake.writeLshIndex(spark, emb.filter(col("vec_id") >= 100), dir)
    val bits = AnnIndexLake.readLshBits(spark, dir)
    AnnIndexLake.appendToLshIndex(spark, dir, emb.filter(col("vec_id") < 100))
    val grown = spark.read.parquet(s"$dir/codes")
      .collect().map(_.toSeq).toSet
    val onePass = Similarity.bandedCodes(emb, fixedBits = Some(bits))
      .select("vec_id", "band", "bcode").collect().map(_.toSeq).toSet
    assert(grown == onePass, "LSH append diverged from a one-pass build")

    // search over the grown index == the inline gate search, row for row
    // (the partial build froze the same ladder width the full corpus
    // picks here, so the comparison is exact; assert that premise too)
    assert(bits == Similarity.bandBits(emb.count(),
      Similarity.E02TargetBucket), "width rung moved; comparison vacuous")
    val fromIndex = AnnIndexLake.e02LshSearchFromIndex(spark, dir,
        emb.select("vec_id", "embedding"), queries)
      .collect().map(_.toSeq).toSeq
    val inline = Similarity.e02LshSearch(spark,
        emb.select("vec_id", "embedding"), queries)
      .collect().map(_.toSeq).toSeq
    assert(fromIndex.nonEmpty && fromIndex == inline,
      "index-backed LSH search diverged from the inline gate plan")

    // probe-only reuse: the index-backed plan scans the code table and
    // sign-codes ONLY the query handful — strictly fewer sign-code
    // expressions than the inline plan, which codes the corpus too
    def signCodes(df: org.apache.spark.sql.DataFrame): Int =
      """sign_code\(""".r.findAllIn(
        df.queryExecution.optimizedPlan.toString).length
    val idxPlan = AnnIndexLake.e02LshSearchFromIndex(spark, dir,
      emb.select("vec_id", "embedding"), queries)
    assert(idxPlan.inputFiles.exists(_.contains("/codes/")),
      "index-backed search never scans the persisted code table")
    assert(signCodes(idxPlan) < signCodes(Similarity.e02LshSearch(spark,
        emb.select("vec_id", "embedding"), queries)),
      "index-backed search still derives corpus codes in-plan")

    // ensure: the stamped build writes once; a second call leaves every
    // code file untouched (pure probe reuse)
    val d2 = AnnIndexLake.ensureLshIndex(spark, sfDir, emb)
    def state(p: String) = new java.io.File(s"$p/codes").listFiles()
      .map(f => f.getName -> (f.length, f.lastModified)).toMap
    val before = state(d2)
    assert(AnnIndexLake.ensureLshIndex(spark, sfDir, emb) == d2)
    assert(state(d2) == before, "repeat ensure rewrote the code table")
  }

  test("batch-stamped appends are exactly-once under replay and crash debris") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tmpDir("e03b")
    AnnIndexLake.writeE03Index(spark, emb.filter(col("vec_id") >= 100), dir)
    val b1 = emb.filter(col("vec_id") < 50)
    val b2 = emb.filter(col("vec_id") >= 50 && col("vec_id") < 100)

    def postings(): Seq[Seq[Any]] = spark.read.parquet(s"$dir/postings")
      .collect().map(_.toSeq.toVector: Seq[Any]).sortBy(_.toString).toSeq

    AnnIndexLake.appendToE03Index(spark, dir, b1, batchId = "b1")
    val once = postings()
    // replay of the same batch id is a no-op — no duplicated postings
    AnnIndexLake.appendToE03Index(spark, dir, b1, batchId = "b1")
    assert(postings() == once, "batch replay duplicated postings")

    // crash debris: a bt-prefixed file from a failed earlier attempt
    // (no marker) is replaced, not compounded — and junk bytes never
    // reach readers because the replay deletes before landing
    val debris = java.nio.file.Paths.get(s"$dir/postings/btb2_part-bogus.parquet")
    java.nio.file.Files.write(debris, Array[Byte](1, 2, 3))
    AnnIndexLake.appendToE03Index(spark, dir, b2, batchId = "b2")
    assert(!java.nio.file.Files.exists(debris),
      "crashed-attempt debris survived the batch replay")

    // the converged table equals a one-pass assignment of everything
    // under the same frozen centroids — batching is invisible
    val centroids = spark.read.parquet(s"$dir/centroids")
    assert(postings().toSet == Similarity.e03Postings(emb, centroids)
      .select("vec_id", "cell").collect()
      .map(_.toSeq.toVector: Seq[Any]).toSet,
      "batched appends diverge from one-pass assignment")

    // the BLIND form (no batchId) is honestly at-least-once: a retry
    // really does duplicate — the contract the batchId form exists for
    val dir2 = tmpDir("e03blind")
    AnnIndexLake.writeE03Index(spark, emb.filter(col("vec_id") >= 100), dir2)
    AnnIndexLake.appendToE03Index(spark, dir2, b1)
    val n1 = spark.read.parquet(s"$dir2/postings").count()
    AnnIndexLake.appendToE03Index(spark, dir2, b1)
    assert(spark.read.parquet(s"$dir2/postings").count() > n1,
      "blind append deduplicated? the at-least-once contract moved")

    // the cascade sketch's batch form converges the same way
    val dir3 = tmpDir("cascb")
    AnnIndexLake.writeCascadeSketch(spark, emb.filter(col("vec_id") >= 100), dir3)
    AnnIndexLake.appendToCascadeSketch(spark, dir3, b1, batchId = "t1")
    AnnIndexLake.appendToCascadeSketch(spark, dir3, b1, batchId = "t1")
    AnnIndexLake.appendToCascadeSketch(spark, dir3, b2, batchId = "t2")
    assert(AnnIndexLake.readCascadeSketch(spark, dir3)
      .collect().map(_.toString).sorted.toSeq ==
      Similarity.int8CascadeSketch(emb).drop("embedding")
        .collect().map(_.toString).sorted.toSeq,
      "batched sketch appends diverge from a one-pass build")
  }

  test("cascade sketch artifact: embedding-free on disk, appends invisible") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tmpDir("cascsk")
    AnnIndexLake.writeCascadeSketch(spark, emb.filter(col("vec_id") >= 100), dir)
    AnnIndexLake.appendToCascadeSketch(spark, dir,
      emb.filter(col("vec_id") < 100))

    // the STORED artifact physically lacks the float vector column —
    // the cascade's IO claim is a property of the file, not of pruning
    val grown = AnnIndexLake.readCascadeSketch(spark, dir)
    assert(!grown.columns.contains("embedding"),
      "the sketch artifact stores the embedding column")
    assert(grown.columns.toSet == Set("vec_id", "label", "dx", "dn", "rx"))

    // append invisibility is exact here — the sketch is a per-row pure
    // function (no trained model): grown == a one-pass rebuild, row set
    // equality over every column
    val onePass = Similarity.int8CascadeSketch(emb).drop("embedding")
    assert(grown.collect().map(_.toString).sorted.toSeq ==
      onePass.collect().map(_.toString).sorted.toSeq,
      "appended sketch rows diverge from a one-pass rebuild")

    // and a search THROUGH the grown artifact is still exactly brute
    // force (the no-loss proof composes with appends)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val viaArtifact = Similarity.cascadeKnnSearch(spark, grown,
        Similarity.cascadeQuerySketch(queries),
        emb.select("vec_id", "embedding"))
      .collect().map(_.toString).toSeq
    val brute = Similarity.knnBruteSearch(spark,
        emb.select("vec_id", "embedding"), queries)
      .collect().map(_.toString).toSeq
    assert(viaArtifact == brute, "grown-artifact cascade lost exactness")
  }
}
