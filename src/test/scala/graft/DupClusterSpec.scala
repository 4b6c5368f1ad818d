package graft

import org.scalatest.funsuite.AnyFunSuite

/** d13 cluster canonicalization: the distributed min-label propagation
  * must equal a plain union-find over the same d02 pairs — same members,
  * same canonical (component-minimum) ids, same sizes.
  */
class DupClusterSpec extends AnyFunSuite with SparkFixture {

  test("d13 components equal a union-find over the d02 pairs (sf0.01)") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory)
    val pairs = SparkEntry.queries("d02_minhash_lsh")(spark, dir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "no near-dup pairs at sf0.01; spec is vacuous")

    // ground truth: path-compressed union-find, canonical = component min
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(x => x -> find(x)).toMap
    val truthSizes = truth.values.groupBy(identity).map { case (c, m) => c -> m.size }

    val got = SparkEntry.queries("d13_dup_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == truth.keySet,
      "d13 output docs differ from the docs appearing in d02 pairs")
    got.foreach { case (doc, canon, size) =>
      assert(canon == truth(doc), s"doc $doc: canonical $canon != union-find ${truth(doc)}")
      assert(size == truthSizes(truth(doc)).toLong, s"doc $doc: cluster size $size wrong")
    }
    // canonical really is the minimum member of its cluster
    got.groupBy(_._2).foreach { case (c, members) =>
      assert(members.map(_._1).min == c, s"canonical $c is not its cluster minimum")
    }
  }

  test("d13/d14/d28 share ONE label-loop execution per corpus (memoized)") {
    import graft.operators.Dedup
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory)
    Dedup.clearLabelMemo()
    val before = Dedup.loopRuns.get()
    SparkEntry.queries("d13_dup_clusters")(spark, dir).collect()
    val afterFirst = Dedup.loopRuns.get()
    assert(afterFirst == before + 1, "first consumer must run the loop")
    SparkEntry.queries("d14_corpus_select")(spark, dir).collect()
    SparkEntry.queries("d28_priority_select")(spark, dir).collect()
    SparkEntry.queries("d13_dup_clusters")(spark, dir).collect()
    assert(Dedup.loopRuns.get() == afterFirst,
      "later consumers of the same corpus must reuse the memoized labels")
  }

  test("d28 keeps the best-priority member of every union-find cluster") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory)
    val pairs = SparkEntry.queries("d02_minhash_lsh")(spark, dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val prio = docs.map { case (id, src) => id -> src.drop(3).toInt % 4 }.toMap
    val cluster = docs.map { case (id, _) =>
      id -> (if (parent.contains(id)) find(id) else id)
    }.toMap
    val members = cluster.toSeq.groupBy(_._2).view
      .mapValues(_.map(_._1)).toMap
    val expected = members.map { case (c, ms) =>
      c -> ((ms.minBy(m => (prio(m), m)), ms.size.toLong))
    }
    assert(expected.exists { case (c, (k, _)) => k != c },
      "priority never overrode the min-id canonical; spec is vacuous")

    val got = SparkEntry.queries("d28_priority_select")(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(4)))).toMap
    assert(got.keySet == expected.keySet,
      s"cluster sets diverge: extra=${(got.keySet -- expected.keySet).take(3)} " +
        s"missing=${(expected.keySet -- got.keySet).take(3)}")
    got.foreach { case (c, (keep, size)) =>
      assert((keep, size) == expected(c),
        s"cluster $c kept ($keep, $size), expected ${expected(c)}")
    }
  }

  test("d14 survivors are exactly the exact-keepers that are cluster canonicals") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory)
    val keepers = SparkEntry.queries("d01_exact_dedup")(spark, dir)
      .select("keep_id").collect().map(_.getLong(0)).toSet
    val lab = SparkEntry.queries("d13_dup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = keepers.filter(k => lab.get(k).forall(_ == k))
    val got = SparkEntry.queries("d14_corpus_select")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(got.map(_._1).toSet == expected,
      s"survivor set diverges from d01 ∩ d13 composition")
    // splits agree with d11's assignment for the same docs
    val splits = SparkEntry.queries("d11_hash_sample")(spark, dir)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (id, sp) =>
      assert(sp == splits(id), s"doc $id split $sp != d11 ${splits(id)}")
    }
  }

  test("a 65k-hop chain converges in logarithmic rounds with lineage cut") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    // a path graph 0-1-2-...-N, the worst case for pure propagation
    // (label 0 moves one hop per round — N rounds; the pre-jumping loop
    // would hit its 64-round cap and throw on this input). Pointer
    // jumping halves label-chain depth per round: expected ~log2(N)
    // rounds, crossing the CheckpointEvery boundary at least twice so
    // the lineage cuts and their cleanup are exercised too.
    val n = 1 << 16
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec")
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    val fwd = spark.range(n).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val (labels, rounds) = Dedup.propagateLabelsCounted(spark, edges)
    // one component, canonical 0, every node labeled
    assert(labels.count() == n + 1L)
    assert(labels.filter(col("canonical_id") =!= 0L).count() == 0,
      "non-minimum labels survived")
    info(s"converged in $rounds rounds for a $n-hop chain")
    assert(rounds <= 2 * 16 + 4,
      s"rounds $rounds not logarithmic in the 2^16 diameter")
    // checkpointing verifiably active AND cleaned up: >= 2 lineage cuts
    // happened, superseded cuts' files were deleted — exactly two rdd
    // checkpoints remain: the entry cut of the EDGE table (kept for the
    // whole run — later rounds scan it) and the last label cut (zero or
    // one = a cut isn't happening; more = superseded cuts leaking)
    assert(rounds >= 2 * Dedup.CheckpointEvery,
      "chain converged before exercising two checkpoint intervals")
    val walk = java.nio.file.Files.walk(ckDir)
    val kept =
      try walk.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      finally walk.close()
    assert(kept == 2, s"expected the edges cut + last label cut under $ckDir, saw $kept")
  }

  test("d16 flags exactly the train docs sharing >= 20% shingles with the test split") {
    import org.apache.spark.sql.functions._
    // independent ground truth: collect every doc's shingle set and split,
    // compute the overlap in plain Scala (affordable at sf0.001 only)
    val rows = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
              expr("md5_shingle3_hashes(text)").as("mh"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
      .filter(_._2.nonEmpty)
    val splits = SparkEntry.queries("d11_hash_sample")(spark, sfDir)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val benchSet = rows.filter(r => splits(r._1) == "test").flatMap(_._2).toSet
    val expected = rows.filter(r => splits(r._1) == "train").collect {
      case (id, sh) if sh.count(benchSet).toDouble / sh.size >= 0.2 =>
        id -> sh.count(benchSet)
    }.toMap
    assert(expected.nonEmpty, "no contaminated docs at sf0.001; spec is vacuous")

    val got = SparkEntry.queries("d16_decontaminate")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.keySet == expected.keySet,
      s"flagged set diverges: extra=${(got.keySet -- expected.keySet).take(3)} " +
        s"missing=${(expected.keySet -- got.keySet).take(3)}")
    got.foreach { case (id, shared) =>
      assert(shared == expected(id).toLong, s"doc $id shared-count $shared != ${expected(id)}")
    }
  }

  test("d13 returns an empty result (not a crash) on a corpus with no pairs") {
    val sp = spark
    import sp.implicits._
    // single-word docs produce no 3-shingles, so the pair set is empty —
    // the normal state of an already-deduped corpus
    val tmp = java.nio.file.Files.createTempDirectory("graft_nopairs")
    try {
      Seq((1L, "alpha", "en", "web", 5L), (2L, "beta", "en", "web", 4L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val out = SparkEntry.queries("d13_dup_clusters")(spark, tmp.toString).collect()
      assert(out.isEmpty)
    } finally {
      val walk = java.nio.file.Files.walk(tmp)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
