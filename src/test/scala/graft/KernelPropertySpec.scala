package graft

import org.apache.spark.sql.catalyst.util.ArrayData
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.{HashKernels, LshKernels, TopKBuffer}
import org.apache.spark.unsafe.types.UTF8String

import scala.util.Random

/** Seeded randomized checks: every native kernel agrees with a naive
  * reference implementation across a few hundred random inputs.
  */
class KernelPropertySpec extends AnyFunSuite {


  test("TopKBuffer equals sort-take-k under random inserts and merges") {
    val r = new Random(42)
    for (_ <- 1 to 300) {
      val k = 1 + r.nextInt(12)
      val n = r.nextInt(60)
      val entries = Seq.fill(n)((math.floor(r.nextDouble() * 10) / 10, r.nextLong() % 50))
      val expected = entries.distinct
        .sortBy { case (s, id) => (-s, id) }.take(k)
      // random split into two buffers merged together
      val (ea, eb) = entries.splitAt(if (n == 0) 0 else r.nextInt(n))
      val a = new TopKBuffer(k); ea.foreach { case (s, id) => a.insert(s, id) }
      val b = new TopKBuffer(k); eb.foreach { case (s, id) => b.insert(s, id) }
      a.mergeFrom(b)
      val got = (0 until a.n).map(i => (a.scores(i), a.ids(i)))
      // duplicates: buffer keeps them, reference dedups — compare on the
      // distinct prefix both ways
      val gotD = got.distinct.take(expected.length)
      assert(gotD == expected.take(gotD.length),
        s"k=$k entries=$entries got=$got expected=$expected")
    }
  }

  test("sortedJaccard equals naive set Jaccard on random sorted arrays") {
    val r = new Random(7)
    for (_ <- 1 to 300) {
      val a = Seq.fill(r.nextInt(40))(r.nextInt(60).toLong).distinct.sorted
      val b = Seq.fill(r.nextInt(40))(r.nextInt(60).toLong).distinct.sorted
      val got = LshKernels.sortedJaccard(
        ArrayData.toArrayData(a.toArray), ArrayData.toArrayData(b.toArray))
      val inter = a.toSet.intersect(b.toSet).size
      val union = a.toSet.union(b.toSet).size
      if (union == 0) assert(got.isNaN)
      else assert(got == inter.toDouble / union, s"a=$a b=$b")
    }
  }

  test("sortedIntersectCount equals naive set intersection size") {
    val r = new Random(8)
    for (_ <- 1 to 300) {
      val a = Seq.fill(r.nextInt(40))(r.nextInt(60).toLong).distinct.sorted
      val b = Seq.fill(r.nextInt(40))(r.nextInt(60).toLong).distinct.sorted
      val got = LshKernels.sortedIntersectCount(
        ArrayData.toArrayData(a.toArray), ArrayData.toArrayData(b.toArray))
      assert(got == a.toSet.intersect(b.toSet).size.toLong, s"a=$a b=$b")
    }
  }

  test("polyHash equals the reference fold") {
    val r = new Random(11)
    for (_ <- 1 to 200) {
      val xs = Seq.fill(r.nextInt(50))(r.nextLong())
      val got = HashKernels.polyHash(ArrayData.toArrayData(xs.toArray))
      val expected = xs.foldLeft(0L) { (acc, h) =>
        val hm = ((h % 1000000007L) + 1000000007L) % 1000000007L
        (((acc * 31 + hm) % 1000000000000037L) + 1000000000000037L) % 1000000000000037L
      }
      assert(got == expected)
    }
  }

  test("shingleHashes yields distinct hashes of every n-word window") {
    val r = new Random(23)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    for (_ <- 1 to 200) {
      val n = r.nextInt(8)
      val text = Seq.fill(n)(words(r.nextInt(words.length))).mkString(" ")
      val got = HashKernels.shingleHashes(UTF8String.fromString(text), 3)
      val ws = text.split("\\s+", -1)
      val expectedCount =
        if (ws.length < 3) 0
        else ws.sliding(3).map(_.mkString(" ")).toSeq.distinct.length
      assert(got.numElements() == expectedCount, s"text='$text'")
    }
  }

  test("md5ShingleHashes equals hex-parsed md5 prefixes, sorted distinct") {
    val r = new Random(77)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "øh")
    for (_ <- 1 to 150) {
      val text = Seq.fill(r.nextInt(10))(words(r.nextInt(words.length))).mkString(" ")
      val got = HashKernels.md5ShingleHashes(UTF8String.fromString(text), 3).toLongArray()
      val ws = text.split("\\s+", -1)
      val expected =
        if (ws.length < 3) Seq.empty[Long]
        else ws.sliding(3).map(_.mkString(" ")).map { s =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
          java.lang.Long.parseLong(hex.substring(0, 15), 16)
        }.toSeq.distinct.sorted
      assert(got.toSeq == expected, s"text='$text'")
    }
  }

  test("md5SpanHashes is the positional, multiplicity-preserving shingle twin") {
    val r = new Random(78)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "øh")
    for (_ <- 1 to 150) {
      val text = Seq.fill(r.nextInt(14))(words(r.nextInt(words.length))).mkString(" ")
      val got = HashKernels.md5SpanHashes(UTF8String.fromString(text), 3).toLongArray()
      val ws = text.split("\\s+", -1)
      val expected =
        if (ws.length < 3) Seq.empty[Long]
        else ws.sliding(3).map(_.mkString(" ")).map { s =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
          java.lang.Long.parseLong(hex.substring(0, 15), 16)
        }.toSeq
      assert(got.toSeq == expected, s"text='$text'")
      // consistency with the sorted-distinct family d27 buckets on
      assert(got.toSeq.distinct.sorted ==
        HashKernels.md5ShingleHashes(UTF8String.fromString(text), 3).toLongArray().toSeq)
    }
  }

  test("CountInSortedLongs equals the Set-membership count under random probes") {
    val r = new Random(79)
    for (_ <- 1 to 100) {
      val vals = Array.fill(r.nextInt(40))(r.nextLong() % 1000)
      val sorted = vals.clone().sorted
      val set = vals.toSet
      for (_ <- 1 to 50) {
        // small value range: probe arrays repeat elements, and n = 0
        // gives the empty array
        val arr = Array.fill(r.nextInt(20))(r.nextLong() % 1000)
        val expected = arr.count(set.contains).toLong
        assert(HashKernels.countInSorted(ArrayData.toArrayData(arr), sorted) == expected,
          s"arr=${arr.toSeq} vals=${vals.toSeq}")
        val got = graft.expressions.CountInSortedLongs(
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            arr.toSeq, org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType, containsNull = false)), sorted)
          .eval(null)
        assert(got == expected, s"arr=${arr.toSeq} vals=${vals.toSeq}")
      }
    }
  }

  test("spanHitStarts equals the per-span hash + membership composition") {
    val r = new Random(113)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    for (_ <- 1 to 150) {
      val words = Seq.fill(r.nextInt(30))(vocab(r.nextInt(vocab.length)))
      val text = words.mkString(" ")
      val u = UTF8String.fromString(text)
      val spans = HashKernels.md5SpanHashes(u, 8).toLongArray()
      // boiler = a random subset of this text's own spans plus noise
      val boiler = (spans.filter(_ => r.nextBoolean()) ++
        Array.fill(5)(r.nextLong())).sorted
      val got = HashKernels.spanHitStarts(u, 8, boiler).toIntArray().toSeq
      val expected = spans.zipWithIndex.collect {
        case (h, i) if java.util.Arrays.binarySearch(boiler, h) >= 0 => i
      }.toSeq
      assert(got == expected, s"text='$text'")
    }
  }

  test("codepointSet is sorted, distinct, and covers exactly the text's chars") {
    val r = new Random(31)
    for (_ <- 1 to 200) {
      val text = Seq.fill(r.nextInt(50))(('a' + r.nextInt(26)).toChar).mkString
      val got = LshKernels.codepointSet(UTF8String.fromString(text)).toLongArray()
      assert(got.toSeq == text.toSet.map((c: Char) => c.toLong).toSeq.sorted)
    }
  }

  test("cosine kernel equals naive double-fold cosine") {
    val r = new Random(5)
    for (_ <- 1 to 200) {
      val n = 1 + r.nextInt(64)
      val a = Array.fill(n)(r.nextFloat() * 2 - 1)
      val b = Array.fill(n)(r.nextFloat() * 2 - 1)
      val got = graft.expressions.VecMath.cosine(
        ArrayData.toArrayData(a), ArrayData.toArrayData(b))
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until n) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      if (na == 0 || nb == 0) assert(got.isNaN) // documented DuckDB-parity: 0/0
      else assert(got == dot / (math.sqrt(na) * math.sqrt(nb)))
    }
  }

  test("cosine kernel returns NaN for a zero vector (DuckDB 0/0 parity)") {
    val z = ArrayData.toArrayData(Array.fill(8)(0f))
    val v = ArrayData.toArrayData(Array.tabulate(8)(i => (i + 1).toFloat))
    assert(graft.expressions.VecMath.cosine(z, v).isNaN)
    assert(graft.expressions.VecMath.cosine(v, z).isNaN)
    assert(graft.expressions.VecMath.cosine(z, z).isNaN)
  }

  test("TopKBuffer ranks NaN scores greatest (Spark/DuckDB NaN ordering)") {
    val buf = new TopKBuffer(3)
    buf.insert(0.9, 1L)
    buf.insert(Double.NaN, 2L)
    buf.insert(0.5, 3L)
    buf.insert(0.7, 4L)
    val got = (0 until buf.n).map(i => (buf.scores(i), buf.ids(i)))
    assert(got.head._2 == 2L && got.head._1.isNaN, s"NaN not ranked first: $got")
    assert(got.map(_._2) == Seq(2L, 1L, 4L), s"order wrong: $got")
    // NaN ties break by id ascending, like any equal score
    val t = new TopKBuffer(2)
    t.insert(Double.NaN, 9L); t.insert(Double.NaN, 4L); t.insert(1.0, 1L)
    assert((0 until t.n).map(i => t.ids(i)) == Seq(4L, 9L))
  }

  test("TopKBuffer treats -0.0 and +0.0 as equal, tie-breaking by id (Spark parity)") {
    // Spark's sort compares signed zeros equal; Double.compare does not,
    // so insert must canonicalize
    val buf = new TopKBuffer(3)
    buf.insert(0.0, 7L)
    buf.insert(-0.0, 2L)
    buf.insert(-1.0, 1L)
    assert((0 until buf.n).map(i => buf.ids(i)) == Seq(2L, 7L, 1L),
      s"signed zeros not id-ordered: ${(0 until buf.n).map(i => (buf.scores(i), buf.ids(i)))}")
  }
}
