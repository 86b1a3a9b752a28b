package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.expressions.{AnnKernels, ExprKernels, PolyHash}

/** Property-based tests of the native expression kernels: the
  * compiled loops must agree with straightforward reference
  * implementations on arbitrary inputs — exactly the claim the
  * DuckDB oracles make for specific corpora, here quantified over
  * generated ones.
  */
class KernelPropSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  private def arr(xs: Seq[Double]) = new GenericArrayData(xs.toArray)
  private def sarr(xs: Seq[String]) =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])

  private val vecGen: Gen[List[Double]] =
    Gen.chooseNum(1, 64).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1000.0, 1000.0)))

  private val tokensGen: Gen[List[String]] =
    Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1, 6).flatMap(l =>
        Gen.listOfN(l, Gen.alphaNumChar).map(_.mkString))))

  test("word grams kernel == split/sliding reference on arbitrary whitespace-ridden text") {
    // reference = the exact semantics of the interpreted expression
    // chain it replaced: trim 0x20 only, java split("\s+", -1),
    // sliding windows joined by one space, <n tokens → empty
    val textGen: Gen[String] = Gen.chooseNum(0, 30).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        6 -> Gen.alphaNumChar, 2 -> Gen.const(' '), 1 -> Gen.const('\t'),
        1 -> Gen.const('\n'))).map(_.mkString))
    check(Prop.forAll(textGen, Gen.choose(1, 6)) { (s, n) =>
      val got = ExprKernels.wordGrams(UTF8String.fromString(s), n)
      val gotSeq = (0 until got.numElements()).map(got.getUTF8String(_).toString)
      val trimmed = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val toks = trimmed.split("\\s+", -1).toSeq
      val want =
        if (toks.length < n) Seq.empty[String]
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      (gotSeq == want) :| s"got=$gotSeq want=$want input=${s.map(_.toInt)}"
    })
  }

  test("gram hashes + merge-walk intersection == reference set intersection") {
    check(Prop.forAll(tokensGen, tokensGen) { (a, b) =>
      val ga = ExprKernels.gramHashes(sarr(a)).toLongArray()
      val gb = ExprKernels.gramHashes(sarr(b)).toLongArray()
      val got = ExprKernels.sortedIntersectCount(
        new GenericArrayData(ga), new GenericArrayData(gb))
      val want = ga.toSet.intersect(gb.toSet).size.toLong
      got == want
    })
  }

  test("gram hashes are sorted and distinct (the merge-walk precondition)") {
    check(Prop.forAll(tokensGen) { a =>
      val g = ExprKernels.gramHashes(sarr(a)).toLongArray()
      g.sameElements(g.distinct.sorted)
    })
  }

  test("minhash fundamental property: sig(A ∪ B) = elementwise min(sig A, sig B)") {
    check(Prop.forAll(tokensGen, tokensGen) { (a, b) =>
      (a.nonEmpty && b.nonEmpty) ==> {
        val k = 36
        val sa = ExprKernels.minhashSignature(ExprKernels.gramHashes(sarr(a)), k).toLongArray()
        val sb = ExprKernels.minhashSignature(ExprKernels.gramHashes(sarr(b)), k).toLongArray()
        val su = ExprKernels.minhashSignature(ExprKernels.gramHashes(sarr(a ++ b)), k).toLongArray()
        // slot values are UNSIGNED 64-bit patterns (see ExprKernels.minhashSignature)
        su.sameElements(sa.zip(sb).map { case (x, y) =>
          if (java.lang.Long.compareUnsigned(x, y) <= 0) x else y })
      }
    })
  }

  test("signature overlap is k on self, symmetric, bounded by k") {
    check(Prop.forAll(tokensGen, tokensGen) { (a, b) =>
      (a.nonEmpty && b.nonEmpty) ==> {
        val k = 36
        val sa = ExprKernels.minhashSignature(ExprKernels.gramHashes(sarr(a)), k)
        val sb = ExprKernels.minhashSignature(ExprKernels.gramHashes(sarr(b)), k)
        val self = ExprKernels.signatureOverlap(sa, sa)
        val ab = ExprKernels.signatureOverlap(sa, sb)
        val ba = ExprKernels.signatureOverlap(sb, sa)
        self == k && ab == ba && ab >= 0 && ab <= k
      }
    })
  }

  test("cosine similarity: cos(v,v)=1, symmetric, |cos|<=1, scale-invariant") {
    check(Prop.forAll(vecGen, vecGen) { (a0, b0) =>
      val n = math.min(a0.length, b0.length)
      val a = a0.take(n); val b = b0.take(n)
      (a.exists(_ != 0.0) && b.exists(_ != 0.0)) ==> {
        val cab = ExprKernels.cosineSimilarity(arr(a), arr(b))
        val cba = ExprKernels.cosineSimilarity(arr(b), arr(a))
        val self = ExprKernels.cosineSimilarity(arr(a), arr(a))
        val scaled = ExprKernels.cosineSimilarity(arr(a.map(_ * 3.0)), arr(b))
        math.abs(self - 1.0) < 1e-9 && cab == cba &&
          math.abs(cab) <= 1.0 + 1e-9 && math.abs(scaled - cab) < 1e-9
      }
    })
  }

  test("l1 distance: identity, symmetry, triangle inequality") {
    check(Prop.forAll(vecGen, vecGen, vecGen) { (a0, b0, c0) =>
      val n = List(a0.length, b0.length, c0.length).min
      val a = a0.take(n); val b = b0.take(n); val c = c0.take(n)
      val ab = ExprKernels.l1Distance(arr(a), arr(b))
      val ba = ExprKernels.l1Distance(arr(b), arr(a))
      val ac = ExprKernels.l1Distance(arr(a), arr(c))
      val cb = ExprKernels.l1Distance(arr(c), arr(b))
      ExprKernels.l1Distance(arr(a), arr(a)) == 0.0 &&
        ab == ba && ab <= ac + cb + 1e-6 * (1 + ab)
    })
  }

  test("nearest cell is the argmin with lowest-cell tie-break") {
    val centsGen = Gen.chooseNum(1, 8).flatMap(k =>
      Gen.listOfN(k, Gen.listOfN(4, Gen.chooseNum(-10.0, 10.0))))
    check(Prop.forAll(Gen.listOfN(4, Gen.chooseNum(-10.0, 10.0)), centsGen) { (v, cents) =>
      val cs = cents.map(_.toArray).toArray
      val ids = Array.tabulate(cs.length)(identity)
      val got = AnnKernels.nearestCell(arr(v), cs, ids)
      def d2(c: Array[Double]) = {
        var s = 0.0; var i = 0
        while (i < 4) { val t = v(i) - c(i); s += t * t; i += 1 }; s
      }
      val want = cs.zipWithIndex.minBy { case (c, i) => (d2(c), i) }._2
      got == want
    })
  }

  test("packed nearest cell == reference-object kernel under any group split, incl. shuffled order and duplicate centroids") {
    // the two-level packed kernel receives the SAME centroids as the
    // one-level kernel, but concatenated in probe-group order (not
    // id-ascending) — its (dist, lowest-id) tie rule must make the
    // result permutation-invariant and equal to the one-level argmin.
    // Two-level ASSIGNMENT is the packed probe at nprobe = 1.
    val centsGen = Gen.chooseNum(1, 8).flatMap(k =>
      Gen.listOfN(k, Gen.listOfN(4, Gen.chooseNum(-10.0, 10.0))))
    check(Prop.forAll(Gen.listOfN(4, Gen.chooseNum(-10.0, 10.0)), centsGen,
        Gen.long) { (v, cents0, seed) =>
      // duplicate one centroid under a HIGHER id to force distance ties
      val cents = if (cents0.size > 1) cents0 :+ cents0.head else cents0
      val cs = cents.map(_.toArray).toArray
      val ids = Array.tabulate(cs.length)(identity)
      val oneLevel = AnnKernels.nearestCell(arr(v), cs, ids)
      val perm = new scala.util.Random(seed).shuffle(ids.toList)
      val packedCents = new GenericArrayData(perm.map(i => arr(cs(i).toSeq)).toArray[Any])
      val packedIds = new GenericArrayData(perm.toArray)
      val packed = AnnKernels.nearestCellsPacked(arr(v), packedCents, packedIds, 1).getInt(0)
      packed == oneLevel
    })
  }

  test("packed nearest cellS: ordered by (dist, lowest id), permutation-invariant, bounded by group size") {
    val centsGen = Gen.chooseNum(1, 8).flatMap(k =>
      Gen.listOfN(k, Gen.listOfN(4, Gen.chooseNum(-10.0, 10.0))))
    check(Prop.forAll(Gen.listOfN(4, Gen.chooseNum(-10.0, 10.0)), centsGen,
        Gen.chooseNum(1, 10), Gen.long) { (v, cents, nprobe, seed) =>
      val cs = cents.map(_.toArray).toArray
      val ids = Array.tabulate(cs.length)(identity)
      def get(perm: List[Int]): Seq[Int] = {
        val pc = new GenericArrayData(perm.map(i => arr(cs(i).toSeq)).toArray[Any])
        val pi = new GenericArrayData(perm.toArray)
        val out = AnnKernels.nearestCellsPacked(arr(v), pc, pi, nprobe)
        (0 until out.numElements()).map(out.getInt)
      }
      val asc = get(ids.toList)
      val shuffled = get(new scala.util.Random(seed).shuffle(ids.toList))
      asc == shuffled && asc.size == math.min(nprobe, cs.length) &&
        asc.headOption.forall(_ == AnnKernels.nearestCell(arr(v), cs, ids))
    })
  }

  test("int8 stats agree with recon: mae is the mean abs error, codes clamp") {
    check(Prop.forAll(vecGen) { v =>
      val stats = AnnKernels.int8QuantStats(arr(v)).toDoubleArray()
      val recon = AnnKernels.int8Recon(arr(v)).toDoubleArray()
      val scale = stats(0)
      val maeRef = v.zip(recon).map { case (x, r) => math.abs(x - r) }.sum / v.length
      // same index-order fold ⇒ bit-identical, but allow one ulp
      math.abs(stats(1) - maeRef) < 1e-12 &&
        v.zip(recon).forall { case (x, r) =>
          math.abs(x - r) <= scale / 2 + 1e-9 || math.abs(x) > 127.0 * scale }
    })
  }

  // Naive re-derivation of the winnowing contract: direct polynomial
  // hash per gram (no rolling recurrence), explicit window minima,
  // over CODE POINTS (the kernel's and the oracle's symbol unit).
  private def refWinnow(s: String, k: Int, w: Int): Set[Long] = {
    val cps = s.codePoints().toArray
    val n = cps.length - k + 1
    if (n < 1) return Set.empty
    val mask = (1L << 40) - 1
    val comb = Array.tabulate(n) { i =>
      var h = 0L
      (0 until k).foreach(j => h = (h * 31 + cps(i + j)) & mask)
      (h << 20) | (i & 0xFFFFF).toLong
    }
    val win = math.min(w, n)
    (0 to n - win).map(t => comb.slice(t, t + win).min >>> 20).toSet
  }

  private val smallTextGen: Gen[String] = Gen.chooseNum(0, 300).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString))

  test("winnow fingerprints: deque kernel == naive window-min reference") {
    check(Prop.forAll(smallTextGen, Gen.choose(2, 9), Gen.choose(1, 20)) { (s, k, w) =>
      val got = ExprKernels.winnowFingerprints(UTF8String.fromString(s), k, w).toLongArray()
      got.toSet == refWinnow(s, k, w) &&
        got.sameElements(got.distinct.sorted)
    })
  }

  test("winnowing guarantee: shared substrings of length >= w+k-1 share a fingerprint") {
    val k = 8; val w = 16
    val padGen = Gen.chooseNum(0, 80).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('x', 'y', 'z')).map(_.mkString))
    val sharedGen = Gen.listOfN(w + k - 1, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    check(Prop.forAll(padGen, padGen, padGen, padGen, sharedGen) { (p1, p2, p3, p4, shared) =>
      val fa = ExprKernels.winnowFingerprints(
        UTF8String.fromString(p1 + shared + p2), k, w).toLongArray().toSet
      val fb = ExprKernels.winnowFingerprints(
        UTF8String.fromString(p3 + shared + p4), k, w).toLongArray().toSet
      fa.intersect(fb).nonEmpty
    })
  }

  test("astral characters count as one symbol in entropy and winnowing") {
    // U+1D11E (musical symbol G clef) is a surrogate pair in UTF-16;
    // both kernels must treat it as ONE symbol or H > log2(n_chars)
    // and the DuckDB replay (code-point based) diverges
    val clef = new String(Character.toChars(0x1D11E))
    val two = clef + "a" // 2 code points, 3 UTF-16 units
    val h = ExprKernels.charEntropyBits(UTF8String.fromString(two))
    assert(math.abs(h - 1.0) < 1e-12, s"2 distinct symbols must give exactly 1 bit, got $h")
    val astralText = (clef + "abc") * 10
    assert(ExprKernels.winnowFingerprints(UTF8String.fromString(astralText), 3, 4)
      .toLongArray().toSet === refWinnow(astralText, 3, 4))
  }

  test("winnowing density: roughly 2/(w+1) of grams selected on random text") {
    val rnd = new scala.util.Random(7)
    val s = Array.fill(20000)(('a' + rnd.nextInt(26)).toChar).mkString
    val k = 8; val w = 16
    val n = s.length - k + 1
    val got = ExprKernels.winnowFingerprints(UTF8String.fromString(s), k, w).numElements()
    val expected = 2.0 / (w + 1) * n
    assert(got > expected * 0.7 && got < expected * 1.3,
      s"selected $got of $n grams, expected ~${expected.toInt}")
  }

  test("polynomial fingerprint: Math.multiplyHigh mulMod matches a BigInt reference fold") {
    val textGen = Gen.chooseNum(0, 200).flatMap(n =>
      Gen.listOfN(n, Gen.choose(32.toChar, 126.toChar)).map(_.mkString))
    val M = BigInt("2305843009213693951") // 2^61 - 1
    check(Prop.forAll(textGen) { s =>
      val bytes = s.getBytes("UTF-8")
      val got = PolyHash.ofBytes(bytes)
      val want = bytes.foldLeft(BigInt(0)) { (acc, b) =>
        (acc * PolyHash.Base + (b & 0xff)) mod M
      }
      BigInt(got) == want
    })
  }

  test("mulMod matches BigInt multiplication mod 2^61-1 on arbitrary longs") {
    val inMod = Gen.chooseNum(0L, PolyHash.Mod - 1)
    check(Prop.forAll(inMod, inMod) { (a, b) =>
      BigInt(PolyHash.mulMod(a, b)) == (BigInt(a) * BigInt(b)) .mod (BigInt(PolyHash.Mod))
    })
  }

  test("misra-gries: no heavy hitter lost under arbitrary streams, partitionings and merge order") {
    // the doc_heavy_hitters exactness proof rests entirely on this
    // property: after per-partition updates and any sequence of
    // partial merges, the candidate set still contains EVERY value
    // with true frequency > n/k, and never exceeds k entries
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    import graft.functions.expressions.MisraGries
    val streamGen: Gen[List[String]] = for {
      n <- Gen.chooseNum(1, 400)
      // skewed alphabet: a few hot keys + a long uniform tail
      xs <- Gen.listOfN(n, Gen.frequency(
        3 -> Gen.oneOf("hot1", "hot2", "hot3"),
        7 -> Gen.chooseNum(0, 999).map(i => s"c$i")))
    } yield xs
    check(Prop.forAll(streamGen, Gen.chooseNum(2, 30), Gen.chooseNum(1, 6)) {
      (xs, k, nParts) =>
        val agg = MisraGries(BoundReference(0, StringType, nullable = true), k)
        // partition round-robin, update each partial, merge left-to-right
        val partials = xs.zipWithIndex.groupBy(_._2 % nParts).values.map { part =>
          part.map(_._1).foldLeft(agg.createAggregationBuffer()) { (b, s) =>
            agg.update(b, InternalRow(UTF8String.fromString(s)))
          }
        }
        val merged = partials.reduce(agg.merge)
        val row = agg.eval(merged).asInstanceOf[InternalRow]
        val n = row.getLong(0)
        val got = row.getArray(1)
        val cands = (0 until got.numElements()).map(got.getUTF8String(_).toString).toSet
        val freq = xs.groupBy(identity).view.mapValues(_.size.toLong)
        val heavy = freq.filter { case (_, f) => f * k > n }.keySet
        (n == xs.length.toLong: Prop) &&
          (cands.size <= k: Prop) &&
          (heavy.subsetOf(cands): Prop)
    })
  }
}
