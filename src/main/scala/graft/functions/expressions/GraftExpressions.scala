package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot paths where a builtin
  * doesn't exist. Each implements `doGenCode` so it stays inside
  * whole-stage codegen — a Scala UDF here would box every row and
  * break the codegen span.
  */

/** popcount(a XOR b): Hamming distance between two 64-bit
  * fingerprints (SimHash near-dup distance).
  */
case class HammingDistance64(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long]).toLong
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = (long) java.lang.Long.bitCount($a ^ $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "hamming64"
}

object PolyHash {
  final val Mod: Long = (1L << 61) - 1 // Mersenne prime 2^61-1
  final val Base: Long = 1000003L

  /** Polynomial rolling hash over UTF-8 bytes, mod 2^61-1. Collision
    * probability ~n²/2^61 — fine as a 100 TB dedup fingerprint.
    */
  def ofBytes(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      // multiply mod 2^61-1 via Math.multiplyHigh to avoid overflow
      h = mulMod(h, Base)
      h += (bytes(i) & 0xffL)
      if (h >= Mod) h -= Mod
      i += 1
    }
    h
  }

  def mulMod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // (hi,lo) mod 2^61-1: fold 128-bit product at the 61-bit boundary
    val part = ((hi << 3) | (lo >>> 61)) + (lo & Mod)
    val r = (part >>> 61) + (part & Mod)
    if (r >= Mod) r - Mod else r
  }
}

/** Rolling polynomial fingerprint of a string (document
  * fingerprinting for dedup joins: 8 bytes instead of the full text).
  */
case class PolyFingerprint(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(v: Any): Any =
    PolyHash.ofBytes(v.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.PolyHash.ofBytes($c.getBytes());")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "poly_fingerprint"
}

object SimHash {
  /** 64-bit SimHash over whitespace tokens: each token's 64-bit hash
    * votes ±1 per bit; the sign of each bit-sum forms the fingerprint.
    * Near-identical token multisets → small Hamming distance.
    */
  def ofTokens(text: UTF8String): Long = {
    val counts = new Array[Int](64)
    val s = text.toString
    var start = 0
    val n = s.length
    var i = 0
    while (i <= n) {
      if (i == n || Character.isWhitespace(s.charAt(i))) {
        if (i > start) {
          var h = fnv64(s, start, i)
          var b = 0
          while (b < 64) {
            counts(b) += (if ((h & 1L) == 1L) 1 else -1)
            h >>>= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** FNV-1a 64-bit over a char range — fast, stable, dependency-free. */
  def fnv64(s: String, from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}

object MinHash {
  /** k-permutation MinHash over an array of shingles: one 64-bit base
    * hash per shingle (FNV-1a over UTF-8 bytes), then k affine
    * permutations h_i = a_i·h + b_i (odd multipliers from a seeded
    * xorshift), min per slot.
    *
    * This replaces a nested higher-order-function formulation
    * (`transform(sequence(0,k-1), i -> array_min(transform(grams, g ->
    * xxhash64(g, i))))`): Spark HOF lambdas are interpreted per
    * element, which made signatures the dominant cost of the LSH
    * pipeline (k·|grams| interpreted evals per row). Here it's one
    * tight compiled loop (`ExprKernels.minhashSignature`).
    *
    * The k affine coefficient pairs, derived from a seeded xorshift —
    * exposed so the DuckDB oracle can inline the identical constants.
    */
  def coefficients(k: Int, seed: Long = 0x5EED5EEDL): (Array[Long], Array[Long]) = {
    val as = new Array[Long](k)
    val bs = new Array[Long](k)
    var s = seed
    def next(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
    var i = 0
    while (i < k) { as(i) = next() | 1L; bs(i) = next(); i += 1 }
    (as, bs)
  }

  def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= bytes(i) & 0xffL
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}

/** Static kernels for the array expressions below — a plain object so
  * the generated Java from `doGenCode` can call them through static
  * forwarders (whole-stage codegen emits Java, not Scala).
  */
object ExprKernels {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  // the affine permutation coefficients are per-QUERY constants; the
  // per-row eval must not re-derive them (k is tiny, the map stays ~1
  // entry)
  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def coeffs(k: Int): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent(k, kk => MinHash.coefficients(kk))

  def minhashSignature(v: ArrayData, k: Int): ArrayData = {
    val (as, bs) = coeffs(k)
    // UNSIGNED min per slot: the permuted values are uniform 64-bit
    // patterns either way, but unsigned ordering lets an engine
    // without wrap-around int64 (e.g. the DuckDB oracle working in
    // HUGEINT mod 2^64) reproduce the identical signature.
    val out = Array.fill(k)(-1L) // unsigned max
    var g = 0
    while (g < v.numElements()) {
      val h = v.getLong(g)
      var i = 0
      while (i < k) {
        val p = as(i) * h + bs(i)
        if (java.lang.Long.compareUnsigned(p, out(i)) < 0) out(i) = p
        i += 1
      }
      g += 1
    }
    new GenericArrayData(out)
  }

  def signatureOverlap(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var c = 0L
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  def gramHashes(arr: ArrayData): ArrayData = {
    val hs = Array.tabulate(arr.numElements())(i => MinHash.fnv64(arr.getUTF8String(i).getBytes))
    java.util.Arrays.sort(hs)
    // dedupe in place over the sorted array
    var n = 0
    var i = 0
    while (i < hs.length) {
      if (n == 0 || hs(i) != hs(n - 1)) { hs(n) = hs(i); n += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, n))
  }

  // compiled once; Spark's own split(str, regex) delegates to the same
  // java.util.regex engine with limit -1, so tokenization here is
  // bit-identical to split(trim(text), "\\s+") by construction
  private val WsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Word n-grams joined by a single space — the compiled form of
    * `transform(sequence(...), i -> concat_ws(' ', slice(toks,i,n)))`,
    * which Spark evaluates INTERPRETED (higher-order functions have no
    * codegen): one tokenizer pass, one StringBuilder per gram, no
    * per-gram array slicing. trim strips 0x20 only (Spark/DuckDB trim
    * semantics); fewer than n tokens → empty array.
    */
  def wordGrams(text: UTF8String, n: Int): ArrayData = {
    var s = text.toString
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    s = s.substring(lo, hi)
    val toks = WsPattern.split(s, -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    var i = 0
    while (i < out.length) {
      val sb = new java.lang.StringBuilder(64)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  def sortedIntersectCount(x: ArrayData, y: ArrayData): Long = {
    var i = 0; var j = 0; var c = 0L
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  /** Content-defined chunking: a boundary closes after character i
    * (1-based window end, i ≥ w) when the FNV-1a hash of the last `w`
    * characters has its low bits zero (`h & mask == 0`); each chunk's
    * fingerprint is the polynomial hash of its UTF-8 bytes. Boundaries
    * re-synchronize after an insertion, so shared passages yield
    * shared chunk fingerprints regardless of offset — the property
    * that makes chunk-level dedup shift-resistant where fixed-size
    * blocks are not.
    */
  def chunkFingerprints(text: UTF8String, w: Int, mask: Long): ArrayData = {
    val s = text.toString
    val n = s.length
    val fps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var start = 0
    var i = w - 1 // 0-based index of the window's last char
    while (i < n) {
      // stateless boundary rule (no minimum-chunk skip): every
      // position is tested, so the boundary set is a pure filter —
      // deterministic, shift-resistant, and engine-replayable
      val h = SimHash.fnv64(s, i - w + 1, i + 1)
      if ((h & mask) == 0L) {
        fps += PolyHash.ofBytes(s.substring(start, i + 1).getBytes("UTF-8"))
        start = i + 1
      }
      i += 1
    }
    if (start < n) fps += PolyHash.ofBytes(s.substring(start).getBytes("UTF-8"))
    new GenericArrayData(fps.toArray)
  }

  def cosineSimilarity(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Cosine similarity under a per-dimension weight profile — the
    * Matryoshka-structure simulator: cos(x∘w, y∘w) in one compiled
    * index-order pass (the oracle replays the identical fold with the
    * weight literals inlined). Folds min(|x|, |y|, |w|) dims, same
    * truncation convention as [[cosineSimilarity]].
    */
  def weightedCosine(x: ArrayData, y: ArrayData, w: Array[Double]): Double = {
    val n = math.min(math.min(x.numElements(), y.numElements()), w.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i) * w(i); val yv = y.getDouble(i) * w(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Shannon character entropy in bits — the gibberish/repetition
    * quality signal (low entropy = repeated boilerplate, high =
    * random noise; natural text sits ~3.5–4.5 bits/char).
    *
    * Determinism contract: H = (ln n − Σ cᵢ·ln cᵢ / n) / ln 2 with the
    * Σ folded in ASCENDING CHARACTER-CODE order — the oracle replays
    * the identical fold order (list_reduce over counts ordered by
    * char), so the only cross-engine slack is libm ln ulps, absorbed
    * by the 4dp rounding every comparison applies. Empty input → 0.
    */
  def charEntropyBits(text: UTF8String): Double = {
    val s = text.toString
    if (s.isEmpty) return 0.0
    // iterate CODE POINTS, not UTF-16 units: Spark's length() and the
    // oracle's per-character split are both code-point based, so a
    // surrogate pair must count as ONE symbol or H can exceed
    // log2(n_chars) and the replay diverges on astral characters
    val counts = new java.util.TreeMap[Integer, Int]()
    var n = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts.merge(cp, 1, (a, b) => a + b)
      n += 1
      i += Character.charCount(cp)
    }
    var sum = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val k = it.next().toDouble
      sum += k * math.log(k)
    }
    (math.log(n.toDouble) - sum / n) / math.log(2.0)
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    * the MOSS local fingerprinting scheme): hash every character
    * k-gram, slide a window of `w` consecutive gram hashes, and keep
    * each window's minimum. The guarantee: any shared substring of
    * length ≥ w + k − 1 yields at least one shared fingerprint, while
    * only ~2/(w+1) of all grams are kept — position-robust sampling
    * that fixed-stride sampling cannot give.
    *
    * Determinism contract (the oracle replays it exactly): gram hash
    * is the base-31 polynomial of the gram's Unicode CODE POINTS mod
    * 2⁴⁰; ties inside a window break to the LEFTMOST occurrence by
    * minimizing the combined key `hash·2²⁰ + position` (positions are
    * 0-based and < 2²⁰); a document shorter than w grams contributes
    * its single all-grams window. Output: the SORTED DISTINCT selected
    * hashes — position is the tiebreak, not part of the identity, so
    * cross-document matching joins on hash alone.
    *
    * One monotonic-deque pass per document: O(grams), compiled —
    * never a per-window rescan.
    */
  def winnowFingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    // decode to CODE POINTS first: the oracle's substr/ascii walk is
    // code-point based, so a surrogate pair must be ONE gram symbol
    // (with its full > 0xFFFF value) for the replay to hold on
    // non-BMP text
    val s = text.toString
    val cps = new Array[Int](s.codePointCount(0, s.length))
    var ci = 0
    var si = 0
    while (si < s.length) {
      val cp = s.codePointAt(si)
      cps(ci) = cp; ci += 1
      si += Character.charCount(cp)
    }
    val nGrams = cps.length - k + 1
    if (nGrams < 1) return new GenericArrayData(Array.emptyLongArray)
    val mask40 = (1L << 40) - 1
    val comb = new Array[Long](nGrams)
    // rolling base-31 polynomial over a k-symbol window: subtract the
    // outgoing symbol's 31^(k-1) term, shift, add the incoming symbol
    var top = 1L // 31^(k-1) mod 2^40
    var j = 1
    while (j < k) { top = (top * 31) & mask40; j += 1 }
    var h = 0L
    var i = 0
    while (i < k) { h = ((h * 31) + cps(i)) & mask40; i += 1 }
    comb(0) = (h << 20) | 0L
    i = 1
    while (i < nGrams) {
      h = ((h - ((top * cps(i - 1)) & mask40) & mask40) * 31 + cps(i + k - 1)) & mask40
      // positions ride in the low 20 bits as the tiebreak; docs past
      // 2^20 grams wrap (both engines apply the same mod, so the
      // selection stays deterministic and replayable)
      comb(i) = (h << 20) | (i & 0xFFFFF).toLong
      i += 1
    }
    val win = math.min(w, nGrams)
    // monotonic deque of indices whose comb values increase; the head
    // is the current window's minimum (combined key ⇒ leftmost tie)
    val deque = new Array[Int](nGrams)
    var head = 0; var tail = 0 // [head, tail) holds candidate indices
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    var last = -1L
    i = 0
    while (i < nGrams) {
      while (tail > head && comb(deque(tail - 1)) > comb(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - win) head += 1
      if (i >= win - 1) {
        val m = comb(deque(head))
        if (m != last) { selected += m >>> 20; last = m }
      }
      i += 1
    }
    val out = selected.toArray
    java.util.Arrays.sort(out)
    var n = 0
    i = 0
    while (i < out.length) {
      if (n == 0 || out(i) != out(n - 1)) { out(n) = out(i); n += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, n))
  }

  /** L1 (sum-of-absolute-differences) distance — the reconstruction-
    * error kernel of the quantization ops. Sequential index-order
    * fold, same order as DuckDB's `list_reduce`, so the value is
    * bit-identical across engines.
    */
  def l1Distance(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += math.abs(x.getDouble(i) - y.getDouble(i))
      i += 1
    }
    s
  }
}

/** Static kernels for the ANN expressions: plane/centroid tables ride
  * along as reference objects (`ctx.addReferenceObj`), so the per-row
  * work is one tight compiled loop — the HOF formulation
  * (`aggregate(zip_with(...))`) interprets bits×dim lambdas per row,
  * which dominated the full-corpus coding scans.
  *
  * Every accumulation below is a sequential index-order fold, the same
  * order as the HOF `aggregate` it replaces and as DuckDB's
  * `list_reduce` — bit-identical doubles, so the existing oracles
  * replay unchanged.
  */
object AnnKernels {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  /** Sign-bit bucket code: bit j set iff v·planes(j) > 0. */
  def hyperplaneCode(v: ArrayData, planes: Array[Array[Double]]): Long = {
    var code = 0L
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      val n = math.min(v.numElements(), p.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += v.getDouble(i) * p(i); i += 1 }
      if (dot > 0) code |= (1L << j)
      j += 1
    }
    code
  }

  private def sqDist(v: ArrayData, c: Array[Double]): Double = {
    val n = math.min(v.numElements(), c.length)
    var acc = 0.0
    var i = 0
    while (i < n) { val d = v.getDouble(i) - c(i); acc += d * d; i += 1 }
    acc
  }

  /** Cell id of the nearest centroid (squared L2; ties → the earliest
    * row, i.e. the lowest cell id when `cellIds` is ascending — the
    * same rule as `ROW_NUMBER() OVER (ORDER BY dist, cell)`).
    */
  def nearestCell(v: ArrayData, cents: Array[Array[Double]], cellIds: Array[Int]): Int = {
    // invertedFile is public API: an empty centroid set must fail the
    // call clearly, not crash a task with cellIds(-1)
    require(cents.nonEmpty, "nearestCell: empty centroid set")
    // Double.compare (not <): NaN distances sort AFTER +Inf — the same
    // total order Spark's and DuckDB's ORDER BY use — so a vector with
    // NaN coords still resolves deterministically instead of depending
    // on IEEE comparison semantics
    var best = -1
    var bestD = 0.0
    var j = 0
    while (j < cents.length) {
      val d = sqDist(v, cents(j))
      if (best < 0 || java.lang.Double.compare(d, bestD) < 0) { bestD = d; best = j }
      j += 1
    }
    cellIds(best)
  }

  /** One sweep, both answers: (nearest cell id, squared L2 to it) —
    * the argmin pass already holds the min distance, so callers that
    * need the assignment AND the quantization error (OOD scoring,
    * the index audit) must not pay the centroid sweep twice; callers
    * that need only the error read its `sq`. Same argmin/tie/NaN rule
    * as [[nearestCell]].
    */
  def nearestCellWithDist(v: ArrayData, cents: Array[Array[Double]],
      cellIds: Array[Int]): org.apache.spark.sql.catalyst.InternalRow = {
    require(cents.nonEmpty, "nearestCellWithDist: empty centroid set")
    var best = -1
    var bestD = 0.0
    var j = 0
    while (j < cents.length) {
      val d = sqDist(v, cents(j))
      if (best < 0 || java.lang.Double.compare(d, bestD) < 0) { bestD = d; best = j }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](cellIds(best), bestD))
  }

  /** The `nprobe` nearest cell ids, ordered by (dist asc, cell asc) —
    * repeated argmin under Double.compare's total order (ties resolve
    * to the lower cell; NaN distances rank last but never crash).
    */
  def nearestCells(v: ArrayData, cents: Array[Array[Double]], cellIds: Array[Int],
      nprobe: Int): ArrayData = {
    val m = cents.length
    val dists = new Array[Double](m)
    var j = 0
    while (j < m) { dists(j) = sqDist(v, cents(j)); j += 1 }
    val taken = new Array[Boolean](m)
    val k = math.min(nprobe, m)
    val out = new Array[Int](k)
    var r = 0
    while (r < k) {
      // Double.compare, not <: with plain < an all-NaN tail leaves
      // best = -1 and crashes the task (see nearestCell)
      var best = -1
      var bestD = 0.0
      j = 0
      while (j < m) {
        if (!taken(j) && (best < 0 || java.lang.Double.compare(dists(j), bestD) < 0)) {
          bestD = dists(j); best = j
        }
        j += 1
      }
      taken(best) = true
      out(r) = cellIds(best)
      r += 1
    }
    new GenericArrayData(out)
  }

  private def sqDistPacked(v: ArrayData, c: ArrayData): Double = {
    val n = math.min(v.numElements(), c.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { val d = v.getDouble(i) - c.getDouble(i); acc += d * d; i += 1 }
    acc
  }

  /** [[nearestCells]] over a PACKED centroid group
    * (array<array<double>> column) — the two-level IVF kernel: the
    * `nprobe` nearest fine cells for a probe, the nearest one (at
    * nprobe = 1) for an assignment. The coarse quantizer prunes the
    * centroid table to a per-row neighbourhood that arrives as DATA
    * through a broadcast join, not as a codegen reference object — at
    * 10⁸ vectors the full fine table (~400 MB) never ships on the
    * codegen classpath and the per-row sweep is the neighbourhood,
    * not all cells. Same repeated argmin under Double.compare as
    * [[nearestCells]], but ties resolve to the LOWEST CELL ID, not the
    * earliest row: the concatenated probe groups arrive in probe
    * order, not globally id-ascending, so "earliest row" would diverge
    * from the oracle's ROW_NUMBER(ORDER BY dist, cell) on an exact
    * distance tie (possible when two cells hold identical centroids).
    */
  def nearestCellsPacked(v: ArrayData, cents: ArrayData, ids: ArrayData,
      nprobe: Int): ArrayData = {
    val m = cents.numElements()
    // an empty group would leave best = -1 and surface as an opaque
    // ArrayIndexOutOfBounds inside codegen
    require(m > 0, "nearestCellsPacked: empty centroid group")
    val dists = new Array[Double](m)
    var j = 0
    while (j < m) { dists(j) = sqDistPacked(v, cents.getArray(j)); j += 1 }
    val taken = new Array[Boolean](m)
    val k = math.min(nprobe, m)
    val out = new Array[Int](k)
    var r = 0
    while (r < k) {
      // (dist, LOWEST id) total order — see the tie note above
      var best = -1
      var bestD = 0.0
      var bestId = 0
      j = 0
      while (j < m) {
        if (!taken(j)) {
          val id = ids.getInt(j)
          val cmp = if (best < 0) -1 else java.lang.Double.compare(dists(j), bestD)
          if (cmp < 0 || (cmp == 0 && id < bestId)) { bestD = dists(j); best = j; bestId = id }
        }
        j += 1
      }
      taken(best) = true
      out(r) = bestId
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Symmetric int8 quantization code for one element: round-half-up
    * toward +∞ via floor(x/scale + 0.5) — the same expression DuckDB
    * replays exactly (round()'s half-rule differs between engines;
    * floor(+0.5) does not) — clamped to [-127, 127]. */
  private def int8Code(x: Double, scale: Double): Long =
    if (scale == 0.0) 0L
    else {
      val r = math.floor(x / scale + 0.5)
      (if (r > 127.0) 127.0 else if (r < -127.0) -127.0 else r).toLong
    }

  /** `[scale, mae, n_sat]` of a vector's symmetric int8 quantization:
    * scale = max|x|/127, mae = mean |x - code·scale| (index-order
    * accumulation — replayable as a DuckDB sequential list fold),
    * n_sat = #codes clamped at ±127.
    */
  def int8QuantStats(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val x = math.abs(v.getDouble(i))
      if (x > maxAbs) maxAbs = x
      i += 1
    }
    val scale = maxAbs / 127.0
    var err = 0.0
    var sat = 0L
    i = 0
    while (i < n) {
      val x = v.getDouble(i)
      val c = int8Code(x, scale)
      if (c == 127L || c == -127L) sat += 1
      err += math.abs(x - c * scale)
      i += 1
    }
    new GenericArrayData(Array(scale, if (n == 0) 0.0 else err / n, sat.toDouble))
  }

  /** Quantize-then-dequantize in one compiled pass: code·scale per
    * element — the vectors a quantized index actually searches. */
  def int8Recon(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val x = math.abs(v.getDouble(i))
      if (x > maxAbs) maxAbs = x
      i += 1
    }
    val scale = maxAbs / 127.0
    val out = new Array[Double](n)
    i = 0
    while (i < n) {
      out(i) = int8Code(v.getDouble(i), scale) * scale
      i += 1
    }
    new GenericArrayData(out)
  }

  // ------------------------------------------------------- true ADC
  // PQ's asymmetric distance computation as Jégou et al. 2011 §V
  // actually runs it: the candidate relation carries only the m small
  // CODES; per query a lookup table of per-subspace partial dot
  // products (m·k doubles — KBs) is built ONCE, and each candidate is
  // scored by m table lookups. The reconstructed vector (~dim doubles
  // per candidate, ~32× the codes) never exists — neither in the join
  // relation nor in the scoring pass.
  //
  // Determinism contract (both kernels together reproduce the exact
  // arithmetic the DuckDB oracle replays): every partial is a
  // left-to-right index-order fold from 0.0 — per-subspace dot/norm
  // partials over the dsub dims, the cross-subspace sums in ascending
  // subspace order, the query norm over the full vector — so
  // adcCosine(pqQueryLut(q), codes) is bit-identical to the oracle's
  // list(partial ORDER BY sub) fold. Note the BLOCKED fold order is
  // the kernel's own contract: it differs from cosineSimilarity's
  // flat fold by ulps (a different but equally deterministic
  // association), and the oracle replays the blocked form.

  /** Flattened per-(subspace, code) squared norms of the codebook
    * centroids — the query-independent half of the ADC cosine,
    * computed once driver-side (per-sub fold order = the oracle's).
    */
  def adcNorms(books: Array[Array[Array[Double]]]): Array[Double] = {
    val out = Array.newBuilder[Double]
    var s = 0
    while (s < books.length) {
      val book = books(s)
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var acc = 0.0
        var j = 0
        while (j < cent.length) { acc += cent(j) * cent(j); j += 1 }
        out += acc
        c += 1
      }
      s += 1
    }
    out.result()
  }

  /** Flattened codebook offsets: slot of (sub s, code 0) in the LUT /
    * norm layout. Codebooks may have differing sizes per subspace
    * (empty Lloyd cells vanish per subspace), so the layout is
    * offset-indexed, not a fixed m×k grid.
    */
  def adcOffsets(books: Array[Array[Array[Double]]]): Array[Int] = {
    val out = new Array[Int](books.length)
    var acc = 0
    var s = 0
    while (s < books.length) { out(s) = acc; acc += books(s).length; s += 1 }
    out
  }

  /** The per-query ADC lookup table: one slot per (subspace, code)
    * holding the partial dot product of the query's subvector with
    * that codebook centroid, plus ONE trailing slot with the query's
    * squared norm. Built once per query row (|Q|·nprobe rows — never
    * per candidate); total+1 doubles ≈ KBs.
    */
  def pqQueryLut(v: ArrayData, books: Array[Array[Array[Double]]],
      dsub: Int): ArrayData = {
    var total = 0
    var s = 0
    while (s < books.length) { total += books(s).length; s += 1 }
    val out = new Array[Double](total + 1)
    val n = v.numElements()
    var base = 0
    s = 0
    while (s < books.length) {
      val book = books(s)
      val off = s * dsub
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        // clamp to the vector's actual length: a short/degenerate
        // vector contributes partials over the dims it has (the same
        // truncation convention as cosineSimilarity)
        val lim = math.min(cent.length, math.max(0, n - off))
        var acc = 0.0
        var j = 0
        while (j < lim) { acc += v.getDouble(off + j) * cent(j); j += 1 }
        out(base + c) = acc
        c += 1
      }
      base += book.length
      s += 1
    }
    var qn = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); qn += x * x; i += 1 }
    out(total) = qn
    new GenericArrayData(out)
  }

  /** ADC cosine from CODES: m lookups into the per-query LUT (dot
    * partials) and the constant norm table — the hot-path scoring
    * kernel. cos(q, recon(codes)) exactly, because recon is a
    * concatenation of per-subspace centroids: dot(q, recon) = Σ_s
    * lut[s][code_s] and |recon|² = Σ_s |centroid_s|². A negative code
    * (the empty-codebook sentinel from AnnPq.encode) contributes
    * nothing to either sum — total on degenerate corpora.
    */
  def adcCosine(lut: ArrayData, codes: ArrayData, norms: Array[Double],
      offsets: Array[Int]): Double = {
    var dot = 0.0
    var n2 = 0.0
    var s = 0
    while (s < offsets.length) {
      val code = codes.getInt(s)
      if (code >= 0) {
        val idx = offsets(s) + code
        dot += lut.getDouble(idx)
        n2 += norms(idx)
      }
      s += 1
    }
    val qn = lut.getDouble(lut.numElements() - 1)
    dot / (math.sqrt(qn) * math.sqrt(n2))
  }

  /** ADC cosine straight from (query vector, codes) — the hot-path
    * form the composed search and the streaming serves execute.
    * Numerically IDENTICAL to pqQueryLut + adcCosine (per-subspace
    * partials folded j-ascending, summed s-ascending, query norm over
    * the full vector — the adcCtes oracle contract), but with ZERO
    * per-call allocation. The per-query LUT formulation amortizes the
    * subvector dots across a cell's candidates in a FAISS-style tight
    * loop; under whole-stage codegen a non-cheap projection below the
    * stream side of a broadcast join is re-evaluated PER MATCH, so the
    * KB-sized LUT was rebuilt (and its 1 025 doubles boxed into a
    * GenericArrayData) once per CANDIDATE — jstack-attributed as ~85 s
    * of the 130 s sf1 serve regression. Direct scoring is ~100 flops
    * per candidate, allocation-free, and safe at any candidate volume.
    */
  def adcCosineFromQuery(qv: ArrayData, codes: ArrayData,
      books: Array[Array[Array[Double]]], dsub: Int,
      norms: Array[Double], offsets: Array[Int]): Double = {
    val n = qv.numElements()
    var dot = 0.0
    var n2 = 0.0
    var s = 0
    while (s < offsets.length) {
      val code = codes.getInt(s)
      if (code >= 0) {
        val cent = books(s)(code)
        val off = s * dsub
        // the same clamped j-ascending partial fold as pqQueryLut
        val lim = math.min(cent.length, math.max(0, n - off))
        var p = 0.0
        var j = 0
        while (j < lim) { p += qv.getDouble(off + j) * cent(j); j += 1 }
        dot += p
        n2 += norms(offsets(s) + code)
      }
      s += 1
    }
    var qn = 0.0
    var i = 0
    while (i < n) { val x = qv.getDouble(i); qn += x * x; i += 1 }
    dot / (math.sqrt(qn) * math.sqrt(n2))
  }
}

/** Random-hyperplane LSH bucket code of an array<double> vector —
  * native replacement for the interpreted
  * `sum(CASE WHEN aggregate(zip_with(v, plane_j, *), 0, +) > 0 ...)`
  * per-bit HOF chain (bits×dim interpreted lambdas per row).
  */
case class HyperplaneCode(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  @transient private lazy val planeArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def nullSafeEval(v: Any): Any =
    AnnKernels.hyperplaneCode(v.asInstanceOf[ArrayData], planeArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planeArr, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.AnnKernels.hyperplaneCode($c, $ref);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "hyperplane_code"
}

/** IVF assignment as a pure projection: the nearest centroid's cell id
  * (centroids ride along as a reference object — they are ≤ cells×dim
  * doubles, the quintessential broadcast-sized table). Replaces the
  * crossJoin(centroids) + `ROW_NUMBER OVER (PARTITION BY id)` plan,
  * whose cells× row amplification and full-corpus window shuffle were
  * the IVF scale-killers.
  */
case class NearestCell(child: Expression, cents: Seq[Seq[Double]], cellIds: Seq[Int])
    extends UnaryExpression with ImplicitCastInputTypes {
  // construction-time, not per-row: a cells/ids length mismatch would
  // otherwise surface as a silent wrong id or a per-row AIOOBE deep in
  // codegen. EMPTY centroids stay legal at construction — a zero-row
  // corpus produces zero centroids and evaluates zero rows
  // (EmptyInputSpec totality); the kernel's per-row require guards the
  // only case where emptiness is actually reachable.
  require(cellIds.length == cents.length,
    s"nearest_cell: ${cellIds.length} cell ids for ${cents.length} centroids")
  import org.apache.spark.sql.catalyst.util.ArrayData
  @transient private lazy val centArr: Array[Array[Double]] = cents.map(_.toArray).toArray
  @transient private lazy val idArr: Array[Int] = cellIds.toArray
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def nullSafeEval(v: Any): Any =
    AnnKernels.nearestCell(v.asInstanceOf[ArrayData], centArr, idArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", centArr, "double[][]")
    val iRef = ctx.addReferenceObj("cellIds", idArr, "int[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.AnnKernels.nearestCell($c, $cRef, $iRef);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "nearest_cell"
}

/** (nearest cell, squared distance to it) in ONE compiled centroid
  * sweep — for consumers needing assignment + quantization error
  * together (OOD scoring, the index audit): composing [[NearestCell]]
  * with a separate distance kernel would run the identical argmin
  * twice.
  */
case class NearestCellWithDist(child: Expression, cents: Seq[Seq[Double]],
    cellIds: Seq[Int]) extends UnaryExpression with ImplicitCastInputTypes {
  require(cellIds.length == cents.length,
    s"nearest_cell_with_dist: ${cellIds.length} cell ids for ${cents.length} centroids")
  import org.apache.spark.sql.catalyst.util.ArrayData
  @transient private lazy val centArr: Array[Array[Double]] = cents.map(_.toArray).toArray
  @transient private lazy val idArr: Array[Int] = cellIds.toArray
  override def dataType: DataType = StructType(Seq(
    StructField("cell", org.apache.spark.sql.types.IntegerType, nullable = false),
    StructField("sq", DoubleType, nullable = false)))
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def nullSafeEval(v: Any): Any =
    AnnKernels.nearestCellWithDist(v.asInstanceOf[ArrayData], centArr, idArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", centArr, "double[][]")
    val iRef = ctx.addReferenceObj("cellIds", idArr, "int[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.AnnKernels.nearestCellWithDist($c, $cRef, $iRef);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "nearest_cell_with_dist"
}

/** The nprobe nearest cell ids for a query vector, ordered by
  * (dist, cell) — the IVF probe set, as one compiled projection.
  */
case class NearestCells(child: Expression, cents: Seq[Seq[Double]], cellIds: Seq[Int],
    nprobe: Int) extends UnaryExpression with ImplicitCastInputTypes {
  require(cellIds.length == cents.length,
    s"nearest_cells: ${cellIds.length} cell ids for ${cents.length} centroids")
  require(nprobe >= 1, s"nearest_cells: nprobe must be >= 1, got $nprobe")
  import org.apache.spark.sql.catalyst.util.ArrayData
  @transient private lazy val centArr: Array[Array[Double]] = cents.map(_.toArray).toArray
  @transient private lazy val idArr: Array[Int] = cellIds.toArray
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def nullSafeEval(v: Any): Any =
    AnnKernels.nearestCells(v.asInstanceOf[ArrayData], centArr, idArr, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", centArr, "double[][]")
    val iRef = ctx.addReferenceObj("cellIds", idArr, "int[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.AnnKernels.nearestCells($c, $cRef, $iRef, $nprobe);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "nearest_cells"
}

/** The `nprobe` nearest fine cells within a PACKED centroid group
  * column (array<array<double>> + array<int> ids) — the two-level
  * probe set, and at nprobe = 1 the two-level assignment. Unlike
  * [[NearestCells]], the centroids are DATA (from a broadcast join on
  * the coarse cell), not a codegen reference object, so the fine
  * table never ships on the codegen classpath and per-row work is the
  * pruned neighbourhood, not all cells.
  */
case class NearestCellsInGroup(first: Expression, second: Expression, third: Expression,
    nprobe: Int) extends TernaryExpression with ImplicitCastInputTypes {
  require(nprobe >= 1, s"nearest_cells_in_group: nprobe must be >= 1, got $nprobe")
  import org.apache.spark.sql.catalyst.util.ArrayData
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType),
    ArrayType(ArrayType(DoubleType)), ArrayType(org.apache.spark.sql.types.IntegerType))
  override def nullSafeEval(v: Any, cents: Any, ids: Any): Any =
    AnnKernels.nearestCellsPacked(v.asInstanceOf[ArrayData],
      cents.asInstanceOf[ArrayData], ids.asInstanceOf[ArrayData], nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c, i) =>
      s"${ev.value} = graft.functions.expressions.AnnKernels.nearestCellsPacked($v, $c, $i, $nprobe);")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
  override def prettyName: String = "nearest_cells_in_group"
}

/** MinHash signature (k slots) of a pre-hashed shingle set
  * (array<long>, from GramHashes).
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def nullSafeEval(v: Any): Any =
    ExprKernels.minhashSignature(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.ExprKernels.minhashSignature($c, $k);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "minhash_signature"
}

/** Count of positions where two equal-length long arrays agree —
  * the MinHash jaccard estimator numerator. Compiled loop over
  * ArrayData (the zip_with/aggregate HOF chain interprets per
  * element, which dominates on millions of candidate pairs).
  */
case class SignatureOverlap(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.signatureOverlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.ExprKernels.signatureOverlap($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "signature_overlap"
}

/** Sorted distinct 64-bit hashes of an array<string> — the compact
  * shingle-set representation: set ops on longs instead of strings
  * (collision odds ~|set|²/2⁶⁴, irrelevant for dedup).
  */
case class GramHashes(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def nullSafeEval(v: Any): Any =
    ExprKernels.gramHashes(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.ExprKernels.gramHashes($c);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "gram_hashes"
}

/** Word n-grams of a document under the shared whitespace rule —
  * compiled counterpart of the interpreted transform/slice/concat_ws
  * chain; see ExprKernels.wordGrams for the parity contract.
  */
case class WordGrams(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"word_grams: n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(v: Any): Any =
    ExprKernels.wordGrams(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.ExprKernels.wordGrams($c, $n);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "word_grams"
}

/** Shannon character entropy (bits/char) of a string — one compiled
  * counting pass per row (see ExprKernels.charEntropyBits for the
  * cross-engine fold-order contract).
  */
case class CharEntropy(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(v: Any): Any =
    ExprKernels.charEntropyBits(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.ExprKernels.charEntropyBits($c);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "char_entropy"
}

/** Winnowing fingerprints (MOSS): sorted distinct selected k-gram
  * hashes of a document under the w-window minimum rule — see
  * ExprKernels.winnowFingerprints for the determinism contract. One
  * compiled monotonic-deque pass per row; k and w parameterize the
  * generated code.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  require(k >= 2 && w >= 1, s"winnow_fingerprints needs k>=2, w>=1 (got k=$k, w=$w)")
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(v: Any): Any =
    ExprKernels.winnowFingerprints(v.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.ExprKernels.winnowFingerprints($c, $k, $w);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "winnow_fingerprints"
}

/** Intersection size of two SORTED long arrays (merge walk) — exact
  * set intersection at ~600 long compares per pair instead of a
  * per-pair hash set of strings.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.ExprKernels.sortedIntersectCount($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "sorted_intersect_count"
}

/** Cosine similarity of two array<double> vectors in one compiled
  * pass (dot and both norms together). Sequential accumulation order
  * matches the HOF `aggregate` formulation and DuckDB's
  * list_cosine_similarity to within ulps (outputs are rounded to 4dp
  * wherever oracle-compared).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.cosineSimilarity(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.ExprKernels.cosineSimilarity($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_similarity"
}

/** L1 distance between two double arrays (reconstruction error of the
  * quantization ops) — one compiled index-order pass.
  */
case class L1Distance(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.l1Distance(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.ExprKernels.l1Distance($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "l1_distance"
}

/** Content-defined chunk fingerprints of a document (rolling-window
  * FNV boundaries, polynomial chunk hashes) — the shift-resistant
  * chunk-level dedup primitive (see ExprKernels.chunkFingerprints).
  */
case class ChunkFingerprints(child: Expression, w: Int, mask: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(v: Any): Any =
    ExprKernels.chunkFingerprints(v.asInstanceOf[UTF8String], w, mask)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.ExprKernels.chunkFingerprints($c, $w, ${mask}L);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "chunk_fingerprints"
}

/** SimHash64 fingerprint of a document's token stream. */
case class SimHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(v: Any): Any =
    SimHash.ofTokens(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.SimHash.ofTokens($c);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** `[scale, mae, n_sat]` of a vector's symmetric int8 quantization —
  * the storage-planning stats (see AnnKernels.int8QuantStats). A fixed
  * 3-slot double array rather than a struct keeps the codegen path the
  * same one every other array kernel uses.
  */
case class Int8QuantStats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def nullSafeEval(v: Any): Any =
    AnnKernels.int8QuantStats(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.AnnKernels.int8QuantStats($c);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "int8_quant_stats"
}

/** Quantize-then-dequantize of an array<double> vector (one compiled
  * pass) — what a quantized ANN index searches against.
  */
case class Int8Recon(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def nullSafeEval(v: Any): Any =
    AnnKernels.int8Recon(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.AnnKernels.int8Recon($c);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "int8_recon"
}

/** The per-query ADC lookup table (partial dot products per
  * (subspace, code) + trailing query norm) — the query-side half of
  * true ADC scoring. Codebooks ride along as a reference object
  * (m·k·dsub doubles — the broadcast-sized training artifact); the
  * output is KBs per QUERY row, never per candidate.
  */
case class PqQueryLut(child: Expression, books: Seq[Seq[Seq[Double]]], dsub: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(dsub >= 1, s"pq_query_lut: dsub must be >= 1, got $dsub")
  import org.apache.spark.sql.catalyst.util.ArrayData
  @transient private lazy val bookArr: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def nullSafeEval(v: Any): Any =
    AnnKernels.pqQueryLut(v.asInstanceOf[ArrayData], bookArr, dsub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("books", bookArr, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.AnnKernels.pqQueryLut($c, $bRef, $dsub);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "pq_query_lut"
}

/** True-ADC cosine from a per-query LUT and a candidate's m CODES —
  * the hot-path PQ scoring kernel: m table lookups per candidate, no
  * reconstructed vector anywhere (the codebook norm table and layout
  * offsets are constants derived from the books).
  */
case class AdcCosine(left: Expression, right: Expression, books: Seq[Seq[Seq[Double]]])
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  @transient private lazy val bookArr: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val normArr: Array[Double] = AnnKernels.adcNorms(bookArr)
  @transient private lazy val offArr: Array[Int] = AnnKernels.adcOffsets(bookArr)
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType),
    ArrayType(org.apache.spark.sql.types.IntegerType))
  override def nullSafeEval(lut: Any, codes: Any): Any =
    AnnKernels.adcCosine(lut.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData],
      normArr, offArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nRef = ctx.addReferenceObj("norms", normArr, "double[]")
    val oRef = ctx.addReferenceObj("offsets", offArr, "int[]")
    nullSafeCodeGen(ctx, ev, (l, c) =>
      s"${ev.value} = graft.functions.expressions.AnnKernels.adcCosine($l, $c, $nRef, $oRef);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "adc_cosine"
}

/** True-ADC cosine straight from (query vector, candidate CODES) —
  * see AnnKernels.adcCosineFromQuery for why this beats the LUT
  * formulation under whole-stage codegen (bit-identical folds, zero
  * per-call allocation; AnnSpec pins the bit-equality).
  */
case class AdcCosineFromQuery(left: Expression, right: Expression,
    books: Seq[Seq[Seq[Double]]], dsub: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  require(dsub >= 1, s"adc_cosine_from_query: dsub must be >= 1, got $dsub")
  import org.apache.spark.sql.catalyst.util.ArrayData
  @transient private lazy val bookArr: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val normArr: Array[Double] = AnnKernels.adcNorms(bookArr)
  @transient private lazy val offArr: Array[Int] = AnnKernels.adcOffsets(bookArr)
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType),
    ArrayType(org.apache.spark.sql.types.IntegerType))
  override def nullSafeEval(qv: Any, codes: Any): Any =
    AnnKernels.adcCosineFromQuery(qv.asInstanceOf[ArrayData],
      codes.asInstanceOf[ArrayData], bookArr, dsub, normArr, offArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("books", bookArr, "double[][][]")
    val nRef = ctx.addReferenceObj("norms", normArr, "double[]")
    val oRef = ctx.addReferenceObj("offsets", offArr, "int[]")
    nullSafeCodeGen(ctx, ev, (q, c) =>
      s"${ev.value} = graft.functions.expressions.AnnKernels.adcCosineFromQuery(" +
        s"$q, $c, $bRef, $dsub, $nRef, $oRef);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "adc_cosine_from_query"
}

/** Cosine under a per-dimension weight profile (weights ride along as
  * a reference object, like the LSH planes) — one compiled pass, no
  * materialized weighted-vector column, no HOF transform on the scan.
  */
case class WeightedCosine(left: Expression, right: Expression, weights: Seq[Double])
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  @transient private lazy val wArr: Array[Double] = weights.toArray
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.weightedCosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], wArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("weights", wArr, "double[]")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.ExprKernels.weightedCosine($a, $b, $ref);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "weighted_cosine"
}

/** Aggregation buffer for [[VectorDecimalMean]]: a group row count
  * plus one exact decimal sum per dimension (null = no contribution
  * yet — distinguishes "no finite element seen" from a zero sum,
  * which the NULL-semantics contract below requires).
  */
final class VecMeanBuffer(val dim: Int) extends Serializable {
  var n: Long = 0L
  val sums: Array[java.math.BigDecimal] = new Array[java.math.BigDecimal](dim)
}

/** Per-dimension mean of an array<double> group with decimal-exact
  * accumulation — ONE compiled aggregate kernel replacing the
  * 64-wide `sum(try_element_at(v, i).cast(DECIMAL(18,6)))` aggregate
  * list whose per-dimension expression overhead was the IVF Lloyd
  * refinement's cost (r5 bench: 0.72 s → 3.49 s).
  *
  * Semantics contract (EdgeCaseSpec's degenerate-vector sweep pins
  * it; bit-compatible with the expression formulation it replaces):
  *  - every input row counts toward n, even a NULL / empty vector
  *    (`count(lit(1))` semantics);
  *  - a missing dimension (short vector), NULL element, NaN/Inf
  *    (double→decimal cast → NULL), or |element| ≥ 10¹² (DECIMAL(18,6)
  *    overflow → NULL under non-ANSI cast) contributes nothing;
  *  - each contribution is the element rounded HALF_UP to 6 dp —
  *    exactly `CAST(double AS DECIMAL(18,6))` on both engines;
  *  - a dimension with no contributions (or a sum past the
  *    DECIMAL(28,6) domain, the non-ANSI sum-overflow NULL) yields
  *    the COALESCE(sum, 0) of the original formulation: 0/n;
  *  - the mean is `sum.toDouble / n` — the same one-double-division
  *    shape DuckDB's replay uses, so centroids stay bit-identical.
  *
  * Runs as ObjectHashAggregate with map-side partial merge; the
  * buffer is dim BigDecimals, so a 64-dim refinement carries one
  * object per group instead of 64 Decimal aggregate buffers.
  */
case class VectorDecimalMean(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[VecMeanBuffer]
  with ImplicitCastInputTypes
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  import java.math.{BigDecimal => JBD}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  // DECIMAL(18,6) element / DECIMAL(28,6) sum domain bounds — the
  // non-ANSI NULL-on-overflow thresholds of the replaced expressions
  @transient private lazy val elemLimit = JBD.TEN.pow(12)
  @transient private lazy val sumLimit = JBD.TEN.pow(22)

  override def createAggregationBuffer(): VecMeanBuffer = new VecMeanBuffer(dim)

  override def update(b: VecMeanBuffer, input: InternalRow): VecMeanBuffer = {
    b.n += 1
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val m = math.min(arr.numElements(), dim)
      var i = 0
      while (i < m) {
        if (!arr.isNullAt(i)) {
          val d = arr.getDouble(i)
          if (!java.lang.Double.isNaN(d) && !java.lang.Double.isInfinite(d)) {
            val bd = JBD.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP)
            if (bd.abs.compareTo(elemLimit) < 0) {
              b.sums(i) = if (b.sums(i) == null) bd else b.sums(i).add(bd)
            }
          }
        }
        i += 1
      }
    }
    b
  }

  override def merge(b: VecMeanBuffer, o: VecMeanBuffer): VecMeanBuffer = {
    b.n += o.n
    var i = 0
    while (i < dim) {
      if (o.sums(i) != null) {
        b.sums(i) = if (b.sums(i) == null) o.sums(i) else b.sums(i).add(o.sums(i))
      }
      i += 1
    }
    b
  }

  override def eval(b: VecMeanBuffer): Any = {
    if (b.n == 0L) return null
    val out = new Array[Any](dim)
    val nD = b.n.toDouble
    var i = 0
    while (i < dim) {
      val s = b.sums(i)
      val sD =
        if (s == null || s.abs.compareTo(sumLimit) >= 0) 0.0
        else s.doubleValue()
      out(i) = sD / nD
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: VecMeanBuffer): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeLong(b.n)
    out.writeInt(b.dim)
    var i = 0
    while (i < b.dim) {
      val s = b.sums(i)
      if (s == null) out.writeInt(-1)
      else {
        val bytes = s.unscaledValue().toByteArray
        out.writeInt(bytes.length)
        out.write(bytes)
      }
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecMeanBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readLong()
    val d = in.readInt()
    val b = new VecMeanBuffer(d)
    b.n = n
    var i = 0
    while (i < d) {
      val len = in.readInt()
      if (len >= 0) {
        val u = new Array[Byte](len)
        in.readFully(u)
        b.sums(i) = new JBD(new java.math.BigInteger(u), 6)
      }
      i += 1
    }
    b
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def withNewMutableAggBufferOffset(o: Int): VectorDecimalMean =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorDecimalMean =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "vector_decimal_mean"
}

/** Aggregation buffer for [[MisraGries]]: total non-null input count
  * plus at most k (token → lower-bound count) counters.
  */
final class MGBuffer(val k: Int) extends Serializable {
  var n: Long = 0L
  val counts = new java.util.HashMap[String, Long](k * 2)
}

/** Misra–Gries heavy-hitter sketch over a string column: a bounded-
  * memory (≤ k counters) frequency summary whose candidate set is a
  * guaranteed SUPERSET of every value with true frequency > n/k —
  * the sketch may admit extras and under-count, but it can never
  * miss a true heavy hitter (Misra & Gries 1982; mergeable form per
  * Agarwal et al., "Mergeable Summaries", PODS 2012).
  *
  * This is the 100 TB answer to "which tokens dominate the corpus":
  * a plain `groupBy(token)` shuffles the ENTIRE vocabulary (for
  * n-grams, billions of keys); this aggregate carries at most k
  * counters per partition partial and merges them on one reducer,
  * after which an exact recount of the ≤ k candidates (broadcast
  * semi-join, second scan) restores exactness. The driver oracle for
  * [[graft.queries.Text]]'s doc_heavy_hitters is therefore plain
  * exact SQL — the sketch is a prefilter, never the answer.
  *
  * Semantics: NULL inputs are ignored entirely (no n contribution);
  * the returned struct is (n, candidates sorted lexically). update
  * is O(1) amortized except the decrement sweep, which is O(k) per
  * admitted-then-evicted key — worst case O(n·k) on an adversarial
  * flat stream, bounded and branch-free enough that k=200 over a
  * 270k-token corpus costs milliseconds. merge applies the mergeable-
  * summaries rule: sum counters, then subtract the (k+1)-th largest
  * value and drop non-positives, preserving total error ≤ n/(k+1).
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[MGBuffer]
  with ImplicitCastInputTypes
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(k >= 1, s"misra_gries k must be >= 1, got $k")

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  override def createAggregationBuffer(): MGBuffer = new MGBuffer(k)

  override def update(b: MGBuffer, input: InternalRow): MGBuffer = {
    val v = child.eval(input)
    if (v != null) {
      b.n += 1
      val key = v.asInstanceOf[UTF8String].toString
      val cur = b.counts.get(key)
      if (cur != 0L || b.counts.containsKey(key)) {
        b.counts.put(key, cur + 1L)
      } else if (b.counts.size < k) {
        b.counts.put(key, 1L)
      } else {
        // classic MG step: the new key and every counter give up one
        // occurrence; zeroed counters free their slots
        val it = b.counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
        }
      }
    }
    b
  }

  override def merge(b: MGBuffer, o: MGBuffer): MGBuffer = {
    b.n += o.n
    val it = o.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = b.counts.get(e.getKey)
      b.counts.put(e.getKey, cur + e.getValue)
    }
    if (b.counts.size > k) {
      // mergeable-summaries trim: subtract the (k+1)-th largest count
      // from every counter, drop non-positives — back to ≤ k entries
      val vals = new Array[Long](b.counts.size)
      val vit = b.counts.values().iterator()
      var i = 0
      while (vit.hasNext) { vals(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val t = vals(vals.length - (k + 1)) // (k+1)-th largest
      val eit = b.counts.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        if (e.getValue <= t) eit.remove() else e.setValue(e.getValue - t)
      }
    }
    b
  }

  override def eval(b: MGBuffer): Any = {
    val keys = new Array[String](b.counts.size)
    val it = b.counts.keySet().iterator()
    var i = 0
    while (it.hasNext) { keys(i) = it.next(); i += 1 }
    java.util.Arrays.sort(keys, java.util.Comparator.naturalOrder[String]())
    InternalRow(b.n,
      new GenericArrayData(keys.map(s => UTF8String.fromString(s): Any)))
  }

  // length-prefixed UTF-8, not writeUTF: writeUTF caps keys at 64 KiB
  // encoded and a web corpus routinely carries longer unbroken tokens
  // (minified JS, base64 blobs) — a partial buffer holding one must
  // still round-trip through the shuffle
  override def serialize(b: MGBuffer): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeLong(b.n)
    out.writeInt(b.counts.size)
    val it = b.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length)
      out.write(kb)
      out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MGBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val b = new MGBuffer(k)
    b.n = in.readLong()
    val sz = in.readInt()
    var i = 0
    while (i < sz) {
      val len = in.readInt()
      val kb = new Array[Byte](len)
      in.readFully(kb)
      b.counts.put(new String(kb, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    b
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("candidates", ArrayType(StringType, containsNull = false),
      nullable = false)))
  override def nullable: Boolean = false
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def withNewMutableAggBufferOffset(o: Int): MisraGries =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGries =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "misra_gries"
}

/** Column-level entry points (Spark 4: Column↔Expression bridge via
  * classic.ExpressionUtils).
  */
object GraftFunctions {
  import org.apache.spark.sql.graft.Bridge.{column, expression}
  def hamming64(a: Column, b: Column): Column = column(HammingDistance64(expression(a), expression(b)))
  def minhashSignature(grams: Column, k: Int): Column = column(MinHashSignature(expression(grams), k))
  def signatureOverlap(a: Column, b: Column): Column = column(SignatureOverlap(expression(a), expression(b)))
  def gramHashes(grams: Column): Column = column(GramHashes(expression(grams)))
  def cosineSimilarity(a: Column, b: Column): Column = column(CosineSimilarity(expression(a), expression(b)))
  def l1Distance(a: Column, b: Column): Column = column(L1Distance(expression(a), expression(b)))
  def sortedIntersectCount(a: Column, b: Column): Column = column(SortedIntersectCount(expression(a), expression(b)))
  def polyFingerprint(c: Column): Column = column(PolyFingerprint(expression(c)))
  def chunkFingerprints(c: Column, w: Int = 8, mask: Long = 31L): Column =
    column(ChunkFingerprints(expression(c), w, mask))
  def winnowFingerprints(c: Column, k: Int = 8, w: Int = 16): Column =
    column(WinnowFingerprints(expression(c), k, w))
  def charEntropy(c: Column): Column = column(CharEntropy(expression(c)))
  def wordGrams(c: Column, n: Int): Column = column(WordGrams(expression(c), n))
  def simhash64(c: Column): Column = column(SimHash64(expression(c)))
  def hyperplaneCode(v: Column, planes: Array[Array[Double]]): Column =
    column(HyperplaneCode(expression(v), planes.toSeq.map(_.toSeq)))
  def nearestCell(v: Column, cents: Array[Array[Double]], cellIds: Array[Int]): Column =
    column(NearestCell(expression(v), cents.toSeq.map(_.toSeq), cellIds.toSeq))
  def nearestCells(v: Column, cents: Array[Array[Double]], cellIds: Array[Int],
      nprobe: Int): Column =
    column(NearestCells(expression(v), cents.toSeq.map(_.toSeq), cellIds.toSeq, nprobe))
  def nearestCellWithDist(v: Column, cents: Array[Array[Double]], cellIds: Array[Int]): Column =
    column(NearestCellWithDist(expression(v), cents.toSeq.map(_.toSeq), cellIds.toSeq))
  def nearestCellsInGroup(v: Column, cents: Column, ids: Column, nprobe: Int): Column =
    column(NearestCellsInGroup(expression(v), expression(cents), expression(ids), nprobe))
  def int8QuantStats(v: Column): Column = column(Int8QuantStats(expression(v)))
  def int8Recon(v: Column): Column = column(Int8Recon(expression(v)))
  def vectorDecimalMean(v: Column, dim: Int): Column =
    column(VectorDecimalMean(expression(v), dim).toAggregateExpression())
  def misraGries(c: Column, k: Int): Column =
    column(MisraGries(expression(c), k).toAggregateExpression())
  def weightedCosine(a: Column, b: Column, w: Array[Double]): Column =
    column(WeightedCosine(expression(a), expression(b), w.toSeq))
  def pqQueryLut(v: Column, books: Array[Array[Array[Double]]], dsub: Int): Column =
    column(PqQueryLut(expression(v), books.toSeq.map(_.toSeq.map(_.toSeq)), dsub))
  def adcCosine(lut: Column, codes: Column, books: Array[Array[Array[Double]]]): Column =
    column(AdcCosine(expression(lut), expression(codes),
      books.toSeq.map(_.toSeq.map(_.toSeq))))
  def adcCosineFromQuery(qv: Column, codes: Column,
      books: Array[Array[Array[Double]]], dsub: Int): Column =
    column(AdcCosineFromQuery(expression(qv), expression(codes),
      books.toSeq.map(_.toSeq.map(_.toSeq)), dsub))
  // Spark ships BloomFilterAggregate / BloomFilterMightContain for its
  // runtime row-level filtering but does not register them as SQL
  // functions; surfacing them here gives pipelines the standard
  // build-filter-then-probe primitive (no false negatives — a bloom
  // PREfilter provably cannot change an exact join's result).
  def bloomAgg(v: Column, expectedItems: Long = 1000000L,
      numBits: Long = 8388608L): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      expression(v),
      org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
      org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())
  def bloomContains(bloom: Column, v: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      expression(bloom), expression(v)))
}
