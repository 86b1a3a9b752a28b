package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** Streaming ingestion-time NEAR-duplicate detection — the minhash
  * companion to the exact-dedup stream: as documents arrive, each is
  * checked against everything already ingested that shares an LSH
  * band bucket, and (older, newer) pairs whose signature-estimated
  * Jaccard clears the threshold are emitted.
  *
  * The reference decision (who is a near-dup of whom) is made from
  * SIGNATURES ONLY: per-bucket state holds (id, 36-long signature) —
  * ~300 bytes per resident doc, never the text or gram set, which is
  * what makes unbounded ingestion-time state affordable. The
  * signature estimate overlap/k is the decision value (the batch
  * pipeline uses the same estimate as its prefilter and then exact-
  * verifies from gram sets; a stream that kept gram sets would pay
  * orders of magnitude more state — at 100 TB the candidates are
  * handed to a batch verify job instead).
  *
  * Scale shape: signatures and band keys are computed scan-side with
  * the compiled kernels; state is partitioned by (band, bucket) so
  * hot buckets spread across executors; per-bucket membership is the
  * same occupancy the batch LSH join is bounded by.
  */
object DedupStream {

  case class BucketRow(band: Int, bkey: String, doc_id: Long, sig: Seq[Long])
  case class NearDupPair(a_id: Long, b_id: Long, est: Double)
  case class BucketState(members: List[(Long, Seq[Long])])

  /** Signature agreement fraction — the minhash Jaccard estimator
    * (slot equality; values are opaque 64-bit patterns, equality is
    * sign-agnostic).
    */
  private def estimate(a: Seq[Long], b: Seq[Long], k: Int): Double = {
    var same = 0
    var i = 0
    while (i < k) {
      if (a(i) == b(i)) same += 1
      i += 1
    }
    same.toDouble / k
  }

  /** (band, bucket)-keyed stateful pair emission. Within a micro-batch
    * the group's docs are processed in doc_id order and each is
    * compared to state members and earlier in-batch docs, so the
    * output is arrival-partition independent; pairs are (smaller id,
    * larger id) within a batch and (resident, arrival) across batches
    * — exactly the batch banding's candidate set when the feed is one
    * batch, which is what lets it share a deterministic oracle.
    */
  /** The scan-side stage of [[minhashPairStream]]: grams → signature →
    * banded bucket rows.
    */
  def minhashBucketed(docs: DataFrame, k: Int = 36, bands: Int = 6): Dataset[BucketRow] = {
    import docs.sparkSession.implicits._
    val rows = k / bands
    // widenStream: shingling + k-permutation signatures are CPU work
    // per arriving doc; without the fan-out they pipeline into the
    // replay source's single-file scan task
    val sigs = graft.operators.Par.widenStream(docs)
      .select(col("doc_id"),
        expr("transform(sequence(1, greatest(length(text)-2, 1)), " +
          "i -> substring(text, i, 3))").as("grams_raw"))
      .select(col("doc_id"),
        graft.functions.expressions.GraftFunctions.gramHashes(col("grams_raw")).as("ghash"))
      .withColumn("sig", Dedup.minhashSignature("ghash", k))
    sigs
      .select(col("doc_id"), col("sig"),
        explode(Dedup.lshBands("sig", bands, rows)).as("b"))
      .select(col("b.band").as("band"),
        concat_ws(",", col("b.bucket")).as("bkey"),
        col("doc_id"), col("sig"))
      .as[BucketRow]
  }

  def minhashPairStream(docs: DataFrame, k: Int = 36, bands: Int = 6,
      tau: Double = 0.8): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    minhashBucketed(docs, k, bands)
      .groupByKey(r => (r.band, r.bkey))
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[BucketState]) =>
          val arrivals = it.toSeq.sortBy(_.doc_id)
          var members = state.getOption.map(_.members).getOrElse(Nil)
          val out = Seq.newBuilder[NearDupPair]
          arrivals.foreach { r =>
            members.foreach { case (mid, msig) =>
              val est = estimate(msig, r.sig, k)
              if (est >= tau && mid != r.doc_id)
                out += NearDupPair(math.min(mid, r.doc_id), math.max(mid, r.doc_id), est)
            }
            members = (r.doc_id, r.sig) :: members
          }
          state.update(BucketState(members))
          out.result().iterator
      }
  }

  /** The full streaming query: pair emission + in-stream exact dedup of
    * pairs surfaced by multiple colliding bands (dropDuplicates is
    * itself a stateful streaming operator — the whole pipeline stays
    * on the stream).
    */
  def minhashDedupStream(docs: DataFrame): DataFrame =
    minhashPairStream(docs).toDF()
      .dropDuplicates("a_id", "b_id")

  // ------------------------------------------------ semantic (cell) dedup

  case class CellRow(cell: Int, vec_id: Long, v: Seq[Double])
  case class CellPair(a_id: Long, b_id: Long, cos_sim: Double)
  case class CellResident(id: Long, codes: Array[Byte], scale: Double)
  case class CellState(members: List[CellResident])

  /** Symmetric int8 quantization of an arriving vector — the SAME
    * rule as the Int8QuantStats/Int8Recon kernels (scale = max|x|/127,
    * code = floor(x/scale + 0.5) clamped to ±127), mirrored here
    * because the stream keeps CODES in state, not vectors.
    */
  private def quantize(v: Seq[Double]): (Array[Byte], Double) = {
    val n = v.length
    var maxAbs = 0.0
    var i = 0
    while (i < n) { val x = math.abs(v(i)); if (x > maxAbs) maxAbs = x; i += 1 }
    val scale = maxAbs / 127.0
    val codes = new Array[Byte](n)
    i = 0
    while (i < n) {
      val c =
        if (scale == 0.0) 0.0
        else {
          val r = math.floor(v(i) / scale + 0.5)
          if (r > 127.0) 127.0 else if (r < -127.0) -127.0 else r
        }
      codes(i) = c.toByte
      i += 1
    }
    (codes, scale)
  }

  /** Cosine over the RECONSTRUCTED vectors (code·scale) — the same
    * index-order fold as the compiled CosineSimilarity kernel, so the
    * decision value is bit-identical to the oracle's
    * `list_cosine_similarity(recon_a, recon_b)` replay.
    */
  private def reconCos(a: CellResident, b: CellResident): Double = {
    val n = math.min(a.codes.length, b.codes.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = a.codes(i) * a.scale; val yv = b.codes(i) * b.scale
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Streaming SEMANTIC near-duplicate detection — the SemDeDup
    * companion to [[minhashPairStream]]: vectors arrive tagged with
    * their IVF cell (assigned scan-side against offline-calibrated
    * centroids — the calibrate-offline/apply-online discipline of the
    * OOD filter), and each is compared against everything already
    * resident in its cell; (older, newer) pairs whose reconstructed
    * cosine clears the threshold are emitted.
    *
    * The residency decision is made from INT8 CODES only: per-cell
    * state holds (id, 64 codes, scale) ≈ 80 bytes per resident vector
    * — ~10× less than the raw doubles, the minhash stream's
    * signatures-only argument applied to vectors. Reconstruction
    * (code·scale) is deterministic and engine-replayable (the
    * emb_int8_quantize oracle already proves the rule), so the
    * decision values hash-match a batch DuckDB replay exactly.
    *
    * Same determinism contract as the minhash stream: in-batch
    * arrivals are processed in vec_id order, pairs are normalized
    * (smaller id first), so the emitted SET equals the batch
    * same-cell pair set under ANY batching of the feed.
    *
    * Scale shape: state is partitioned by cell (the same partition
    * the batch SemDeDup buckets by); per-cell membership is capped at
    * `maxResidents` — the streaming mirror of the batch LSH occupancy
    * cap. An arrival past the cap is still COMPARED against every
    * resident (it can be flagged as a dup of the corpus) but is never
    * admitted, so per-cell state is bounded by construction: a
    * pathological cell (boilerplate embeddings, a degenerate
    * centroid) costs at most maxResidents × 80 B, never an unbounded
    * list. Admission is by processing order (vec_id within a batch,
    * arrival order across batches), so under the replay's
    * vec_id-ordered feed residency — and therefore the emitted set —
    * stays batching-invariant; the default never fires at any
    * oracle-checked scale (adaptiveCells keeps mean occupancy ~125).
    */
  def cellDedupStream(vecs: DataFrame, tau: Double = 0.4,
      maxResidents: Int = 4096): Dataset[CellPair] = {
    import vecs.sparkSession.implicits._
    vecs.as[CellRow]
      .groupByKey(_.cell)
      .flatMapGroupsWithState[CellState, CellPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[CellState]) =>
          val arrivals = it.toSeq.sortBy(_.vec_id)
          var members = state.getOption.map(_.members).getOrElse(Nil)
          var occupancy = members.size
          val out = Seq.newBuilder[CellPair]
          arrivals.foreach { r =>
            val (codes, scale) = quantize(r.v)
            val res = CellResident(r.vec_id, codes, scale)
            members.foreach { m =>
              if (m.id != res.id) {
                val c = reconCos(m, res)
                if (c >= tau)
                  out += CellPair(math.min(m.id, res.id), math.max(m.id, res.id), c)
              }
            }
            if (occupancy < maxResidents) {
              members = res :: members
              occupancy += 1
            }
          }
          state.update(CellState(members))
          out.result().iterator
      }
  }
}
