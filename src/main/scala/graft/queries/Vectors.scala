package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.Tables._
import graft.functions.expressions.GraftFunctions
import graft.operators.{AnnIvf, AnnPq, IvfPq}

/** Block D — similarity search over the `embeddings` table (SURVEY
  * §2.D). The pairwise kernel is the native CosineSimilarity
  * expression (one compiled pass; the HOF zip_with/aggregate chain
  * interprets per element and dominated the join). Brute-force
  * variants are the correctness baselines; the LSH variant is the
  * 100 TB path (bucket join instead of cross join).
  */
object Vectors {
  type Q = (SparkSession, String) => DataFrame

  private def vecs(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .withColumn("v", col("embedding").cast(ArrayType(DoubleType)))

  /** The (id, v) corpus every index query builds from, persisted: the
    * sizing count, the training rounds and the inverted file each
    * rescan it. A corpus that an earlier query left cached in the
    * session (specs clear nothing between queries) is reused as it is,
    * not asked to be cached again. */
  private[queries] def vecCorpus(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val corpus = vecs(s, d).select(col("vec_id").as("id"), col("v"))
    if (corpus.storageLevel != StorageLevel.NONE) corpus
    else corpus.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The fixed query set (vec_id < 5) as (query_id, qv). */
  private[queries] def queryVecs(corpus: DataFrame): DataFrame =
    corpus.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("v").as("qv"))

  // --------------------------------------------------- emb_cosine_topk
  // Brute-force cosine top-k: the exact-ANN baseline. Query set is
  // fixed (vec_id < 5) so work is bounded; ranking via per-query
  // ROW_NUMBER window. Cosine rounded to 4dp to absorb cross-engine
  // fold-order ulps.
  private val embCosineTopk: Q = (s, d) => {
    val e = vecs(s, d)
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"))
      .filter(col("query_id") < 5)
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSimilarity(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** CTE chain deriving the exact cosine ranking `ex_r(query_id,
    * neighbor_id, cos_raw, rank)` — the ground-truth side shared by
    * this oracle and the ANN recall audit (ScaleOps.embAnnRecallSql),
    * so the exact-topk contract can never drift between them. Names
    * are prefixed ex_ to compose into WITH chains that already bind
    * `e`/`ranked`.
    */
  private[queries] val cosineTopkCtes = """
    ex_e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ex_p AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_cosine_similarity(q.v, c.v) AS cos_raw
      FROM ex_e q JOIN ex_e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
    ex_r AS (
      SELECT query_id, neighbor_id, cos_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM ex_p)"""

  private val embCosineTopkSql = s"""
    WITH $cosineTopkCtes
    SELECT query_id, rank, neighbor_id, ROUND(cos_raw, 4) AS cos_sim
    FROM ex_r
    WHERE rank <= 10
    ORDER BY query_id, rank"""

  // --------------------------------------------------- emb_near_dup_pairs
  // Embedding-cosine near-duplicate pairs over a capped id range
  // (vec_id < 500 keeps the pair count sf-independent; the scale path
  // is emb_ann_lsh). Threshold 0.4 matches this corpus's cosine
  // distribution (max ≈ 0.51).
  private val embNearDupPairs: Q = (s, d) => {
    val e = vecs(s, d).filter(col("vec_id") < 500)
    val a = e.select(col("vec_id").as("a_id"), col("v").as("av"), col("label").as("a_label"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("bv"), col("label").as("b_label"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSimilarity(col("av"), col("bv")))
      .filter(col("cos_sim") >= 0.4)
      .select(col("a_id"), col("b_id"), round(col("cos_sim"), 4).as("cos_sim"),
        (col("a_label") === col("b_label")).as("same_label"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val embNearDupPairsSql = """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 500)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      ROUND(list_cosine_similarity(a.v, b.v), 4) AS cos_sim,
      a.label = b.label AS same_label
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    ORDER BY a_id, b_id"""

  // --------------------------------------------------- emb_int8_quantize
  // Symmetric int8 scalar quantization — the 4× storage / bandwidth
  // lever for a 100 TB embedding store. One native compiled pass per
  // vector (Int8QuantStats / Int8Recon — no per-element interpreted
  // HOFs); the oracle replays scale, the clamped floor(x/s + 0.5)
  // code rule, and the index-order mae fold bit-exactly, so scale and
  // mae are UNROUNDED. recon_cos (quality of the quantized index) is
  // rounded 4dp like every cross-engine cosine.
  private val embInt8Quantize: Q = (s, d) => {
    val e = vecs(s, d)
      .withColumn("stats", GraftFunctions.int8QuantStats(col("v")))
      .withColumn("recon", GraftFunctions.int8Recon(col("v")))
    e.select(col("vec_id"),
        col("stats").getItem(0).as("scale"),
        col("stats").getItem(1).as("mae"),
        col("stats").getItem(2).cast("long").as("n_sat"),
        round(GraftFunctions.cosineSimilarity(col("v"), col("recon")), 4).as("recon_cos"))
      .orderBy(col("vec_id"))
  }

  // the quantization rule, shared by both quantize oracles: clamped
  // round-half-up-toward-+inf code — floor(x/s + 0.5), NOT round()
  // (whose half rule differs between engines)
  private[queries] def codeSql(x: String, s: String): String =
    s"CASE WHEN $s = 0 THEN 0.0 ELSE GREATEST(-127.0, LEAST(127.0, floor($x / $s + 0.5))) END"

  private val embInt8QuantizeSql = s"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sc AS (
      SELECT vec_id, v,
        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM e),
    q AS (
      SELECT vec_id, v, scale,
        list_transform(v, x -> ${codeSql("x", "scale")} * scale) AS recon
      FROM sc)
    SELECT vec_id, scale,
      list_reduce(list_prepend(0.0,
        list_transform(range(1, len(v) + 1),
          i -> abs(v[CAST(i AS INT)] - recon[CAST(i AS INT)]))),
        (acc, y) -> acc + y) / len(v) AS mae,
      len(list_filter(v, x -> abs(${codeSql("x", "scale")}) = 127.0)) AS n_sat,
      ROUND(list_cosine_similarity(v, recon), 4) AS recon_cos
    FROM q
    ORDER BY vec_id"""

  // --------------------------------------------------- emb_quantized_topk
  // Top-k search over the QUANTIZED index (corpus side reconstructed
  // from int8 codes, queries kept full-precision — the asymmetric
  // scheme real ANN services run). Same contract as emb_cosine_topk;
  // recall vs the exact ranking is measured in AnnSpec.
  private val embQuantizedTopk: Q = (s, d) => {
    val e = vecs(s, d)
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"))
      .filter(col("query_id") < 5)
    val c = e.select(col("vec_id").as("neighbor_id"),
      GraftFunctions.int8Recon(col("v")).as("cv"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("qcos", GraftFunctions.cosineSimilarity(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("qcos").desc, col("neighbor_id"))))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("qcos"), 4).as("qcos"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val embQuantizedTopkSql = s"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    r AS (
      SELECT vec_id,  v,
        list_transform(v, x -> ${codeSql("x",
          "(list_max(list_transform(v, y -> abs(y))) / 127.0)")} *
          (list_max(list_transform(v, y -> abs(y))) / 127.0)) AS recon
      FROM e),
    p AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_cosine_similarity(q.v, c.recon) AS cos_raw
      FROM e q JOIN r c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
    rk AS (
      SELECT query_id, neighbor_id, cos_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM p)
    SELECT query_id, rank, neighbor_id, ROUND(cos_raw, 4) AS qcos
    FROM rk
    WHERE rank <= 10
    ORDER BY query_id, rank"""

  // --------------------------------------------------- emb_dedup_clusters
  // Semantic dedup: connected components over embedding-cosine near-dup
  // pairs → one representative per cluster — the decision table of an
  // embedding-based (SemDeDup-style) corpus dedup, composing
  // emb_near_dup_pairs with the shared CC operator. Same bounded id
  // range as the pair query; at scale the pair source is emb_ann_lsh
  // buckets, and CC's small-graph regime labels on the driver.
  private val embDedupClusters: Q = (s, d) => {
    val e = vecs(s, d).filter(col("vec_id") < 500)
    val a = e.select(col("vec_id").as("a_id"), col("v").as("av"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("bv"))
    val pairs = a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSimilarity(col("av"), col("bv")))
      .filter(col("cos_sim") >= 0.4)
      .select(col("a_id"), col("b_id"))
    graft.operators.Dedup.connectedComponents(
        e.select(col("vec_id").as("id")), pairs)
      .groupBy(col("cluster").as("representative_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .orderBy(col("representative_id"))
  }

  private val embDedupClustersSql = """
    WITH RECURSIVE e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 500),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs),
    reach(id, lbl) AS (
      SELECT vec_id, vec_id FROM e
      UNION
      SELECT g.dst, r.lbl
      FROM reach r JOIN edges g ON g.src = r.id
      WHERE r.lbl < g.dst),
    labels AS (
      SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id)
    SELECT cluster AS representative_id, COUNT(*) AS cluster_size
    FROM labels
    GROUP BY 1
    ORDER BY 1"""

  // --------------------------------------------------- emb_pq_codes
  // Product quantization (Jégou et al. 2011): m=16 subspaces × 64
  // codes — 64 float dims compress to 16 6-bit ints (~42×). This
  // corpus is near-uniform noise (the hardest case for PQ — nothing
  // to cluster), so codebooks are sized up (k=64 per 4-dim subspace)
  // and the honest quality numbers live in AnnSpec. Codebooks are
  // seeded + one decimal-exact Lloyd refinement (the AnnIvf recipe,
  // per subspace), collected to the driver (≤ m·k·dsub doubles) and
  // shipped back as codegen constants, so CODING is a single
  // scan-level projection: m compiled argmin kernels + a constant
  // lookup — no joins, no shuffle, the 100 TB shape. The oracle
  // replays seeding, assignment, refinement, positional re-coding,
  // reconstruction and the index-order error folds bit-exactly.
  private[graft] val pqM = 16
  private[graft] val pqDsub = 4
  private[graft] val pqK = 64

  private def pqEncoded(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id").as("id"), col("v"))
    val books = AnnPq.collectCodebooks(
      AnnPq.refinedCodebooks(e, pqM, pqDsub, pqK), pqM)
    AnnPq.encode(e, books, pqDsub)
  }

  private val embPqCodes: Q = (s, d) =>
    pqEncoded(s, d)
      .select(col("id").as("vec_id"),
        concat_ws(",", (0 until pqM).map(i => col(s"code_$i")): _*).as("codes"),
        (GraftFunctions.l1Distance(col("v"), col("recon")) / lit(64.0)).as("mae"),
        round(GraftFunctions.cosineSimilarity(col("v"), col("recon")), 4).as("recon_cos"))
      .orderBy(col("vec_id"))

  /** The per-subspace squared-distance fold (dsub-length) — shared by
    * the PQ training replay and the frozen-codebook delta encode so
    * the two can never drift.
    */
  private[queries] def pqSqDist(a: String, b: String): String =
    ScaleOps.ivfSqDist(a, b, pqDsub)

  /** Shared PQ replay CTE chain: seeded codebook `<prefix>cb0` inlined
    * as literals; every distance/mean/fold has the same index-order
    * shape as the Spark kernels, so codes, reconstruction and errors
    * are bit-identical. `prefix` renames every internal CTE so the
    * chain composes into WITH blocks that already bind assign0 (the
    * IVF replay does); `withE` controls whether the shared `e` base
    * CTE is emitted. The terminal CTE is
    * `<prefix>pq(vec_id, codes, recon)`. No name here contains
    * [[ScaleOps.IvfCentroidMarker]], so Verify's IVF family holds no
    * PQ-only oracle.
    */
  private def pqCtesGen(prefix: String, withE: Boolean): String = {
    val c0 = AnnPq.codebook0(pqK, pqDsub)
    val centRows = c0.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.map(java.lang.Double.toString).mkString("[", ", ", "]")}::DOUBLE[])"
    }.mkString(", ")
    def sqDist(a: String, b: String): String = pqSqDist(a, b)
    def n(x: String) = prefix + x
    val eCte = if (withE) """e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    """ else ""
    s"""$eCte${n("subs")} AS (
      SELECT vec_id, v, CAST(sub AS INT) AS sub,
        list_slice(v, sub * $pqDsub + 1, sub * $pqDsub + $pqDsub) AS subv
      FROM e CROSS JOIN (SELECT unnest(range(0, $pqM)) AS sub)),
    ${n("cb0")}(cell, c) AS (VALUES $centRows),
    ${n("assign0")} AS (
      SELECT vec_id, sub, subv, cell FROM (
        SELECT s.vec_id, s.sub, s.subv, c0.cell,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
            ORDER BY ${sqDist("s.subv", "c0.c")}, c0.cell) AS rn
        FROM ${n("subs")} s CROSS JOIN ${n("cb0")} c0)
      WHERE rn = 1),
    ${n("cb1")} AS (
      SELECT sub, cell, list(mn ORDER BY i) AS c FROM (
        SELECT a.sub, a.cell, i,
          CAST(COALESCE(SUM(CAST(a.subv[CAST(i AS INT)] AS DECIMAL(18,6))), 0) AS DOUBLE) / COUNT(*) AS mn
        FROM ${n("assign0")} a CROSS JOIN (SELECT unnest(range(1, ${pqDsub + 1})) AS i)
        GROUP BY a.sub, a.cell, i)
      GROUP BY sub, cell),
    ${n("cb")} AS (
      SELECT sub, cell, c,
        ROW_NUMBER() OVER (PARTITION BY sub ORDER BY cell) - 1 AS code
      FROM ${n("cb1")}),
    ${n("coded")} AS (
      SELECT vec_id, sub, code, c FROM (
        SELECT s.vec_id, s.sub, b.code, b.c,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
            ORDER BY ${sqDist("s.subv", "b.c")}, b.cell) AS rn
        FROM ${n("subs")} s JOIN ${n("cb")} b ON b.sub = s.sub)
      WHERE rn = 1),
    ${n("pq")} AS (
      SELECT c.vec_id,
        string_agg(CAST(c.code AS VARCHAR), ',' ORDER BY c.sub) AS codes,
        flatten(list(c.c ORDER BY c.sub)) AS recon
      FROM ${n("coded")} c GROUP BY c.vec_id)"""
  }

  private lazy val pqCtes: String = pqCtesGen("", withE = true)

  /** The PQ chain under a `pq_` namespace with no `e` CTE — composes
    * after [[graft.queries.ScaleOps.ivfCtes]] (which binds e/cents0/
    * assign0/centf/inverted) for the IVF+PQ oracle.
    */
  private[queries] lazy val pqCtesComposable: String = pqCtesGen("pq_", withE = false)

  /** `term` (over the 1-based dim index `i`) summed as a sequential
    * left fold from 0.0 — the accumulation order of the engine's
    * compiled kernels, so every vector oracle replays them bit-exactly.
    */
  private[queries] def dimFold(term: String, dim: Int): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), i -> $term)), (acc, x) -> acc + x)"

  /** Cosine of `a` and `b` over `dim` dims from three [[dimFold]]s;
    * `at` is the per-dim element (a weighted element for the
    * Matryoshka demo). */
  private[queries] def cosFold(a: String, b: String, dim: Int,
      at: String => String = v => s"$v[CAST(i AS INT)]"): String = {
    val (x, y) = (at(a), at(b))
    s"${dimFold(s"$x * $y", dim)} / (sqrt(${dimFold(s"$x * $x", dim)}) * sqrt(${dimFold(s"$y * $y", dim)}))"
  }

  private lazy val embPqCodesSql: String = s"""
    WITH $pqCtes
    SELECT e.vec_id, pq.codes,
      list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        i -> abs(e.v[CAST(i AS INT)] - pq.recon[CAST(i AS INT)]))),
        (acc, x) -> acc + x) / 64.0 AS mae,
      ROUND(${cosFold("e.v", "pq.recon", 64)}, 4) AS recon_cos
    FROM e JOIN pq ON pq.vec_id = e.vec_id
    ORDER BY e.vec_id"""

  // --------------------------------------------------- emb_pq_topk
  // ADC-style top-k over the PQ-compressed index: queries stay
  // full-precision, the corpus side is reconstructed from its m
  // codes — the asymmetric scheme PQ search services run. Recall vs
  // the exact ranking is measured in AnnSpec.
  private val embPqTopk: Q = (s, d) => {
    val c = pqEncoded(s, d)
      .select(col("id").as("neighbor_id"), col("recon").as("cv"))
    val q = vecs(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("qcos", GraftFunctions.cosineSimilarity(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("qcos").desc, col("neighbor_id"))))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("qcos"), 4).as("qcos"))
      .orderBy(col("query_id"), col("rank"))
  }

  private lazy val embPqTopkSql: String = s"""
    WITH $pqCtes,
    p AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ${cosFold("q.v", "c.recon", 64)} AS cos_raw
      FROM e q JOIN pq c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
    rk AS (
      SELECT query_id, neighbor_id, cos_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM p)
    SELECT query_id, rank, neighbor_id, ROUND(cos_raw, 4) AS qcos
    FROM rk
    WHERE rank <= 10
    ORDER BY query_id, rank"""

  // --------------------------------------------------- emb_ivfpq_topk
  // The composed production ANN shape (the FAISS IVF-PQ recipe,
  // Jégou et al. 2011 §V): IVF routes each query to nprobe cells,
  // TRUE ADC scores ONLY those cells' members — m CODES per candidate
  // (16 ints — the part of the index a 100 TB deployment keeps
  // memory-resident) against a per-query lookup table of partial dot
  // products — and the top `rerank` ADC survivors per query are
  // re-ranked with exact cosine over their full vectors. emb_ann_ivf
  // proves the routing, emb_pq_topk the ADC math; THIS is the
  // composition a real vector store executes — candidate work is
  // |cell|·nprobe code lookups per query instead of n full vectors,
  // and full-precision vectors are touched only for the rerank·|Q|
  // survivors (a broadcast-join point fetch, never a corpus-wide
  // score). The whole pipeline lives in the IvfPq operator and ROUTES
  // THROUGH THE REGIME DISPATCH (AnnIvf.regimeFor): at every
  // oracle-checked scale it resolves to the one-level index this
  // oracle replays; past the ~10⁷-vector ceiling the two-level arm
  // (its own oracle: emb_ivfpq_topk_two_level) is selected
  // structurally — the O(cells)-per-row one-level shape cannot be
  // chosen at scale by accident.
  //
  // 100 TB shape: the coded inverted file (cell, id, codes) is the
  // hot index — built once by projection-only passes, bucketed by
  // cell (IvfPq.buildIndex persists exactly this layout); the ADC
  // join is a hash join on cell whose candidate relation carries m
  // ints per row (the reconstruction — ~32× the bytes — exists
  // nowhere); the exact re-rank broadcasts the ≤ rerank·|Q| survivor
  // ids against the corpus (at scale: a point-lookup fetch). The
  // oracle replays the ENTIRE composition — IVF Lloyd, PQ codebooks,
  // positional re-coding, the blocked ADC folds, exact re-rank —
  // bit-exactly via the shared ivfCtes + pq_ chain + adcCtes.
  private[graft] val ivfpqNprobe = 2
  private[graft] val ivfpqRerank = 30
  private[queries] val ivfpqK = 10
  // streaming-serve thresholds (shared with the Streaming twins so the
  // Spark plans and the SQL oracles can never drift apart)
  private[queries] val ivfpqAdcPrefilter = 0.3
  private[queries] val ivfpqExactVerify = 0.4
  private val embIvfpqTopk: Q = (s, d) => {
    val corpus = vecCorpus(s, d)
    // one sizing count, shared by the regime dispatch and cell rule
    val n = corpus.count()
    val queries = queryVecs(corpus)
    IvfPq.topK(corpus, n, dim = 64, queries, k = ivfpqK,
        nprobe = ivfpqNprobe, rerank = ivfpqRerank,
        m = pqM, dsub = pqDsub, kCodes = pqK)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Shared TRUE-ADC replay CTEs: blocked per-subspace dot/norm
    * partials over `pq_coded`'s chosen centroids, cross-subspace sums
    * folded in ascending-sub order, query norm folded over the full
    * vector — the exact arithmetic of AnnKernels.adcCosineFromQuery,
    * which every production path scores with (its bit-equal LUT pair
    * pqQueryLut/adcCosine is only AnnSpec's reference now). NOT the
    * flat cosine fold: ADC's association is per-subspace by
    * construction, and both engines execute the identical blocked
    * order. Requires a `probesTable(query_id, qv, cell)` CTE, an
    * `invTable(vec_id, cell)` CTE, and the pq_ chain. Terminal CTE:
    * `adcr(query_id, neighbor_id, adc_raw, adc_rank)`.
    */
  private[queries] def adcCtes(probesTable: String, invTable: String,
      dim: Int = 64): String = {
    val d = pqDsub
    def foldSub(term: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${d + 1}), " +
        s"j -> $term)), (acc, x) -> acc + x)"
    s"""adcp AS (
      SELECT p.query_id, iv.vec_id AS neighbor_id, c.sub,
        ${foldSub(s"p.qv[CAST(c.sub * $d + j AS INT)] * c.c[CAST(j AS INT)]")} AS pd,
        ${foldSub("c.c[CAST(j AS INT)] * c.c[CAST(j AS INT)]")} AS pn
      FROM $probesTable p
      JOIN $invTable iv ON iv.cell = p.cell AND iv.vec_id <> p.query_id
      JOIN pq_coded c ON c.vec_id = iv.vec_id),
    adcs AS (
      SELECT query_id, neighbor_id,
        list_reduce(list_prepend(0.0, list(pd ORDER BY sub)), (acc, x) -> acc + x) AS dot,
        list_reduce(list_prepend(0.0, list(pn ORDER BY sub)), (acc, x) -> acc + x) AS n2
      FROM adcp GROUP BY query_id, neighbor_id),
    qn AS (
      SELECT DISTINCT query_id,
        ${dimFold("qv[CAST(i AS INT)] * qv[CAST(i AS INT)]", dim)} AS qn2
      FROM $probesTable),
    adcr AS (
      SELECT a.query_id, a.neighbor_id,
        a.dot / (sqrt(q.qn2) * sqrt(a.n2)) AS adc_raw,
        ROW_NUMBER() OVER (PARTITION BY a.query_id
          ORDER BY a.dot / (sqrt(q.qn2) * sqrt(a.n2)) DESC, a.neighbor_id) AS adc_rank
      FROM adcs a JOIN qn q ON q.query_id = a.query_id)"""
  }

  /** CTE-only form of the exact-re-rank tail: survivors at `rerank`
    * depth, full-vector cosine, ranked. Terminal CTE
    * `ranked(query_id, neighbor_id, adc_raw, adc_rank, cos_raw, rank)`
    * — composable where the composed-search ranking feeds a LARGER
    * chain (the hybrid fusion) instead of terminating the query.
    */
  private[queries] def ivfpqRerankCtes(rerank: Int, dim: Int): String = s"""
    surv AS (SELECT * FROM adcr WHERE adc_rank <= $rerank),
    ex AS (
      SELECT s.query_id, s.neighbor_id, s.adc_raw, s.adc_rank,
        ${cosFold("qe.v", "c.v", dim)} AS cos_raw
      FROM surv s
      JOIN e c ON c.vec_id = s.neighbor_id
      JOIN e qe ON qe.vec_id = s.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, adc_raw, adc_rank, cos_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM ex)"""

  /** The exact-re-rank tail shared by the composed-search oracles:
    * [[ivfpqRerankCtes]] plus the terminal top-`k` projection.
    * `extraSelect` appends literal columns to the terminal projection
    * (the filtered search pins its dispatched regime there).
    */
  private[queries] def ivfpqRerankTailSql(rerank: Int, k: Int, dim: Int,
      extraSelect: String = ""): String = s"""
    ${ivfpqRerankCtes(rerank, dim)}
    SELECT query_id, rank, neighbor_id, ROUND(cos_raw, 4) AS cos_sim,
      ROUND(adc_raw, 4) AS adc_cos, adc_rank$extraSelect
    FROM ranked
    WHERE rank <= $k
    ORDER BY query_id, rank"""

  private lazy val embIvfpqTopkSql: String = {
    val dim = 64
    s"""
    WITH ${ScaleOps.ivfCtes()},
    $pqCtesComposable,${ScaleOps.probesCte(s"$ivfpqNprobe")},
    ${adcCtes("probes", "inverted", dim)},
    ${ivfpqRerankTailSql(ivfpqRerank, ivfpqK, dim)}"""
  }

  // ----------------------------------------- emb_ivfpq_topk_two_level
  // The composed search's TWO-LEVEL arm — what IvfPq.topK executes
  // past AnnIvf.OneLevelMaxVectors (forced here via oneLevelMax = −1,
  // the EmptyInputSpec convention): sampled fine Lloyd, √cells coarse
  // constants, broadcast fine neighborhoods for BOTH the corpus
  // assignment and the query probes, then the identical true-ADC +
  // exact-re-rank tail. The full composition — sampled training,
  // coarse Lloyd, wProbe pruning, PQ coding, blocked ADC folds,
  // re-rank — is replayed bit-exactly by the DuckDB chain (ivf2Ctes +
  // pq_ chain + adcCtes), so the arm the 100 TB deployment actually
  // runs carries the same hash-level evidence as the one-level arm
  // the driver gate exercises through emb_ivfpq_topk.
  private val embIvfpqTopkTwoLevel: Q = (s, d) => {
    val corpus = vecCorpus(s, d)
    val n = corpus.count()
    val queries = queryVecs(corpus)
    IvfPq.topK(corpus, n, dim = 64, queries, k = ivfpqK,
        nprobe = ivfpqNprobe, rerank = ivfpqRerank,
        m = pqM, dsub = pqDsub, kCodes = pqK,
        wProbe = 2, oneLevelMax = -1L)
      .orderBy(col("query_id"), col("rank"))
  }

  private lazy val embIvfpqTopkTwoLevelSql: String = {
    val dim = 64
    s"""
    WITH ${ScaleOps.ivf2Ctes},
    $pqCtesComposable,${ScaleOps.qprobesCte(ivfpqNprobe)},
    ${adcCtes("qprobes", "inverted2", dim)},
    ${ivfpqRerankTailSql(ivfpqRerank, ivfpqK, dim)}"""
  }

  // ----------------------------------------------- emb_filtered_topk
  // Metadata-FILTERED ANN (IvfPq.filteredTopK): top-k among only the
  // vectors satisfying a predicate — the most common production
  // constraint on a retrieval index (tenant / language / license
  // filters). Selectivity-dispatched (IvfPq.filterRegimeFor, the
  // regimeFor discipline): broad filters run the PRE-FILTERED PROBE —
  // nprobe boosted ×2 to compensate the per-cell thinning, candidates
  // pruned by the predicate BEFORE any ADC scoring (the attribute is
  // a stored column of the coded file, so at 100 TB the filter is
  // parquet pushdown at the index scan), then the normal true-ADC →
  // exact re-rank tail; narrow filters fall to BruteForceSubset
  // (below). The dispatched regime rides every output row, so the
  // oracle hash pins which branch ran. This query's label IN (2,5)
  // filter sits at ~0.2 selectivity at every sf — the probe regime at
  // all oracle scales; the crossover math lives in the IvfPq
  // scaladoc (bruteFrac = 0.05 falls out of the code-vs-vector cost
  // ratio, not a guess).
  //
  // 100 TB shape: identical to emb_ivfpq_topk plus one scan-level
  // predicate on the coded file; the exact re-rank broadcasts
  // survivors against the FILTERED corpus (pushdown on that scan
  // too). Nothing shuffles the corpus.
  private[queries] val filteredLabels = Seq(2, 5)
  private[queries] val filteredProbeBoost = 2
  private[queries] val filteredBruteFrac = 0.05
  private[queries] val selLabel = 7
  private[queries] val selMod = 7
  private[queries] val selRem = 3
  /** `inv_f`: `inverted`'s (vec_id, cell) rows that pass the label
    * filter. */
  private def filteredInvCte(inverted: String): String = s"""
    inv_f AS (
      SELECT iv.vec_id, iv.cell FROM $inverted iv
      JOIN embeddings em ON em.vec_id = iv.vec_id
      WHERE em.label IN (${filteredLabels.mkString(", ")}))"""

  /** The exact filtered top-k ground truth: `exr(query_id,
    * neighbor_id)`, the `ivfpqK` best label-filtered neighbors of each
    * query by exact cosine. */
  private lazy val filteredExactCtes: String = s"""
    sub AS (
      SELECT e.vec_id, e.v FROM e
      JOIN embeddings em ON em.vec_id = e.vec_id
      WHERE em.label IN (${filteredLabels.mkString(", ")})),
    exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ${cosFold("q.v", "c.v", 64)} AS cos_raw
      FROM e q JOIN sub c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
    exr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_raw DESC, neighbor_id) AS rank
        FROM exact)
      WHERE rank <= $ivfpqK)"""

  /** The exact filtered top-k ground truth: the `ivfpqK` best of
    * `fullF(neighbor_id, cv)` for each query by exact cosine. */
  private def filteredExact(fullF: DataFrame, queries: DataFrame): DataFrame =
    fullF.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim",
        GraftFunctions.cosineSimilarity(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= ivfpqK)
      .select(col("query_id"), col("neighbor_id"))

  private def labeledCorpus(s: SparkSession, d: String): DataFrame =
    vecs(s, d).select(col("vec_id").as("id"), col("v"), col("label"))
  private val embFilteredTopk: Q = (s, d) => {
    val corpus = labeledCorpus(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()
    val queries = queryVecs(corpus)
    IvfPq.filteredTopK(corpus, n, dim = 64, attrs = Seq("label"),
        pred = col("label").isin(filteredLabels: _*), queries,
        k = ivfpqK, nprobe = ivfpqNprobe, rerank = ivfpqRerank,
        m = pqM, dsub = pqDsub, kCodes = pqK,
        probeBoost = filteredProbeBoost, bruteFrac = filteredBruteFrac)
      .orderBy(col("query_id"), col("rank"))
  }

  private lazy val embFilteredTopkSql: String = {
    val dim = 64
    s"""
    WITH ${ScaleOps.ivfCtes()},
    $pqCtesComposable,${ScaleOps.probesCte(s"${ivfpqNprobe * filteredProbeBoost}")},${
      filteredInvCte("inverted")},
    ${adcCtes("probes", "inv_f", dim)},
    ${ivfpqRerankTailSql(ivfpqRerank, ivfpqK, dim,
        extraSelect = ", 'pre_filtered_probe' AS regime")}"""
  }

  // ------------------------------------- emb_filtered_topk_selective
  // The filtered search's OTHER regime: a ~1.4%-selectivity predicate
  // (label = 7 AND vec_id % 7 = 3) dispatches to BruteForceSubset —
  // EXACT cosine over only the filtered rows, no index, no
  // approximation (ADC columns NULL, regime pinned in every row). The
  // structural point this query hash-proves: below the crossover the
  // engine refuses to pay index overhead for a subset cheaper to scan
  // exactly — s·n full scores beat (n/cells)·nprobe·boost code scores
  // precisely when s is small, and the answer returned is EXACT.
  //
  // 100 TB shape: predicate pushdown at the corpus scan reads only
  // the filtered rows; the query table broadcasts; per-query work is
  // s·n cosines — bounded by the dispatch rule itself.
  private val embFilteredTopkSelective: Q = (s, d) => {
    val corpus = labeledCorpus(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()
    val queries = queryVecs(corpus)
    IvfPq.filteredTopK(corpus, n, dim = 64, attrs = Seq("label"),
        pred = col("label") === selLabel && col("id") % selMod === selRem,
        queries, k = ivfpqK, nprobe = ivfpqNprobe, rerank = ivfpqRerank,
        m = pqM, dsub = pqDsub, kCodes = pqK,
        probeBoost = filteredProbeBoost, bruteFrac = filteredBruteFrac)
      .orderBy(col("query_id"), col("rank"))
  }

  private lazy val embFilteredTopkSelectiveSql: String = s"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
      FROM embeddings),
    sub AS (
      SELECT vec_id, v FROM e
      WHERE label = $selLabel AND vec_id % $selMod = $selRem),
    p AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ${cosFold("q.v", "c.v", 64)} AS cos_raw
      FROM e q JOIN sub c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
    rk AS (
      SELECT query_id, neighbor_id, cos_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM p)
    SELECT query_id, rank, neighbor_id, ROUND(cos_raw, 4) AS cos_sim,
      CAST(NULL AS DOUBLE) AS adc_cos, CAST(NULL AS INTEGER) AS adc_rank,
      'brute_force_subset' AS regime
    FROM rk
    WHERE rank <= $ivfpqK
    ORDER BY query_id, rank"""

  // ---------------------------------------------- emb_filtered_recall
  // The filtered search's on-corpus audit (the house rule: every
  // approximation ships its own measured recall) — the probe-regime
  // filtered top-k measured against the EXACT filtered ground truth,
  // per query. This is the number that certifies the ×2 probe boost
  // actually compensates the filter's per-cell thinning on THIS
  // corpus; FilteredAnnSpec additionally pins boosted ≥ unboosted
  // recall. Same report shape as emb_ann_recall — and the same
  // honesty: on this near-uniform control corpus (top-10 cosine
  // ≈ 0.25–0.37 vs median ≈ 0, the hardest ANN regime) measured
  // recall@10 is 0.7–1.0 at sf0.001/sf0.01 and 0.4–0.5 at sf0.1
  // (4 of 16 cells probed); a clustered real-world corpus sits far
  // higher at the same probe budget, and the knob to buy more is the
  // same nprobe/boost pair the curve queries already price.
  private val embFilteredRecall: Q = (s, d) => {
    val corpus = labeledCorpus(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()
    val queries = queryVecs(corpus)
    val pred = col("label").isin(filteredLabels: _*)
    val ann = IvfPq.filteredTopK(corpus, n, dim = 64, attrs = Seq("label"),
        pred = pred, queries = queries, k = ivfpqK, nprobe = ivfpqNprobe,
        rerank = ivfpqRerank, m = pqM, dsub = pqDsub, kCodes = pqK,
        probeBoost = filteredProbeBoost, bruteFrac = filteredBruteFrac)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    filteredExact(corpus.filter(pred)
        .select(col("id").as("neighbor_id"), col("v").as("cv")), queries)
      .join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .withColumn("recall",
        round(col("n_found").cast(DoubleType) / col("n_exact").cast(DoubleType), 4))
      .orderBy(col("query_id"))
  }

  private lazy val embFilteredRecallSql: String = {
    val dim = 64
    s"""
    WITH ${ScaleOps.ivfCtes()},
    $pqCtesComposable,${ScaleOps.probesCte(s"${ivfpqNprobe * filteredProbeBoost}")},${
      filteredInvCte("inverted")},
    ${adcCtes("probes", "inv_f", dim)},
    surv AS (SELECT * FROM adcr WHERE adc_rank <= $ivfpqRerank),
    exs AS (
      SELECT s.query_id, s.neighbor_id,
        ${cosFold("qe.v", "c.v", dim)} AS cos_raw
      FROM surv s
      JOIN e c ON c.vec_id = s.neighbor_id
      JOIN e qe ON qe.vec_id = s.query_id),
    annr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_raw DESC, neighbor_id) AS rank
        FROM exs)
      WHERE rank <= $ivfpqK),$filteredExactCtes
    SELECT x.query_id,
      COUNT(*) AS n_exact,
      CAST(COALESCE(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_found,
      ROUND(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS recall
    FROM exr x
    LEFT JOIN annr a
      ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    ORDER BY x.query_id"""
  }

  // ----------------------------------------- emb_filtered_boost_curve
  // The probe-boost tuning curve for FILTERED search — closes the
  // knob discipline gap: nprobe, wProbe and rerank each ship a
  // measured curve; the filter-compensation boost now does too. One
  // pass (the rerank-curve trick): probes are ranked ONCE at the
  // maximum width (boost = cells/nprobe — every cell), each
  // (query, candidate) pair carries the probe rank of its one cell,
  // and the pair participates in every boost b with
  // cell_rank ≤ nprobe·b; ADC and the exact cosine are computed ONCE
  // per pair (both are boost-independent — only the CANDIDATE SET
  // varies), the per-boost rankings are windows over the tagged pool.
  // Output per boost: candidate volume (the cost) and recall@k vs the
  // exact filtered ground truth (the win) — integer counts, so the
  // curve replays exactly. IvfPq.adaptiveProbeBoost's ~⌈1/s⌉ rule
  // reads straight off this curve (s ≈ 0.2 here → boost 5).
  //
  // 100 TB shape: an audit op — the max-width probe deliberately
  // spans every cell (that is what a tuning curve prices); production
  // queries run filteredTopK at one chosen boost. Pair work is
  // bounded by s·n·|Q| — the same bound as the exact ground truth it
  // audits against (the brute arm's own cost).
  private def filteredBoostCurve(
      train: (DataFrame, Long, Int) => IvfPq.Index): Q = (s, d) => {
    val corpus = labeledCorpus(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()
    val pred = col("label").isin(filteredLabels: _*)
    val queries = queryVecs(corpus)
    val vecsOnly = corpus.select(col("id"), col("v"))
    val cells = AnnIvf.adaptiveCells(n)
    val boostMax = math.max(1, cells / ivfpqNprobe)
    // the two training halves are independent chains over the persisted
    // corpus — overlapped (guide §2.6, the IvfPq.trainHalves discipline)
    val (index, books) = graft.operators.Par.two(
      () => train(vecsOnly, n, cells),
      () => AnnPq.collectCodebooks(
        AnnPq.refinedCodebooks(vecsOnly, pqM, pqDsub, pqK), pqM))
    val codedF = IvfPq.codedInvertedFileAttrs(index, corpus, books, pqDsub,
        Seq("label"))
      .filter(pred)
      .select(col("cell"), col("id").as("neighbor_id"), col("codes"))
    val fullF = corpus.filter(pred)
      .select(col("id").as("neighbor_id"), col("v").as("cv"))
    // the pair pool of probed (query_id, qv, cell, <tag>) rows: ADC +
    // exact cosine ONCE per pair (both are boost-independent)
    def pool(probes: DataFrame): DataFrame = probes.join(codedF, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_cos", GraftFunctions.adcCosineFromQuery(
        col("qv"), col("codes"), books, pqDsub))
      .join(fullF, Seq("neighbor_id"))
      .withColumn("cos_sim",
        GraftFunctions.cosineSimilarity(col("qv"), col("cv")))
      .drop("qv", "cv", "codes")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    import s.implicits._
    val boosts = broadcast((1 to boostMax).toDF("boost"))
    // each pair joined to every boost whose probe set holds its cell,
    // plus the regime's per-boost output columns
    val (tagged, perBoost) = index match {
      case IvfPq.OneLevelIndex(ids, cents) =>
        // probes at max width, tagged with each cell's probe rank
        val probesMax = queries.select(col("query_id"), col("qv"),
            posexplode(GraftFunctions.nearestCells(col("qv"), cents, ids,
              ivfpqNprobe * boostMax)))
          .select(col("query_id"), col("qv"),
            (col("pos") + 1).as("cell_rank"), col("col").as("cell"))
        (pool(probesMax).join(boosts,
          col("cell_rank") <= col("boost") * lit(ivfpqNprobe)), Nil)
      case IvfPq.TwoLevelIndexW(idx, wBase) =>
        val maxWc = idx.coarseIds.length
        val wProbe = least(lit(wBase) * col("boost"), lit(maxWc))
        // every fine cell per query, tagged (coarse rank, fine distance)
        // — the one probe pass all boosts share
        val qcells = queries.select(col("query_id"), col("qv"),
            posexplode(GraftFunctions.nearestCells(col("qv"), idx.coarseCents,
              idx.coarseIds, math.max(1, maxWc))).as(Seq("crpos", "coarse")))
          .select(col("query_id"), col("qv"), (col("crpos") + 1).as("cr"),
            col("coarse"))
          .join(broadcast(idx.groups), Seq("coarse"))
          .select(col("query_id"), col("qv"), col("cr"),
            explode(arrays_zip(col("gids"), col("gcents"))).as("z"))
          .select(col("query_id"), col("qv"), col("cr"),
            col("z.gids").as("cell"), col("z.gcents").as("fc"))
          .withColumn("dist", expr(
            "aggregate(zip_with(qv, fc, (x, y) -> (x - y) * (x - y)), " +
              "CAST(0 AS DOUBLE), (acc, t) -> acc + t)"))
          .select(col("query_id"), col("qv"), col("cr"), col("cell"), col("dist"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // boost b's probe set: fine ranking WITHIN the min(w·b, |coarse|)
        // nearest coarse neighborhoods — the filteredTopKWith widening arm
        val probed = qcells.join(boosts, col("cr") <= wProbe)
          .withColumn("cell_rank", row_number().over(
            Window.partitionBy(col("boost"), col("query_id"))
              .orderBy(col("dist"), col("cell"))))
          .filter(col("cell_rank") <= col("boost") * lit(ivfpqNprobe))
          .select(col("boost"), col("query_id"), col("cell"))
        (probed.join(pool(qcells.select(col("query_id"), col("qv"), col("cell"))),
          Seq("query_id", "cell")), Seq(wProbe.as("w_probe")))
    }
    val topk = tagged
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy(col("boost"), col("query_id"))
          .orderBy(col("adc_cos").desc, col("neighbor_id"))))
      .filter(col("adc_rank") <= ivfpqRerank)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("boost"), col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= ivfpqK)
      .select(col("boost"), col("query_id"), col("neighbor_id"))
    val exact = filteredExact(fullF, queries)
    val nCand = tagged.groupBy(col("boost")).agg(count(lit(1)).as("n_cand"))
    val nFound = topk.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy(col("boost")).agg(count(lit(1)).as("n_found"))
    val nExact = broadcast(exact.agg(count(lit(1)).as("n_exact")))
    boosts.join(nCand, Seq("boost"), "left")
      .join(nFound, Seq("boost"), "left")
      .crossJoin(nExact)
      .select(Seq(col("boost")) ++ perBoost ++ Seq(
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("n_exact"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        // totality over zero-row inputs (EmptyInputSpec): an empty
        // ground truth yields recall 0.0, not an ANSI divide-by-zero
        when(col("n_exact") === 0, lit(0.0))
          .otherwise(round(coalesce(col("n_found"), lit(0L)).cast(DoubleType)
            / col("n_exact").cast(DoubleType), 4)).as("recall")): _*)
      .orderBy(col("boost"))
  }

  private val embFilteredBoostCurve = filteredBoostCurve { (vecs, _, cells) =>
    val (ids, cents) = AnnIvf.collectCentroids(AnnIvf.refinedCentroids(vecs, cells, 64))
    IvfPq.OneLevelIndex(ids, cents)
  }

  /** The tail of both boost-curve oracles, from `tagged(boost, query_id,
    * neighbor_id, adc_raw, cos_raw)` and `boosts(boost)`: per boost the
    * rerank-pool top-k, its hits in the exact ground truth and the
    * candidate volume. `perBoost` adds output columns after `boost`. */
  private def boostCurveTailSql(perBoost: String): String = s"""
    surv_b AS (
      SELECT * FROM (
        SELECT boost, query_id, neighbor_id, cos_raw,
          ROW_NUMBER() OVER (PARTITION BY boost, query_id
            ORDER BY adc_raw DESC, neighbor_id) AS adc_rank
        FROM tagged)
      WHERE adc_rank <= $ivfpqRerank),
    topk_b AS (
      SELECT boost, query_id, neighbor_id FROM (
        SELECT boost, query_id, neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY boost, query_id
            ORDER BY cos_raw DESC, neighbor_id) AS rank
        FROM surv_b)
      WHERE rank <= $ivfpqK),$filteredExactCtes,
    ncand AS (SELECT boost, COUNT(*) AS n_cand FROM tagged GROUP BY 1),
    nfound AS (
      SELECT t.boost, COUNT(*) AS n_found FROM topk_b t
      JOIN exr x ON x.query_id = t.query_id AND x.neighbor_id = t.neighbor_id
      GROUP BY 1),
    nex AS (SELECT COUNT(*) AS n_exact FROM exr)
    SELECT b.boost,$perBoost
      CAST(COALESCE(c.n_cand, 0) AS BIGINT) AS n_cand,
      nex.n_exact, CAST(COALESCE(f.n_found, 0) AS BIGINT) AS n_found,
      -- zero-row guard mirrors the engine's when(n_exact === 0, 0.0):
      -- an unguarded division would diverge (NULL/Inf) exactly where
      -- the engine reports 0.0
      CASE WHEN nex.n_exact = 0 THEN 0.0 ELSE
        ROUND(CAST(COALESCE(f.n_found, 0) AS DOUBLE) / nex.n_exact, 4)
      END AS recall
    FROM boosts b
    LEFT JOIN ncand c ON c.boost = b.boost
    LEFT JOIN nfound f ON f.boost = b.boost
    CROSS JOIN nex
    ORDER BY b.boost"""

  private val boostMaxSql = ScaleOps.OracleIvfCells / ivfpqNprobe

  private lazy val embFilteredBoostCurveSql: String = {
    val dim = 64
    s"""
    WITH ${ScaleOps.ivfCtes()},
    $pqCtesComposable,${ScaleOps.probesCte(s"${boostMaxSql * ivfpqNprobe}")},${
      filteredInvCte("inverted")},
    ${adcCtes("probes", "inv_f", dim)},
    prank AS (
      SELECT p.query_id, iv.vec_id AS neighbor_id, MIN(p.cell_rank) AS cell_rank
      FROM probes p JOIN inv_f iv ON iv.cell = p.cell AND iv.vec_id <> p.query_id
      GROUP BY 1, 2),
    pcos AS (
      SELECT a.query_id, a.neighbor_id, a.adc_raw, r.cell_rank,
        ${cosFold("qe.v", "c.v", dim)} AS cos_raw
      FROM adcr a
      JOIN prank r ON r.query_id = a.query_id AND r.neighbor_id = a.neighbor_id
      JOIN e c ON c.vec_id = a.neighbor_id
      JOIN e qe ON qe.vec_id = a.query_id),
    boosts AS (
      SELECT CAST(unnest(range(1, ${boostMaxSql + 1})) AS INT) AS boost),
    tagged AS (
      SELECT b.boost, p.query_id, p.neighbor_id, p.adc_raw, p.cos_raw
      FROM boosts b JOIN pcos p ON p.cell_rank <= b.boost * $ivfpqNprobe),${
      boostCurveTailSql("")}"""
  }

  // ------------------------- emb_filtered_boost_curve_two_level
  // The probe-boost tuning curve in the FORCED TWO-LEVEL regime (the
  // emb_two_level_probe_curve discipline applied to the boost knob):
  // the >10⁷-vector index's trickiest filtered-search behavior is
  // that a boosted nprobe only materializes if wProbe widens with it
  // (IvfPq.filteredTopKWith caps fine probes by the coarse
  // neighborhoods they can see — FilteredAnnSpec pins the arm; this
  // query SHIPS ITS MEASURED CURVE). One pass: coarse probes ranked
  // once at FULL width, every fine cell tagged with (coarse rank,
  // fine distance); boost b sees the cells whose coarse rank ≤
  // min(w·b, |coarse|) — the exact widening arm — and probes the
  // nprobe·b nearest among them; ADC and exact cosine are computed
  // ONCE per (query, candidate) pair (both boost-independent), the
  // per-boost rankings are windows over the tagged pool. Output per
  // boost: the EFFECTIVE wProbe, candidate volume (cost) and
  // recall@k vs the exact filtered ground truth (win) — integer
  // counts, replayed exactly by the ivf2Ctes + pq + blocked-ADC
  // chain.
  //
  // 100 TB shape: an audit op (the max-width pool deliberately spans
  // every cell — that is what a tuning curve prices; the pair pool is
  // bounded by s·n·|Q|, the brute arm's own cost); production
  // queries run filteredTopK at one chosen boost.
  private val embFilteredBoostCurveTwoLevel = filteredBoostCurve { (vecs, n, cells) =>
    IvfPq.TwoLevelIndexW(AnnIvf.twoLevelIndex(vecs, cells, dim = 64, knownCount = n), 2)
  }

  private lazy val embFilteredBoostCurveTwoLevelSql: String = {
    val dim = 64
    s"""
    WITH ${ScaleOps.ivf2Ctes},
    $pqCtesComposable,${filteredInvCte("inverted2")},
    maxwc AS (SELECT COUNT(*) AS mwc FROM coarsep),
    qcoarse AS (
      SELECT query_id, qv, coarse, cr FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.cell AS coarse,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY ${ScaleOps.ivfSqDist("e.v", "c.c", dim)}, c.cell) AS cr
        FROM e CROSS JOIN coarsep c
        WHERE e.vec_id < 5)),
    qcells AS (
      SELECT q.query_id, q.qv, q.cr, f2c.fid AS cell,
        ${ScaleOps.ivfSqDist("q.qv", "cf.c", dim)} AS dist
      FROM qcoarse q
      JOIN f2c ON f2c.coarse = q.coarse
      JOIN centf cf ON cf.cell = f2c.fid),
    boosts AS (
      SELECT CAST(unnest(range(1, ${boostMaxSql + 1})) AS INT) AS boost),
    probed AS (
      SELECT boost, query_id, cell FROM (
        SELECT b.boost, q.query_id, q.cell,
          ROW_NUMBER() OVER (PARTITION BY b.boost, q.query_id
            ORDER BY q.dist, q.cell) AS cell_rank
        FROM boosts b JOIN qcells q
          ON q.cr <= LEAST(2 * b.boost, (SELECT mwc FROM maxwc)))
      WHERE cell_rank <= $ivfpqNprobe * boost),
    ${adcCtes("qcells", "inv_f", dim)},
    pcos AS (
      SELECT a.query_id, iv.cell, a.neighbor_id, a.adc_raw,
        ${cosFold("qe.v", "c.v", dim)} AS cos_raw
      FROM adcr a
      JOIN inv_f iv ON iv.vec_id = a.neighbor_id
      JOIN e c ON c.vec_id = a.neighbor_id
      JOIN e qe ON qe.vec_id = a.query_id),
    tagged AS (
      SELECT p.boost, c.query_id, c.neighbor_id, c.adc_raw, c.cos_raw
      FROM probed p
      JOIN pcos c ON c.query_id = p.query_id AND c.cell = p.cell),${
      boostCurveTailSql("\n      CAST(LEAST(2 * b.boost, (SELECT mwc FROM maxwc)) AS INT) AS w_probe,")}"""
  }

  // -------------------------------------- emb_filtered_topk_adaptive
  // The adaptive-boost dispatch exercised END TO END (the curve
  // motivates the ⌈1/s⌉ rule; this query hash-proves the engine
  // actually runs it): filteredTopK with probeBoost ≤ 0 resolves the
  // boost from the measured selectivity (IvfPq.adaptiveProbeBoost —
  // here s ≈ 0.2 → boost 5, vs the fixed ×2 the baseline query uses),
  // and the CHOSEN boost rides every output row next to the regime,
  // so the oracle hash pins both the dispatch AND the arithmetic that
  // picked it (the oracle recomputes ⌈1/s⌉ from the same counts with
  // the same double ops).
  //
  // 100 TB shape: identical to emb_filtered_topk — one more probed
  // cell set per query; the boost input (filteredN/n) is a catalog
  // statistic at scale, not a scan.
  private val embFilteredTopkAdaptive: Q = (s, d) => {
    import graft.operators.{AnnIvf, IvfPq}
    val corpus = labeledCorpus(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()
    val pred = col("label").isin(filteredLabels: _*)
    val filteredN = corpus.filter(pred).count()
    val boost = IvfPq.adaptiveProbeBoost(n, filteredN,
      AnnIvf.adaptiveCells(n), ivfpqNprobe)
    val queries = queryVecs(corpus)
    IvfPq.filteredTopK(corpus, n, dim = 64, attrs = Seq("label"),
        pred = pred, queries = queries,
        k = ivfpqK, nprobe = ivfpqNprobe, rerank = ivfpqRerank,
        m = pqM, dsub = pqDsub, kCodes = pqK,
        probeBoost = 0, bruteFrac = filteredBruteFrac) // ≤ 0 ⇒ adaptive
      .withColumn("probe_boost", lit(boost))
      .orderBy(col("query_id"), col("rank"))
  }

  private lazy val embFilteredTopkAdaptiveSql: String = {
    val dim = 64
    s"""
    WITH ${ScaleOps.ivfCtes()},
    $pqCtesComposable,
    bsel AS (
      SELECT LEAST($boostMaxSql, CAST(CEILING(1.0 /
        (CAST((SELECT COUNT(*) FROM embeddings
               WHERE label IN (${filteredLabels.mkString(", ")})) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE))) AS INT))
        AS boost),${ScaleOps.probesCte(s"$ivfpqNprobe * (SELECT boost FROM bsel)")},${
      filteredInvCte("inverted")},
    ${adcCtes("probes", "inv_f", dim)},
    ${ivfpqRerankTailSql(ivfpqRerank, ivfpqK, dim,
        extraSelect = ", 'pre_filtered_probe' AS regime, " +
          "(SELECT boost FROM bsel) AS probe_boost")}"""
  }

  // --------------------------------------------- emb_ivfpq_rerank_curve
  // The rerank-depth tuning curve for the composed IVF+PQ search —
  // emb_recall_curve's role for the rerank knob (and the probe-curve
  // discipline: every approximation parameter ships with its measured
  // recall/cost trade, so a 100 TB deployment picks rerank from a
  // table, not a guess). One pass: a candidate that ADC ranks at r
  // survives every rerank depth ≥ r, so the ADC ranking is computed
  // ONCE at maxRerank and each survivor explodes to the depths it
  // participates in — the full-vector fetch (the cost the knob
  // controls, n_scored below) happens once for the maxRerank pool,
  // never per depth. All recalls derive from integer counts, so the
  // curve replays exactly in DuckDB.
  private val embIvfpqRerankCurve: Q = (s, d) => {
    val maxRerank = 50 // depths 10, 20, 30, 40, 50
    val corpus = vecCorpus(s, d)
    val n = corpus.count()
    // the same regime-dispatched index + true-ADC candidate stage as
    // emb_ivfpq_topk (IvfPq) — the curve tunes the knob of the REAL
    // pipeline, so the two may never drift apart structurally
    val (index, books) =
      IvfPq.trainHalves(corpus, n, dim = 64, pqM, pqDsub, pqK)
    val codedInv = IvfPq.codedInvertedFile(index, corpus, books, pqDsub)
    val queries = queryVecs(corpus)
    val surv = IvfPq.adcCandidates(index, books, pqDsub, codedInv, queries, ivfpqNprobe)
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("adc_cos").desc, col("neighbor_id"))))
      .filter(col("adc_rank") <= maxRerank)
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("qv"), col("neighbor_id").as("id"), col("adc_rank"))
    // ONE full-vector fetch for the maxRerank pool (broadcast the
    // ≤ maxRerank·|Q| survivors), then explode to participating depths
    val dep = corpus.select(col("id"), col("v").as("cv"))
      .join(broadcast(surv), Seq("id"))
      .withColumn("cos_raw", GraftFunctions.cosineSimilarity(col("qv"), col("cv")))
      .withColumn("rerank_depth",
        explode(expr(s"sequence(((adc_rank + 9) div 10) * 10, $maxRerank, 10)")))
      .select(col("query_id"), col("id"), col("cos_raw"), col("rerank_depth"))
      // two consumers (top-10 ranking and the n_scored count) branch
      // off this subtree; without the persist the probe+fetch pass
      // executes twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top10 = dep
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"), col("rerank_depth"))
          .orderBy(col("cos_raw").desc, col("id"))))
      .filter(col("rnk") <= 10)
    val exact = embCosineTopk(s, d)
      .select(col("query_id"), col("neighbor_id").as("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nExact = exact.count()
    val found = exact.join(top10, Seq("query_id", "id"))
      .groupBy(col("rerank_depth")).agg(count(lit(1)).as("n_found"))
    val scored = dep.groupBy(col("rerank_depth")).agg(count(lit(1)).as("n_scored"))
    // empty-corpus totality (EmptyInputSpec): zero exact neighbors ⇒
    // a zero curve, not a divide-by-zero — denominator is driver-side
    val recall =
      if (nExact == 0L) lit(0.0)
      else round(coalesce(col("n_found"), lit(0L)).cast(DoubleType)
        / lit(nExact).cast(DoubleType), 4)
    s.range(1, maxRerank / 10 + 1)
      .select((col("id") * 10).cast("int").as("rerank_depth"))
      .join(found, Seq("rerank_depth"), "left")
      .join(scored, Seq("rerank_depth"), "left")
      .select(col("rerank_depth"), lit(nExact).as("n_exact"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        recall.as("recall"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"))
      .orderBy(col("rerank_depth"))
  }

  private lazy val embIvfpqRerankCurveSql: String = {
    val dim = 64
    s"""
    WITH ${ScaleOps.ivfCtes()},
    $pqCtesComposable,
    ${cosineTopkCtes.trim},
    exact AS (SELECT query_id, neighbor_id AS id FROM ex_r WHERE rank <= 10),${
      ScaleOps.probesCte(s"$ivfpqNprobe")},
    ${adcCtes("probes", "inverted", dim)},
    surv AS (
      SELECT a.query_id, a.neighbor_id AS id, a.adc_rank,
        qe.v AS qv, ce.v AS cv
      FROM adcr a
      JOIN e qe ON qe.vec_id = a.query_id
      JOIN e ce ON ce.vec_id = a.neighbor_id
      WHERE a.adc_rank <= 50),
    dep AS (
      SELECT s.query_id, s.id, ${cosFold("s.qv", "s.cv", dim)} AS cos_raw,
        d.d AS rerank_depth
      FROM surv s CROSS JOIN LATERAL (
        SELECT unnest(generate_series(((s.adc_rank + 9) // 10) * 10, 50, 10)) AS d) d),
    top10 AS (
      SELECT query_id, rerank_depth, id FROM (
        SELECT query_id, rerank_depth, id,
          ROW_NUMBER() OVER (PARTITION BY query_id, rerank_depth
            ORDER BY cos_raw DESC, id) AS rnk
        FROM dep)
      WHERE rnk <= 10),
    found AS (
      SELECT t.rerank_depth, COUNT(*) AS n_found
      FROM exact x JOIN top10 t ON t.query_id = x.query_id AND t.id = x.id
      GROUP BY 1),
    scored AS (SELECT rerank_depth, COUNT(*) AS n_scored FROM dep GROUP BY 1),
    ks AS (SELECT unnest(generate_series(10, 50, 10)) AS d),
    tot AS (SELECT COUNT(*) AS n_exact FROM exact)
    SELECT CAST(ks.d AS INT) AS rerank_depth,
      tot.n_exact AS n_exact,
      CAST(COALESCE(f.n_found, 0) AS BIGINT) AS n_found,
      CASE WHEN tot.n_exact = 0 THEN 0.0 ELSE
        ROUND(CAST(COALESCE(f.n_found, 0) AS DOUBLE) / CAST(tot.n_exact AS DOUBLE), 4)
      END AS recall,
      CAST(COALESCE(sc.n_scored, 0) AS BIGINT) AS n_scored
    FROM ks CROSS JOIN tot
    LEFT JOIN found f ON f.rerank_depth = ks.d
    LEFT JOIN scored sc ON sc.rerank_depth = ks.d
    ORDER BY rerank_depth"""
  }

  // --------------------------------------------------- emb_index_build
  // The persisted-index production half: train the regime-dispatched
  // IVF+PQ index ONCE, write the artifact (the cell-partitioned coded
  // inverted file + centroid/codebook/meta tables — IvfPq.buildIndex),
  // RELOAD it from storage, and emit a manifest of the reloaded
  // tables: row counts plus order-insensitive checksums (integer sums
  // and decimal-exact element sums — associative, so engine
  // aggregation order cannot perturb them). The oracle computes the
  // identical stats from the training replay chain, so a hash-green
  // row proves the stored artifact IS the deterministic build — the
  // load path reproduces training bit for bit, which is what lets
  // st_ivfpq_serve_topk serve from storage without retraining.
  //
  // 100 TB shape: the build is the usual projection-only index pass;
  // the manifest aggregates are one scan of the (tiny relative to the
  // corpus) coded file with map-side partials. The artifact directory
  // is per-sf scratch, overwritten per build.
  // ------------------------------------------ store-manifest rows
  // Every manifest row is (artifact, n_rows, sum_a, sum_b): order-
  // insensitive checksums the oracle recomputes from its replay chain.

  /** Exact DECIMAL(38,18) sum, rounded ONCE at the end. NOT (18,6):
    * Spark's double->decimal cast rounds the shortest repr HALF_UP
    * while DuckDB's TRUNCATES the exact binary expansion, so per-
    * element quantization at 6dp diverges by +-1e-6 on computed
    * (full-precision) doubles and only statistical sign cancellation
    * kept the summed manifests green (it broke at sf0.1). At 18dp
    * the two casts differ by ~1e-17/element, invisible at the final
    * 6dp rounding.
    */
  private def decSum(c: Column): Column = {
    import org.apache.spark.sql.types.DecimalType
    round(coalesce(sum(c.cast(DecimalType(38, 18))),
      lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 18)))
      .cast(DoubleType), 6)
  }

  /** Rows, Σ cell id and the decimal-exact Σ of every coordinate of a
    * driver-local centroid table. */
  private def centRow(s: SparkSession, label: String, ids: Array[Int],
      cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    ids.zip(cents).toSeq
      .flatMap { case (cell, cent) => cent.map(x => (cell, x)) }
      .toDF("cell", "x")
      .agg(lit(label).as("artifact"),
        lit(ids.length.toLong).as("n_rows"),
        lit(ids.map(_.toLong).sum).as("sum_a"),
        decSum(col("x")).as("sum_b"))
  }

  /** Rows, Σ(id + cell + codes) and distinct cells of a coded file. */
  private def checksumRow(label: String, df: DataFrame): DataFrame = df.agg(
    lit(label).as("artifact"),
    count(lit(1)).as("n_rows"),
    (coalesce(sum(col("id")), lit(0L))
      + coalesce(sum(col("cell").cast("long")), lit(0L))
      + coalesce(sum(expr(
        "aggregate(codes, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT))")),
        lit(0L))).as("sum_a"),
    countDistinct(col("cell")).cast(DoubleType).as("sum_b"))

  /** The store's pending tombstones: count, Σ id, distinct ids. */
  private def tombRow(s: SparkSession, dir: String): DataFrame =
    IvfPq.tombstonesOf(s, dir).agg(
      lit("tombstones").as("artifact"),
      count(lit(1)).as("n_rows"),
      coalesce(sum(col("id")), lit(0L)).as("sum_a"),
      countDistinct(col("id")).cast(DoubleType).as("sum_b"))

  /** Cell occupancy of a (cell) table: non-empty cells, the largest
    * cell and the max/mean imbalance — the retrain trigger. */
  private def balanceRow(cells: DataFrame): DataFrame =
    cells.groupBy(col("cell")).agg(count(lit(1)).as("sz")).agg(
      lit("balance").as("artifact"),
      count(lit(1)).as("n_rows"),
      coalesce(max(col("sz")), lit(0L)).as("sum_a"),
      coalesce(round(max(col("sz")).cast(DoubleType)
          * count(lit(1)).cast(DoubleType)
          / sum(col("sz")).cast(DoubleType), 6),
        lit(0.0)).as("sum_b"))

  /** The oracle's [[checksumRow]] over the (vec_id, cell) table `inv`
    * and the (vec_id, code) table `codes`, both restricted by `where`. */
  private def checksumRowSql(label: String, inv: String, codes: String,
      where: String = ""): String = {
    val w = if (where.isEmpty) "" else s" WHERE $where"
    s"""
      SELECT '$label' AS artifact,
        (SELECT COUNT(*) FROM $inv$w) AS n_rows,
        (SELECT CAST(COALESCE(SUM(vec_id), 0) + COALESCE(SUM(cell), 0) AS BIGINT)
           FROM $inv$w)
          + (SELECT CAST(COALESCE(SUM(code), 0) AS BIGINT) FROM $codes$w) AS sum_a,
        (SELECT CAST(COUNT(DISTINCT cell) AS DOUBLE) FROM $inv$w) AS sum_b"""
  }

  /** The oracle's [[centRow]] over a `(cell, c)` centroid table. */
  private def centRowSql(label: String, cents: String): String = s"""
      SELECT '$label' AS artifact,
        (SELECT COUNT(*) FROM $cents) AS n_rows,
        (SELECT CAST(COALESCE(SUM(cell), 0) AS BIGINT) FROM $cents) AS sum_a,
        ROUND(CAST(COALESCE(SUM(CAST(x AS DECIMAL(38,18))), 0) AS DOUBLE), 6) AS sum_b
      FROM (SELECT unnest(c) AS x FROM $cents)"""

  /** The oracle's [[tombRow]]: the ids the delete predicate selects. */
  private lazy val tombRowSql: String = s"""
      SELECT 'tombstones' AS artifact, COUNT(*) AS n_rows,
        CAST(COALESCE(SUM(vec_id), 0) AS BIGINT) AS sum_a,
        CAST(COUNT(DISTINCT vec_id) AS DOUBLE) AS sum_b
      FROM embeddings WHERE vec_id % $deleteMod = $deleteRem"""

  /** The oracle's [[balanceRow]] over a (cell) table. */
  private def balanceRowSql(cells: String): String = s"""
      SELECT 'balance' AS artifact, COUNT(*) AS n_rows,
        CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS sum_a,
        COALESCE(ROUND(CAST(MAX(sz) AS DOUBLE) * COUNT(*) / SUM(sz), 6), 0) AS sum_b
      FROM (SELECT cell, COUNT(*) AS sz FROM $cells GROUP BY cell)"""

  private val embIndexBuild: Q = (s, d) => {
    val corpus = vecCorpus(s, d)
    val n = corpus.count()
    val dir = Vectors.indexDir(d)
    IvfPq.buildIndex(corpus, n, dim = 64, m = pqM, dsub = pqDsub,
      kCodes = pqK, dir = dir)
    val loaded = IvfPq.loadIndex(s, dir)
    // manifest from the RELOADED artifact (never the in-memory build)
    val (cids, ccents) = loaded.index match {
      case IvfPq.OneLevelIndex(ids, cents) => (ids, cents)
      case IvfPq.TwoLevelIndexW(idx, _) => (idx.coarseIds, idx.coarseCents)
    }
    import s.implicits._
    val bookEl = loaded.books.toSeq.zipWithIndex.flatMap { case (book, sub) =>
      book.toSeq.zipWithIndex.flatMap { case (cent, code) =>
        cent.map(x => (sub, code, x)) } }.toDF("sub", "code", "x")
    val bookMeta = loaded.books.zipWithIndex.flatMap { case (book, sub) =>
      book.indices.map(code => (sub + 1L) * (code + 1L)) }
    val bookRow = bookEl.agg(
      lit("codebooks").as("artifact"),
      lit(loaded.books.map(_.length.toLong).sum).as("n_rows"),
      lit(bookMeta.sum).as("sum_a"),
      decSum(col("x")).as("sum_b"))
    centRow(s, "centroids", cids, ccents).unionAll(bookRow)
      .unionAll(checksumRow("inverted", loaded.inverted)).orderBy(col("artifact"))
  }

  private lazy val embIndexBuildSql: String = s"""
    WITH ${ScaleOps.ivfCtes()},
    $pqCtesComposable,
    cent_stats AS (${centRowSql("centroids", "centf")}),
    cb_el AS (SELECT sub, code, unnest(c) AS x FROM pq_cb),
    cb_stats AS (
      SELECT 'codebooks' AS artifact,
        (SELECT COUNT(*) FROM pq_cb) AS n_rows,
        (SELECT CAST(COALESCE(SUM((sub + 1) * (code + 1)), 0) AS BIGINT) FROM pq_cb) AS sum_a,
        ROUND(CAST(COALESCE(SUM(CAST(x AS DECIMAL(38,18))), 0) AS DOUBLE), 6) AS sum_b
      FROM cb_el),
    inv_stats AS (${checksumRowSql("inverted", "inverted", "pq_coded")})
    SELECT * FROM cent_stats
    UNION ALL SELECT * FROM cb_stats
    UNION ALL SELECT * FROM inv_stats
    ORDER BY artifact"""

  /** Scratch location of the persisted index artifact — IvfPq owns the
    * rule; the query layer and the Streaming twins share it.
    */
  private[queries] def indexDir(sfDir: String): String = IvfPq.indexDir(sfDir)

  // --------------------------------------------- emb_index_shard_merge
  // DISTRIBUTED index build — how a 100 TB index is actually built (no
  // single job encodes the corpus): train ONCE, fan the encode out
  // over shards (IvfPq.encodeShard — each shard a self-contained
  // store encoded under the FROZEN halves), then MERGE the shard
  // stores file-level into the serving artifact (IvfPq.mergeIndexes —
  // trained-half equality VERIFIED across shards, coded files unioned
  // as file moves under their cell= partitions: no decode, no
  // shuffle, no row ever read; merge cost ∝ file count). Because
  // encoding is a deterministic per-row projection under frozen
  // halves, merge(shard_even, shard_odd) == build(corpus) bit for
  // bit. The manifest pins exactly that from the RELOADED merged
  // store: `merged` matches emb_index_build's `inverted` row (the
  // monolithic build's checksums — same oracle arithmetic), the
  // per-parity rows prove both shards' content present exactly once,
  // and `centroids` pins the trained half carried through the merge.
  // MergeSpec additionally pins store bit-equality vs the monolithic
  // build in BOTH regimes and the mismatched-halves refusal.
  private val embIndexShardMerge: Q = (s, d) => {
    val corpus = vecCorpus(s, d)
    val n = corpus.count()
    // train once — same regime dispatch and constants as buildIndex
    // (the two halves overlapped, the trainHalves discipline)
    val (index, books) =
      IvfPq.trainHalves(corpus, n, dim = 64, pqM, pqDsub, pqK)
    val base = indexDir(d)
    val (dirA, dirB, dirM) =
      (base + "_shard_even", base + "_shard_odd", base + "_merged")
    // the two shard encodes are independent job chains under the same
    // frozen halves — exactly how a distributed build fans them out
    // (overlapped; guide §2.6)
    graft.operators.Par.jobs(
      () => IvfPq.encodeShard(index, books, pqDsub,
        corpus.filter(col("id") % 2 === 0), dirA),
      () => IvfPq.encodeShard(index, books, pqDsub,
        corpus.filter(col("id") % 2 === 1), dirB))
    IvfPq.mergeIndexes(s, Seq(dirA, dirB), dirM)
    val loaded = IvfPq.loadIndex(s, dirM)
    val (cids, ccents) = loaded.index match {
      case IvfPq.OneLevelIndex(ids, cents) => (ids, cents)
      case IvfPq.TwoLevelIndexW(idx, _) => (idx.coarseIds, idx.coarseCents)
    }
    centRow(s, "centroids", cids, ccents)
      .unionAll(checksumRow("merged", loaded.inverted))
      .unionAll(checksumRow("shard_even", loaded.inverted.filter(col("id") % 2 === 0)))
      .unionAll(checksumRow("shard_odd", loaded.inverted.filter(col("id") % 2 === 1)))
      .orderBy(col("artifact"))
  }

  private lazy val embIndexShardMergeSql: String = s"""
    WITH ${ScaleOps.ivfCtes()},
    $pqCtesComposable,
    row_cent AS (${centRowSql("centroids", "centf")}),
    row_merged AS (${checksumRowSql("merged", "inverted", "pq_coded")}),
    row_even AS (${checksumRowSql("shard_even", "inverted", "pq_coded", "vec_id % 2 = 0")}),
    row_odd AS (${checksumRowSql("shard_odd", "inverted", "pq_coded", "vec_id % 2 = 1")})
    SELECT * FROM row_cent
    UNION ALL SELECT * FROM row_even
    UNION ALL SELECT * FROM row_merged
    UNION ALL SELECT * FROM row_odd
    ORDER BY artifact"""

  // -------------------------------------------------- emb_index_append
  // Incremental maintenance of the persisted index — the ingest half a
  // production retrieval system runs continuously: new vectors (the
  // delta, id ≡ appendDeltaRem mod appendDeltaMod here) are assigned
  // and PQ-encoded under the FROZEN trained halves of the stored index
  // (centroids and codebooks do not move — retraining per ingest is
  // exactly what the persisted artifact exists to avoid) and APPENDED
  // to the cell-partitioned coded file; base cells' files are never
  // rewritten. The manifest is computed from the RELOADED post-append
  // store: the full file and the delta slice (counts +
  // order-insensitive checksums over id/cell/codes), plus the
  // `balance` row — non-empty cells, largest cell, and the
  // max/mean occupancy imbalance factor, the drift signal that tells a
  // deployment its frozen quantizer needs retraining. The oracle
  // trains on the base subset (ivfCtes eWhere), replays the frozen
  // delta assignment/encode CTE-for-CTE, and computes the same stats
  // over the union — hash-green means append ≡ encode(base ∪ delta)
  // under the frozen index, bit for bit.
  //
  // 100 TB shape: ingest work is delta-sized projections + the same
  // broadcast joins as the build (never a corpus pass); the append
  // writes only the touched cell partitions (new files — a compactor
  // folds them in asynchronously); manifest aggregates are one scan of
  // the coded file with map-side partials.
  private[queries] val appendDeltaMod = 10
  private[queries] val appendDeltaRem = 7

  /** The delta `dl(vec_id, v)` and its frozen-index cell assignment
    * `dl_assign(vec_id, cell)` against the base-trained `centf`. */
  private[queries] lazy val deltaAssignCtes: String = s"""
    dl AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id % $appendDeltaMod = $appendDeltaRem),
    dl_assign AS (
      SELECT vec_id, cell FROM (
        SELECT d.vec_id, c.cell,
          ROW_NUMBER() OVER (PARTITION BY d.vec_id
            ORDER BY ${ScaleOps.ivfSqDist("d.v", "c.c", 64)}, c.cell) AS rn
        FROM dl d CROSS JOIN centf c)
      WHERE rn = 1)"""

  /** The delta's PQ encode under the frozen base codebooks (`pq_cb`):
    * `dl_coded(vec_id, sub, code)` over [[deltaAssignCtes]]' `dl`. */
  private[queries] lazy val deltaCodedCtes: String = s"""
    dl_subs AS (
      SELECT vec_id, CAST(sub AS INT) AS sub,
        list_slice(v, sub * $pqDsub + 1, sub * $pqDsub + $pqDsub) AS subv
      FROM dl CROSS JOIN (SELECT unnest(range(0, $pqM)) AS sub)),
    dl_coded AS (
      SELECT vec_id, sub, code FROM (
        SELECT s.vec_id, s.sub, b.code,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
            ORDER BY ${pqSqDist("s.subv", "b.c")}, b.cell) AS rn
        FROM dl_subs s JOIN pq_cb b ON b.sub = s.sub)
      WHERE rn = 1)"""
  private val embIndexAppend: Q = (s, d) => {
    val all = vecCorpus(s, d)
    val isDelta = col("id") % appendDeltaMod === appendDeltaRem
    val base = all.filter(!isDelta)
    val nBase = base.count()
    val dir = indexDir(d) + "_append"
    // buildIndex returns the trained halves precisely so a same-process
    // ingest pays no reload (the halves are bit-equal to a loadIndex by
    // the store's determinism contract); the encode chain uses nothing
    // else of a Loaded
    val (bIdx, bBooks) = IvfPq.buildIndex(base, nBase, dim = 64, m = pqM,
      dsub = pqDsub, kCodes = pqK, dir = dir)
    IvfPq.appendToIndex(bIdx, bBooks, pqDsub, all.filter(isDelta), dir, "")
    // manifest from the RELOADED post-append artifact
    val after = IvfPq.loadIndex(s, dir).inverted
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    checksumRow("appended", after)
      .unionAll(checksumRow("delta", after.filter(isDelta)))
      .unionAll(balanceRow(after))
      .orderBy(col("artifact"))
  }

  private lazy val embIndexAppendSql: String = s"""
    WITH ${ScaleOps.ivfCtes(eWhere = s"vec_id % $appendDeltaMod <> $appendDeltaRem")},
    $pqCtesComposable,$deltaAssignCtes,$deltaCodedCtes,
    inv_all AS (
      SELECT vec_id, cell FROM inverted
      UNION ALL SELECT vec_id, cell FROM dl_assign),
    codes_all AS (
      SELECT vec_id, code FROM pq_coded
      UNION ALL SELECT vec_id, code FROM dl_coded),
    row_appended AS (${checksumRowSql("appended", "inv_all", "codes_all")}),
    row_delta AS (${checksumRowSql("delta", "dl_assign", "dl_coded")}),
    row_balance AS (${balanceRowSql("inv_all")})
    SELECT * FROM row_appended
    UNION ALL SELECT * FROM row_delta
    UNION ALL SELECT * FROM row_balance
    ORDER BY artifact"""

  // --------------------------------------------------- emb_index_stats
  // Fragmentation / statistics-drift observability for the persisted
  // VECTOR index — doc_lex_stats' twin on the vector side, and the
  // standalone form of the `balance` manifest row: what a deployment
  // WATCHES to schedule cell-local compaction and quantizer retrains.
  // An append-heavy store accumulates per-cell FILE fragments (each
  // append lands one deterministic file per touched cell — the
  // compactor's fold bill); a delete-heavy store accumulates pending
  // tombstones whose share of the raw store is exactly how far the
  // frozen trained halves' occupancy statistics have drifted from the
  // live corpus. Scenario: base build + one frozen-encode append +
  // tombstoned deletes, NO compaction — the stats describe the store
  // a compactor/retrainer is ABOUT to service. Rows:
  //   - `fragmentation` — non-empty cells in the raw store; the count
  //     of append-tagged files read from the PHYSICAL cell dirs (the
  //     store's real layout — a fabricated inventory cannot hash
  //     green; one file per touched cell makes it oracle-replayable
  //     as the delta's touched-cell count); their ratio.
  //   - `staleness` — pending tombstone count, their id checksum, and
  //     the stale fraction ROUND(tombstoned / store rows, 6) a
  //     deployment alarms on.
  //   - `balance` — live-view (post-delete serving) occupancy:
  //     non-empty cells, largest cell, max/mean imbalance — the
  //     retrain trigger, now measured on what serving actually scans.
  // The oracle replays every number from the training/assignment
  // chain (ivfCtes + the frozen delta assignment) and the two doc
  // subsets; the engine derives them from the STORE (the reloaded
  // coded file, the manifest's file list, the tombstone side table).
  //
  // 100 TB shape: one pass over the coded file (cell, id only — codes
  // pruned), one manifest read, a tombstone-sized scan.
  private val embIndexStats: Q = (s, d) => {
    val all = vecCorpus(s, d)
    val isDelta = col("id") % appendDeltaMod === appendDeltaRem
    val isDel = col("id") % deleteMod === deleteRem
    val base = all.filter(!isDelta)
    val dir = indexDir(d) + "_stats"
    // same no-reload ingest as emb_index_append: the build's returned
    // halves ARE the frozen index the append encodes under
    val (bIdx, bBooks) = IvfPq.buildIndex(base, base.count(), dim = 64,
      m = pqM, dsub = pqDsub, kCodes = pqK, dir = dir)
    // the delta append and the tombstone write stage concurrently
    // (§2.6) and commit their manifest versions in turn; the stats
    // read side below runs only after both land
    graft.operators.Par.jobs(
      () => IvfPq.appendToIndex(bIdx, bBooks, pqDsub,
        all.filter(isDelta), dir, ""),
      () => IvfPq.deleteFromIndex(all.filter(isDel).select(col("id")), dir))
    val loaded = IvfPq.loadIndex(s, dir)
    val inv = loaded.inverted
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // append-fragment count from the store's manifest: the live
    // coded files it names (∝ file count, no listing)
    val appendFiles: Long = graft.operators.SegmentStore.open(s, dir).of("inverted")
      .count(_.split("/").last.startsWith("append-")).toLong
    val fragRow = inv.agg(
      lit("fragmentation").as("artifact"),
      countDistinct(col("cell")).as("n_rows"),
      lit(appendFiles).as("sum_a"),
      round(when(countDistinct(col("cell")) === 0, lit(0.0))
        .otherwise(lit(appendFiles).cast(DoubleType)
          / countDistinct(col("cell")).cast(DoubleType)), 6).as("sum_b"))
    val staleRow = IvfPq.tombstonesOf(s, dir)
      .crossJoin(inv.agg(count(lit(1)).as("n_store")))
      .agg(
        lit("staleness").as("artifact"),
        count(col("id")).as("n_rows"),
        coalesce(sum(col("id")), lit(0L)).as("sum_a"),
        round(when(coalesce(first(col("n_store")), lit(0L)) === 0, lit(0.0))
          .otherwise(count(col("id")).cast(DoubleType)
            / first(col("n_store")).cast(DoubleType)), 6).as("sum_b"))
    fragRow.unionAll(staleRow).unionAll(balanceRow(loaded.live))
      .orderBy(col("artifact"))
  }

  private lazy val embIndexStatsSql: String = s"""
    WITH ${ScaleOps.ivfCtes(eWhere = s"vec_id % $appendDeltaMod <> $appendDeltaRem")},$deltaAssignCtes,
    inv_all AS (
      SELECT vec_id, cell FROM inverted
      UNION ALL SELECT vec_id, cell FROM dl_assign),
    tomb AS (
      SELECT vec_id FROM embeddings WHERE vec_id % $deleteMod = $deleteRem),
    row_frag AS (
      SELECT 'fragmentation' AS artifact,
        (SELECT CAST(COUNT(DISTINCT cell) AS BIGINT) FROM inv_all) AS n_rows,
        (SELECT CAST(COUNT(DISTINCT cell) AS BIGINT) FROM dl_assign) AS sum_a,
        (SELECT CASE WHEN COUNT(DISTINCT cell) = 0 THEN 0.0
           ELSE ROUND(CAST((SELECT COUNT(DISTINCT cell) FROM dl_assign)
             AS DOUBLE) / COUNT(DISTINCT cell), 6) END
         FROM inv_all) AS sum_b),
    row_stale AS (
      SELECT 'staleness' AS artifact,
        (SELECT COUNT(*) FROM tomb) AS n_rows,
        (SELECT CAST(COALESCE(SUM(vec_id), 0) AS BIGINT) FROM tomb) AS sum_a,
        CASE WHEN (SELECT COUNT(*) FROM inv_all) = 0 THEN 0.0
          ELSE ROUND(CAST((SELECT COUNT(*) FROM tomb) AS DOUBLE)
            / (SELECT COUNT(*) FROM inv_all), 6) END AS sum_b),
    live AS (
      SELECT i.vec_id, i.cell FROM inv_all i
      LEFT JOIN tomb t ON t.vec_id = i.vec_id
      WHERE t.vec_id IS NULL),
    row_balance AS (${balanceRowSql("live")})
    SELECT * FROM row_balance
    UNION ALL SELECT * FROM row_frag
    UNION ALL SELECT * FROM row_stale
    ORDER BY artifact"""

  // -------------------------------------------------- emb_index_delete
  // The remaining lifecycle op of the persisted index — takedown
  // (GDPR erasure, corpus filtering) without a rebuild. Deletes are
  // TOMBSTONES (IvfPq.deleteFromIndex appends the ids to a side
  // table; the immutable cell-partitioned store is untouched), serving
  // consumes Loaded.live — the store minus the broadcast tombstone
  // set, so deleted vectors are unservable the moment the delete
  // lands — and physical removal is deferred to compactIndex, which
  // rewrites exactly the cells holding a tombstoned row (REWRITE work
  // ∝ deletes; discovery of those cells is one column-pruned store
  // scan — id plus the directory-encoded cell, never the codes) and
  // clears the applied set. The manifest
  // proves the whole discipline in one hash: the `live` row is the
  // post-delete serving view, the `compacted` row is the RAW store
  // after physical removal (identical stats ⇒ compaction dropped
  // exactly the tombstoned rows, bit-preserving the rest), and the
  // `tombstones` row pins the pending set between delete and compact.
  // The oracle replays training on the full corpus and filters the
  // delete predicate out of the coded file — a pure replay, because
  // the trained halves do NOT move on delete (quantizer drift from
  // mass deletion is the same `balance`-row retrain trigger the
  // append path watches).
  //
  // 100 TB shape: the delete writes |deleted| ids; the serve-side
  // anti-join broadcasts the tombstone set (small between
  // compactions by operational definition — the compactor is the
  // backstop); compaction reads and rewrites only touched cells.
  private[queries] val deleteMod = 9
  private[queries] val deleteRem = 4
  private lazy val liveSql = s"vec_id % $deleteMod <> $deleteRem"
  /** Build → tombstone delete → serve `live` → compact, in the regime
    * `oneLevelMax` forces; `trainedRows` checksums the RELOADED trained
    * halves the regime keeps beyond the coded file. */
  private def indexLifecycle(suffix: String, oneLevelMax: Long,
      trainedRows: (SparkSession, IvfPq.Loaded) => Seq[DataFrame]): Q = (s, d) => {
    val corpus = vecCorpus(s, d)
    val n = corpus.count()
    val dir = indexDir(d) + suffix
    IvfPq.buildIndex(corpus, n, dim = 64, m = pqM, dsub = pqDsub,
      kCodes = pqK, dir = dir, oneLevelMax = oneLevelMax)
    val isDel = col("id") % deleteMod === deleteRem
    IvfPq.deleteFromIndex(corpus.filter(isDel).select(col("id")), dir)
    val afterDel = IvfPq.loadIndex(s, dir)
    // materialize the pre-compaction rows NOW — compaction mutates the
    // store (and clears the tombstone files) these lazy plans read
    val pre = (trainedRows(s, afterDel) ++
        Seq(checksumRow("live", afterDel.live), tombRow(s, dir)))
      .reduce(_ unionAll _)
      .localCheckpoint(true)
    IvfPq.compactIndex(s, dir)
    checksumRow("compacted", IvfPq.loadIndex(s, dir).inverted)
      .unionAll(pre)
      .orderBy(col("artifact"))
  }

  private val embIndexDelete =
    indexLifecycle("_delete", AnnIvf.OneLevelMaxVectors, (_, _) => Nil)

  private lazy val embIndexDeleteSql: String = s"""
    WITH ${ScaleOps.ivfCtes()},
    $pqCtesComposable,
    row_compacted AS (${checksumRowSql("compacted", "inverted", "pq_coded", liveSql)}),
    row_live AS (${checksumRowSql("live", "inverted", "pq_coded", liveSql)}),
    row_tomb AS ($tombRowSql)
    SELECT * FROM row_compacted
    UNION ALL SELECT * FROM row_live
    UNION ALL SELECT * FROM row_tomb
    ORDER BY artifact"""

  // ---------------------------------- emb_index_lifecycle_two_level
  // The persisted-index lifecycle in the TWO-LEVEL regime — the store a
  // >10⁷-vector deployment actually writes (forced here via
  // oneLevelMax = −1, the emb_ivfpq_topk_two_level convention). One
  // query exercises the arms that are structurally unreachable at
  // oracle scale through the default dispatch: buildIndex's
  // coarse/groups persistence, loadIndex's two-level load, the live
  // anti-join over a two-level store, and compaction's physical
  // removal of tombstoned rows from cell-partitioned two-level data.
  // The manifest pins all of it in one hash: `coarse` and `groups`
  // checksum the RELOADED trained halves against the ivf2Ctes training
  // replay (sampled fine Lloyd → coarse Lloyd → non-empty restriction
  // → final fine→coarse grouping), `live` is the post-delete serving
  // view, `compacted` is the raw store after physical removal
  // (identical stats ⇒ compaction dropped exactly the tombstoned rows,
  // bit-preserving the rest), and `tombstones` pins the pending set.
  // The oracle replays the full two-level training chain and filters
  // the delete predicate out of the two-level coded file — a pure
  // replay, because the trained halves do not move on delete.
  //
  // 100 TB shape: identical to the one-level lifecycle ops (this IS
  // the at-scale regime): delta-sized tombstone writes, broadcast
  // anti-join serving, compaction ∝ touched cells.
  private val embIndexLifecycleTwoLevel = indexLifecycle("_two_level", -1L,
    (s, loaded) => {
      val idx = loaded.index match {
        case IvfPq.TwoLevelIndexW(i, _) => i
        case other => sys.error(s"forced two-level store loaded as $other")
      }
      // groups is the trained half the two-level design keeps as DATA
      // (~cells rows × dim doubles — O(cells) ≈ 50-400 MB at the regime
      // these arms exist for): checksum it DISTRIBUTED, never collected
      val groupsRow = idx.groups.agg(
          count(lit(1)).as("n_rows"),
          coalesce(sum(expr(
            "aggregate(gids, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT))")),
            lit(0L)).as("sum_a"))
        .crossJoin(idx.groups
          .select(explode(flatten(col("gcents"))).as("x"))
          .agg(decSum(col("x")).as("sum_b")))
        .select(lit("groups").as("artifact"), col("n_rows"), col("sum_a"),
          col("sum_b"))
      Seq(centRow(s, "coarse", idx.coarseIds, idx.coarseCents), groupsRow)
    })

  private lazy val embIndexLifecycleTwoLevelSql: String = s"""
    WITH ${ScaleOps.ivf2Ctes},
    $pqCtesComposable,
    row_coarse AS (${centRowSql("coarse", "coarsep")}),
    grp_el AS (
      SELECT f2c.fid, unnest(f.fv) AS x
      FROM f2c JOIN fines f ON f.fid = f2c.fid),
    row_groups AS (
      SELECT 'groups' AS artifact,
        (SELECT COUNT(DISTINCT coarse) FROM f2c) AS n_rows,
        (SELECT CAST(COALESCE(SUM(fid), 0) AS BIGINT) FROM f2c) AS sum_a,
        ROUND(CAST(COALESCE(SUM(CAST(x AS DECIMAL(38,18))), 0) AS DOUBLE), 6) AS sum_b
      FROM grp_el),
    row_compacted AS (${checksumRowSql("compacted", "inverted2", "pq_coded", liveSql)}),
    row_live AS (${checksumRowSql("live", "inverted2", "pq_coded", liveSql)}),
    row_tomb AS ($tombRowSql)
    SELECT * FROM row_coarse
    UNION ALL SELECT * FROM row_compacted
    UNION ALL SELECT * FROM row_groups
    UNION ALL SELECT * FROM row_live
    UNION ALL SELECT * FROM row_tomb
    ORDER BY artifact"""

  // --------------------------------------------- emb_matryoshka_recall
  // Truncated-dimension retrieval audit (the Matryoshka-representation
  // question): how much top-k quality survives if the index stores
  // only the first 16 of this corpus's 64 dimensions (4× smaller, 4×
  // less bandwidth)? Exact top-10 under the full vectors vs exact
  // top-10 under the 16-dim prefix, per query: overlap, recall@10,
  // and where the full-precision top-1 lands in the truncated
  // ranking. The measurement that decides whether a prefix index is
  // safe BEFORE rebuilding a 100 TB store.
  //
  // 100 TB shape: an audit op — the query set is fixed and tiny, so
  // the corpus is scanned once with both similarities computed
  // side-by-side in one compiled projection (slice is scan-level;
  // CosineSimilarity is the compiled kernel); both rankings come out
  // of the same single hash shuffle on query_id.
  /** Every (query, neighbor) pair carrying BOTH exact rankings — under
    * the full vectors and under the 16-dim prefix — out of one corpus
    * scan and one hash shuffle on query_id. Shared by the Matryoshka
    * audit and the RRF fusion.
    */
  private def fullTruncRanked(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        slice(col("v"), 1, 16).as("qt"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      slice(col("v"), 1, 16).as("ct"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_full", GraftFunctions.cosineSimilarity(col("qv"), col("cv")))
      .withColumn("cos_trunc", GraftFunctions.cosineSimilarity(col("qt"), col("ct")))
      // one explicit hash partition serves BOTH ranking windows (their
      // orders differ but their distribution is the same); without it
      // AQE coalesces the first window's exchange and the second
      // re-shuffles — PlanSpec pins the single-exchange shape
      .repartition(col("query_id"))
      .withColumn("rank_full", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_full").desc, col("neighbor_id"))))
      .withColumn("rank_trunc", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_trunc").desc, col("neighbor_id"))))
  }

  /** Ranking CTEs shared by the matryoshka and RRF oracles. */
  private val fullTruncRankedCtes = """
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_cosine_similarity(q.v, c.v) AS cf,
        list_cosine_similarity(q.v[1:16], c.v[1:16]) AS ct
      FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
    r AS (
      SELECT query_id, neighbor_id,
        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cf DESC, neighbor_id) AS rank_full,
        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ct DESC, neighbor_id) AS rank_trunc
      FROM p)"""

  private val embMatryoshkaRecall: Q = (s, d) =>
    fullTruncRanked(s, d).groupBy(col("query_id"))
      .agg(
        sum(when(col("rank_full") <= 10 && col("rank_trunc") <= 10, 1L).otherwise(0L))
          .as("n_overlap"),
        max(when(col("rank_full") === 1, col("rank_trunc"))).cast("long")
          .as("trunc_rank_of_top1"))
      .withColumn("recall_at_10", round(col("n_overlap").cast(DoubleType) / 10.0, 4))
      .orderBy(col("query_id"))

  private val embMatryoshkaRecallSql = s"""
    WITH $fullTruncRankedCtes
    SELECT query_id,
      CAST(SUM(CASE WHEN rank_full <= 10 AND rank_trunc <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
      CAST(MAX(CASE WHEN rank_full = 1 THEN rank_trunc END) AS BIGINT) AS trunc_rank_of_top1,
      ROUND(CAST(SUM(CASE WHEN rank_full <= 10 AND rank_trunc <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10.0, 4) AS recall_at_10
    FROM r
    GROUP BY 1
    ORDER BY 1"""

  // --------------------------------------------- emb_matryoshka_demo
  // The Matryoshka audit in its INTENDED regime (VERDICT r5 #10):
  // emb_matryoshka_recall above honestly reports ~0.1 recall on this
  // unstructured random corpus — the control proving prefix indexes
  // need Matryoshka-TRAINED embeddings. This query derives a
  // Matryoshka-structured view of the same corpus deterministically —
  // a per-dimension decay profile w_i = 0.85^i (6dp-pinned literals,
  // inlined identically on both engines), concentrating ~99% of every
  // vector's squared norm in the first 16 dims, which is exactly the
  // energy profile Matryoshka representation learning trains into a
  // model — and reruns the identical audit. Prefix recall goes
  // 0.9–1.0 where the control sits at ~0.1: the operator pair
  // measures corpus structure, not a fixed verdict.
  //
  // 100 TB shape: identical to the control — one corpus scan, both
  // weighted similarities in one compiled projection (WeightedCosine:
  // no materialized weighted column, no HOF on the scan), one hash
  // shuffle on query_id serving both ranking windows.
  private val MatryoshkaDecay = 0.85
  private val matWeights: Array[Double] = Array.tabulate(64)(i =>
    BigDecimal(math.pow(MatryoshkaDecay, i))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

  private val embMatryoshkaDemo: Q = (s, d) => {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_full",
        GraftFunctions.weightedCosine(col("qv"), col("cv"), matWeights))
      .withColumn("cos_trunc",
        GraftFunctions.weightedCosine(slice(col("qv"), 1, 16), slice(col("cv"), 1, 16),
          matWeights.take(16)))
      .repartition(col("query_id"))
      .withColumn("rank_full", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_full").desc, col("neighbor_id"))))
      .withColumn("rank_trunc", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_trunc").desc, col("neighbor_id"))))
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("rank_full") <= 10 && col("rank_trunc") <= 10, 1L).otherwise(0L))
          .as("n_overlap"),
        max(when(col("rank_full") === 1, col("rank_trunc"))).cast("long")
          .as("trunc_rank_of_top1"))
      .withColumn("recall_at_10", round(col("n_overlap").cast(DoubleType) / 10.0, 4))
      .orderBy(col("query_id"))
  }

  private val embMatryoshkaDemoSql: String = {
    val dim = 64; val pre = 16
    val wLits = matWeights.map(java.lang.Double.toString).mkString("[", ", ", "]")
    def wcos(n: Int, a: String, b: String): String =
      cosFold(a, b, n, v => s"($v[CAST(i AS INT)] * ($wLits::DOUBLE[])[CAST(i AS INT)])")
    s"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ${wcos(dim, "q.v", "c.v")} AS cf,
        ${wcos(pre, "q.v", "c.v")} AS ct
      FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
    r AS (
      SELECT query_id, neighbor_id,
        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cf DESC, neighbor_id) AS rank_full,
        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ct DESC, neighbor_id) AS rank_trunc
      FROM p)
    SELECT query_id,
      CAST(SUM(CASE WHEN rank_full <= 10 AND rank_trunc <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
      CAST(MAX(CASE WHEN rank_full = 1 THEN rank_trunc END) AS BIGINT) AS trunc_rank_of_top1,
      ROUND(CAST(SUM(CASE WHEN rank_full <= 10 AND rank_trunc <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10.0, 4) AS recall_at_10
    FROM r
    GROUP BY 1
    ORDER BY 1"""
  }

  // ------------------------------------------------- emb_rrf_fusion
  // Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of two
  // retrievers — the standard hybrid-search combiner (vector + lexical
  // in production; here the full-precision and 16-dim-prefix rankings,
  // which need no extra scan): score = Σ 1/(60 + rankᵢ), re-ranked.
  // RRF needs only RANKS, never score calibration across retrievers —
  // why it is the default fusion everywhere from Elasticsearch to
  // Vespa.
  //
  // 100 TB shape: piggybacks on the same one-scan/one-shuffle ranked
  // set as the Matryoshka audit; the fusion itself is a projection on
  // integer ranks (deterministic doubles — same two divisions and one
  // add in both engines) plus one more window over the bounded
  // query-id partitions.
  private val embRrfFusion: Q = (s, d) =>
    fullTruncRanked(s, d)
      .withColumn("rrf_score",
        round(lit(1.0) / (lit(60.0) + col("rank_full"))
          + lit(1.0) / (lit(60.0) + col("rank_trunc")), 6))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_score").desc, col("neighbor_id"))))
      .filter(col("fused_rank") <= 10)
      .select(col("query_id"), col("fused_rank"), col("neighbor_id"),
        col("rrf_score"), col("rank_full"), col("rank_trunc"))
      .orderBy(col("query_id"), col("fused_rank"))

  private val embRrfFusionSql = s"""
    WITH $fullTruncRankedCtes,
    scored AS (
      SELECT query_id, neighbor_id,
        ROUND(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rank_full)
            + CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rank_trunc), 6) AS rrf_score,
        rank_full, rank_trunc
      FROM r),
    fused AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY rrf_score DESC, neighbor_id) AS fused_rank
      FROM scored)
    SELECT query_id, fused_rank, neighbor_id, rrf_score, rank_full, rank_trunc
    FROM fused
    WHERE fused_rank <= 10
    ORDER BY query_id, fused_rank"""

  // --------------------------------------------------- emb_dim_profile
  // Per-dimension embedding profile — the q28-style data-validation
  // pass for the vector column: per dim, how many vectors carry it
  // (short/degenerate vectors surface as uneven counts), decimal-
  // exact mean (drift), min/max (range/clipping), and the dead-dim
  // flag (a dimension whose min == max carries no information —
  // a truncated-write or all-zero-pad symptom). 100 TB shape: the
  // ×dim posexplode looks expensive but aggregates MAP-SIDE onto
  // `dim` keys, so the shuffle is dim × partitions partial rows —
  // independent of corpus size; the scan and explode stay in one
  // codegen span.
  private val embDimProfile: Q = (s, d) =>
    vecs(s, d)
      .select(posexplode(col("v")).as(Seq("p", "x")))
      .select((col("p") + 1).cast("long").as("dim"), col("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1)), 6).as("mean"),
        round(min(col("x")), 6).as("min_x"),
        round(max(col("x")), 6).as("max_x"))
      .withColumn("dead", (col("min_x") === col("max_x")).cast("int"))
      .orderBy(col("dim"))

  private val embDimProfileSql = """
    WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    x AS (
      SELECT i.i AS dim, v[CAST(i.i AS INT)] AS x
      FROM e CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(v))) AS i) i)
    SELECT dim, COUNT(*) AS n,
      ROUND(CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean,
      ROUND(MIN(x), 6) AS min_x,
      ROUND(MAX(x), 6) AS max_x,
      CAST(ROUND(MIN(x), 6) = ROUND(MAX(x), 6) AS INT) AS dead
    FROM x
    GROUP BY dim
    ORDER BY dim"""

  val entries: Map[String, Q] = Map(
    "emb_dim_profile" -> embDimProfile,
    "emb_rrf_fusion" -> embRrfFusion,
    "emb_matryoshka_recall" -> embMatryoshkaRecall,
    "emb_matryoshka_demo" -> embMatryoshkaDemo,
    "emb_pq_codes" -> embPqCodes,
    "emb_pq_topk" -> embPqTopk,
    "emb_ivfpq_topk" -> embIvfpqTopk,
    "emb_ivfpq_topk_two_level" -> embIvfpqTopkTwoLevel,
    "emb_filtered_topk" -> embFilteredTopk,
    "emb_filtered_topk_selective" -> embFilteredTopkSelective,
    "emb_filtered_recall" -> embFilteredRecall,
    "emb_filtered_boost_curve" -> embFilteredBoostCurve,
    "emb_filtered_boost_curve_two_level" -> embFilteredBoostCurveTwoLevel,
    "emb_filtered_topk_adaptive" -> embFilteredTopkAdaptive,
    "emb_ivfpq_rerank_curve" -> embIvfpqRerankCurve,
    "emb_index_build" -> embIndexBuild,
    "emb_index_append" -> embIndexAppend,
    "emb_index_stats" -> embIndexStats,
    "emb_index_delete" -> embIndexDelete,
    "emb_index_lifecycle_two_level" -> embIndexLifecycleTwoLevel,
    "emb_index_shard_merge" -> embIndexShardMerge,
    "emb_cosine_topk" -> embCosineTopk,
    "emb_near_dup_pairs" -> embNearDupPairs,
    "emb_int8_quantize" -> embInt8Quantize,
    "emb_quantized_topk" -> embQuantizedTopk,
    "emb_dedup_clusters" -> embDedupClusters)

  val oracles: Map[String, String] = Map(
    "emb_dim_profile" -> embDimProfileSql,
    "emb_rrf_fusion" -> embRrfFusionSql,
    "emb_matryoshka_recall" -> embMatryoshkaRecallSql,
    "emb_matryoshka_demo" -> embMatryoshkaDemoSql,
    "emb_pq_codes" -> embPqCodesSql,
    "emb_pq_topk" -> embPqTopkSql,
    "emb_ivfpq_topk" -> embIvfpqTopkSql,
    "emb_ivfpq_topk_two_level" -> embIvfpqTopkTwoLevelSql,
    "emb_filtered_topk" -> embFilteredTopkSql,
    "emb_filtered_topk_selective" -> embFilteredTopkSelectiveSql,
    "emb_filtered_recall" -> embFilteredRecallSql,
    "emb_filtered_boost_curve" -> embFilteredBoostCurveSql,
    "emb_filtered_boost_curve_two_level" -> embFilteredBoostCurveTwoLevelSql,
    "emb_filtered_topk_adaptive" -> embFilteredTopkAdaptiveSql,
    "emb_ivfpq_rerank_curve" -> embIvfpqRerankCurveSql,
    "emb_index_build" -> embIndexBuildSql,
    "emb_index_append" -> embIndexAppendSql,
    "emb_index_stats" -> embIndexStatsSql,
    "emb_index_delete" -> embIndexDeleteSql,
    "emb_index_lifecycle_two_level" -> embIndexLifecycleTwoLevelSql,
    "emb_index_shard_merge" -> embIndexShardMergeSql,
    "emb_cosine_topk" -> embCosineTopkSql,
    "emb_near_dup_pairs" -> embNearDupPairsSql,
    "emb_int8_quantize" -> embInt8QuantizeSql,
    "emb_quantized_topk" -> embQuantizedTopkSql,
    "emb_dedup_clusters" -> embDedupClustersSql)
}
