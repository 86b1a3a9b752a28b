package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.functions.expressions.GraftFunctions

/** The composed production ANN search (the FAISS IVF-PQ recipe, Jégou
  * et al. 2011 §V): IVF routes each query to `nprobe` cells, true ADC
  * scores ONLY those cells' members — m small CODES per candidate
  * against a per-query lookup table of partial dot products — and the
  * top `rerank` ADC survivors are re-ranked with exact cosine over
  * their full vectors (a broadcast point fetch, never a corpus scan).
  *
  * Two structural disciplines both live HERE, shared by every composed
  * consumer (batch search, rerank tuning curve, streaming serve):
  *
  *  - '''Regime dispatch''' ([[AnnIvf.regimeFor]]): below the
  *    one-level ceiling the index is the full-corpus Lloyd build with
  *    centroid codegen constants; past ~10⁷ vectors [[indexAuto]]
  *    selects the two-level index (capped-sample training, √cells
  *    coarse constants, broadcast fine neighborhoods) — the same
  *    handover SemDeDup routes through, so the O(cells)-per-row /
  *    50 MB-constant one-level shape is unreachable at scale by
  *    construction. At every oracle-checked scale the dispatch
  *    resolves to one-level, so the centroid-literal replays stay
  *    valid unchanged; the forced two-level arm has its own
  *    full-composition oracle (emb_ivfpq_topk_two_level).
  *  - '''True ADC''': the candidate relation carries (cell, id,
  *    codes) — m ints per vector, the part a 100 TB deployment keeps
  *    memory-resident — and scoring is m lookups into a per-query LUT
  *    (AnnKernels.pqQueryLut / adcCosine). The PQ reconstruction
  *    (~dim doubles ≈ 32× the codes) exists nowhere in the join.
  *
  * [[buildIndex]]/[[loadIndex]] persist the trained artifact
  * (centroids or coarse+groups, codebooks, the coded inverted file
  * partitioned by cell) so a serving deployment trains ONCE and
  * loads — the streaming serve's offline half consumes the stored
  * form instead of re-running Lloyd per start.
  */
object IvfPq {

  /** A built search index, regime-resolved. */
  sealed trait Index
  final case class OneLevelIndex(cellIds: Array[Int],
      cents: Array[Array[Double]]) extends Index
  final case class TwoLevelIndexW(idx: AnnIvf.TwoLevelIndex, wProbe: Int) extends Index

  /** Build the index through whichever regime [[AnnIvf.regimeFor]]
    * selects for a corpus of `n` vectors — the structural handover
    * every composed-search consumer routes through.
    */
  def indexAuto(corpus: DataFrame, n: Long, dim: Int, wProbe: Int = 2,
      oneLevelMax: Long = AnnIvf.OneLevelMaxVectors): Index = {
    val cells = AnnIvf.adaptiveCells(n)
    AnnIvf.regimeFor(n, oneLevelMax) match {
      case AnnIvf.OneLevel =>
        val (ids, cents) = AnnIvf.collectCentroids(
          AnnIvf.refinedCentroids(corpus, cells, dim))
        OneLevelIndex(ids, cents)
      case AnnIvf.TwoLevel =>
        TwoLevelIndexW(
          AnnIvf.twoLevelIndex(corpus, cells, dim, knownCount = n), wProbe)
    }
  }

  /** Corpus assignment under the index: (id, v, cell) — projection
    * only (one-level) or projection + broadcast joins (two-level);
    * never a corpus shuffle.
    */
  def assign(index: Index, vecs: DataFrame): DataFrame = index match {
    case OneLevelIndex(ids, cents) => AnnIvf.invertedFile(vecs, ids, cents)
    case TwoLevelIndexW(idx, w) => AnnIvf.invertedFileTwoLevel(vecs, idx, w)
  }

  /** Query-side probe: the `nprobe` nearest cells appended as an
    * exploded `cell` column (input columns preserved). One-level: a
    * single compiled argmin projection; two-level: coarse probe +
    * broadcast neighborhood joins ([[AnnIvf.probeCellsTwoLevel]]).
    * Both shapes are legal on streaming inputs (no window, no state).
    */
  def probe(index: Index, df: DataFrame, vCol: String, nprobe: Int): DataFrame =
    index match {
      case OneLevelIndex(ids, cents) =>
        df.withColumn("cell",
          explode(GraftFunctions.nearestCells(col(vCol), cents, ids, nprobe)))
      case TwoLevelIndexW(idx, w) =>
        AnnIvf.probeCellsTwoLevel(df, vCol, idx, nprobe, w)
    }

  /** The coded inverted file — the hot index a 100 TB deployment keeps
    * memory-resident: (cell, id, codes array&lt;int&gt; of length m).
    * Built by projection-only passes over one corpus scan.
    */
  def codedInvertedFile(index: Index, corpus: DataFrame,
      books: Array[Array[Array[Double]]], dsub: Int): DataFrame =
    AnnPq.encodeCodes(assign(index, corpus), books, dsub)
      .select(col("cell"), col("id"), col("codes"))

  /** ADC candidates for a query table (query_id, qv): probe, hash-join
    * the coded file on cell, score each candidate's m CODES directly
    * against the query vector (AdcCosineFromQuery — the per-subspace
    * blocked fold, bit-identical to the LUT formulation, zero
    * per-call allocation). Returns (query_id, neighbor_id, adc_cos) —
    * nothing wider than the codes ever crosses a shuffle or sink
    * boundary. The LUT formulation is deliberately NOT used here:
    * under whole-stage codegen a non-cheap projection below the
    * stream side of a broadcast join is re-evaluated per match, so
    * the KB-sized LUT was rebuilt per CANDIDATE (jstack-attributed,
    * ~30× the scoring cost at sf1's 32.5M-candidate volume).
    */
  def adcCandidates(index: Index, books: Array[Array[Array[Double]]], dsub: Int,
      codedInv: DataFrame, queries: DataFrame, nprobe: Int): DataFrame =
    probe(index, queries, "qv", nprobe)
      .join(codedInv.withColumnRenamed("id", "neighbor_id"), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        GraftFunctions.adcCosineFromQuery(col("qv"), col("codes"), books, dsub)
          .as("adc_cos"))

  /** Train BOTH halves of the composed search concurrently: the
    * regime-dispatched index ([[indexAuto]]) and the PQ codebooks
    * (AnnPq) are INDEPENDENT training chains over the same corpus
    * (typically persisted by the caller) — overlapping them collapses
    * the serialized per-job scheduling latency of the two Lloyd
    * chains (guide §2.6; at scale the second chain back-fills the
    * first one's stage tails). Results are bit-identical to the
    * sequential form: each half is deterministic and reads only the
    * immutable corpus.
    */
  def trainHalves(corpus: DataFrame, n: Long, dim: Int, m: Int, dsub: Int,
      kCodes: Int, wProbe: Int = 2,
      oneLevelMax: Long = AnnIvf.OneLevelMaxVectors): (Index, Array[Array[Array[Double]]]) =
    Par.two(
      () => indexAuto(corpus, n, dim, wProbe, oneLevelMax),
      () => AnnPq.collectCodebooks(
        AnnPq.refinedCodebooks(corpus, m, dsub, kCodes), m))

  /** The composed top-k search over a pre-built index: ADC pool of
    * `rerank` per query, exact-cosine re-rank of the survivors via a
    * broadcast point fetch against the full-vector corpus. Output:
    * (query_id, rank, neighbor_id, cos_sim, adc_cos, adc_rank),
    * unsorted (callers order for presentation).
    */
  def topKWith(index: Index, books: Array[Array[Array[Double]]], dsub: Int,
      corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      rerank: Int): DataFrame = {
    val codedInv = codedInvertedFile(index, corpus, books, dsub)
    // the ADC window shuffles only (query_id, neighbor_id, adc_cos) —
    // never the query vector; qv rejoins AFTER the rerank cut from the
    // tiny broadcast query table
    val surv = adcCandidates(index, books, dsub, codedInv, queries, nprobe)
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_cos").desc, col("neighbor_id"))))
      .filter(col("adc_rank") <= rerank)
      .join(broadcast(queries), Seq("query_id"))
    val full = corpus.select(col("id").as("neighbor_id"), col("v").as("cv"))
    full.join(broadcast(surv), Seq("neighbor_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSimilarity(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos_sim"), 4).as("cos_sim"),
        round(col("adc_cos"), 4).as("adc_cos"), col("adc_rank"))
  }

  /** End-to-end composed search: train (regime-dispatched index + PQ
    * codebooks) and run [[topKWith]]. `oneLevelMax` is parameterized
    * for specs and the forced-two-level query; production call sites
    * use the default ceiling.
    */
  def topK(corpus: DataFrame, n: Long, dim: Int, queries: DataFrame, k: Int,
      nprobe: Int, rerank: Int, m: Int, dsub: Int, kCodes: Int,
      wProbe: Int = 2, oneLevelMax: Long = AnnIvf.OneLevelMaxVectors): DataFrame = {
    val (index, books) =
      trainHalves(corpus, n, dim, m, dsub, kCodes, wProbe, oneLevelMax)
    topKWith(index, books, dsub, corpus, queries, k, nprobe, rerank)
  }

  // -------------------------------------------------- filtered search
  // Metadata-filtered ANN — "top-k among the vectors satisfying a
  // predicate" (tenant / language / source / license filters: the
  // single most common production constraint on a retrieval index;
  // FAISS "searching with filters", Milvus/Qdrant filtered HNSW).
  // Two regimes, dispatched on SELECTIVITY — the same
  // structural-handover discipline as AnnIvf.regimeFor, because each
  // shape is catastrophically wrong in the other's regime:
  //
  //  - PreFilteredProbe (broad filters): probe the index with a
  //    BOOSTED nprobe (filtering thins every cell by ~s, so recall at
  //    fixed candidate depth needs proportionally more cells — the
  //    classic filtered-search compensation), prune candidates by the
  //    predicate BEFORE any scoring, then the normal ADC → exact
  //    re-rank tail. Cost per query ≈ (n/cells)·nprobe·boost·s code
  //    scores.
  //  - BruteForceSubset (narrow filters): scan the filtered rows with
  //    EXACT cosine — no index, no approximation. Cost per query ≈
  //    s·n full-vector scores.
  //
  // The crossover is a FRACTION comparison (n cancels): brute wins
  // when s·c_vec < (nprobe·boost/cells)·c_code, i.e. s ≲
  // nprobe·boost/(cells·(c_vec/c_code)). With the house constants
  // (nprobe 2, boost 2, cells 16) and c_vec/c_code ≈ 5 (64 doubles
  // exactly-scored vs m=16 codes ADC-scored) that is s ≈ 0.05 — the
  // default `bruteFrac`. Dispatching on selectivity (not absolute
  // count) keeps the chosen regime stable across scale factors, so
  // each oracle replays exactly one branch.
  //
  // 100 TB shape: the attribute is a STORED COLUMN of the coded
  // inverted file ([[codedInvertedFileAttrs]] — exactly what
  // buildIndex would write with a wider schema), so the predicate
  // prunes at the index scan (parquet predicate pushdown + the codes
  // payload never read for non-matching rows); the brute arm reads
  // only the filtered rows (same pushdown on the corpus scan); the
  // exact re-rank broadcasts survivors against the FILTERED corpus.
  // Nothing in either arm shuffles the corpus.
  sealed trait FilterRegime
  case object PreFilteredProbe extends FilterRegime
  case object BruteForceSubset extends FilterRegime

  /** Structural dispatch: brute-force below `bruteFrac` selectivity
    * (see the cost model above), pre-filtered probe otherwise.
    */
  def filterRegimeFor(n: Long, filteredN: Long,
      bruteFrac: Double): FilterRegime =
    if (n <= 0 || filteredN.toDouble / n.toDouble <= bruteFrac)
      BruteForceSubset
    else PreFilteredProbe

  /** Selectivity-adaptive probe boost: a predicate of selectivity s
    * thins every probed cell to ~s·|cell| candidates, so holding the
    * candidate volume (and with it recall on a near-uniform corpus)
    * at its unfiltered level wants ~⌈1/s⌉ times more probes — capped
    * at probing every cell, floored at 1. A FIXED ×2 undercompensates
    * broad-but-not-that-broad filters (s = 0.2 wants ×5);
    * emb_filtered_boost_curve prices the whole knob (recall +
    * candidate volume per boost in one pass) and FilteredAnnSpec pins
    * curve monotonicity. Callers opt in by passing probeBoost ≤ 0 to
    * [[filteredTopKWith]]/[[filteredTopK]].
    */
  def adaptiveProbeBoost(n: Long, filteredN: Long, cells: Int,
      nprobe: Int): Int = {
    val s = if (n <= 0 || filteredN <= 0) 1.0
      else filteredN.toDouble / n.toDouble
    math.max(1, math.min(cells / math.max(1, nprobe),
      math.ceil(1.0 / s).toInt))
  }

  /** [[codedInvertedFile]] carrying metadata attribute columns — the
    * wider schema a deployment stores when it serves filtered
    * queries: (cell, id, codes, attrs…). Still projection-only
    * passes; the attrs ride the assignment (invertedFile /
    * invertedFileTwoLevel preserve input columns).
    */
  def codedInvertedFileAttrs(index: Index, corpus: DataFrame,
      books: Array[Array[Array[Double]]], dsub: Int,
      attrs: Seq[String]): DataFrame =
    AnnPq.encodeCodes(assign(index, corpus), books, dsub)
      .select((Seq(col("cell"), col("id"), col("codes")) ++
        attrs.map(col)): _*)

  /** Metadata-filtered top-k over a built index. `pred` must be
    * expressible over `attrs` columns of `corpus` (id, v, attrs…);
    * `n`/`filteredN` are the caller's sizing counts (the filtered
    * count is one `corpus.filter(pred).count()` — at scale, a catalog
    * statistic). Output: (query_id, rank, neighbor_id, cos_sim,
    * adc_cos, adc_rank, regime) — the ADC columns are NULL in the
    * brute regime (no approximation ran), and `regime` pins the
    * dispatch in every result row (oracle-hashed, so the wrong branch
    * cannot pass).
    */
  def filteredTopKWith(index: Index, books: Array[Array[Array[Double]]],
      dsub: Int, corpus: DataFrame, attrs: Seq[String], pred: Column,
      queries: DataFrame, k: Int, nprobe: Int, rerank: Int,
      n: Long, filteredN: Long, probeBoost: Int = 2,
      bruteFrac: Double = 0.05): DataFrame = {
    val fullF = corpus.filter(pred)
      .select(col("id").as("neighbor_id"), col("v").as("cv"))
    filterRegimeFor(n, filteredN, bruteFrac) match {
      case BruteForceSubset =>
        // exact cosine over the filtered rows only: the subset is the
        // distributed side, the query table broadcasts
        fullF.crossJoin(broadcast(queries))
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("cos_sim",
            GraftFunctions.cosineSimilarity(col("qv"), col("cv")))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("cos_sim").desc, col("neighbor_id"))))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            round(col("cos_sim"), 4).as("cos_sim"),
            lit(null).cast(DoubleType).as("adc_cos"),
            lit(null).cast(IntegerType).as("adc_rank"),
            lit("brute_force_subset").as("regime"))
      case PreFilteredProbe =>
        // candidates pruned by the predicate BEFORE any scoring: the
        // attr is a stored column of the coded file, so the filter
        // sits at the index scan, and the boosted probe compensates
        // the per-cell thinning. probeBoost ≤ 0 = selectivity-adaptive
        // ([[adaptiveProbeBoost]]: ~⌈1/s⌉, capped at every cell).
        val boost =
          if (probeBoost > 0) probeBoost
          else adaptiveProbeBoost(n, filteredN, AnnIvf.adaptiveCells(n), nprobe)
        val codedF = codedInvertedFileAttrs(index, corpus, books, dsub, attrs)
          .filter(pred)
          .select(col("cell"), col("id").as("neighbor_id"), col("codes"))
        // two-level: the boosted fine probes are capped by the coarse
        // neighborhoods they can see — widen wProbe alongside nprobe,
        // or in the large-corpus regime the boost silently does not
        // materialize (FilteredAnnSpec pins the forced-two-level leg)
        val probeIndex = index match {
          case TwoLevelIndexW(idx, w) =>
            TwoLevelIndexW(idx, math.min(w * boost, idx.coarseIds.length))
          case one => one
        }
        val surv = probe(probeIndex, queries, "qv", nprobe * boost)
          .join(codedF, Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            GraftFunctions.adcCosineFromQuery(col("qv"), col("codes"),
              books, dsub).as("adc_cos"))
          .withColumn("adc_rank", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("adc_cos").desc, col("neighbor_id"))))
          .filter(col("adc_rank") <= rerank)
          .join(broadcast(queries), Seq("query_id"))
        fullF.join(broadcast(surv), Seq("neighbor_id"))
          .withColumn("cos_sim",
            GraftFunctions.cosineSimilarity(col("qv"), col("cv")))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("cos_sim").desc, col("neighbor_id"))))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            round(col("cos_sim"), 4).as("cos_sim"),
            round(col("adc_cos"), 4).as("adc_cos"), col("adc_rank"),
            lit("pre_filtered_probe").as("regime"))
    }
  }

  /** End-to-end filtered search: train (regime-dispatched index + PQ
    * codebooks, same as [[topK]]) and run [[filteredTopKWith]].
    */
  def filteredTopK(corpus: DataFrame, n: Long, dim: Int, attrs: Seq[String],
      pred: Column, queries: DataFrame, k: Int, nprobe: Int, rerank: Int,
      m: Int, dsub: Int, kCodes: Int, probeBoost: Int = 2,
      bruteFrac: Double = 0.05, wProbe: Int = 2,
      oneLevelMax: Long = AnnIvf.OneLevelMaxVectors): DataFrame = {
    val vecsOnly = corpus.select(col("id"), col("v"))
    // the sizing count is a third independent chain over the corpus —
    // overlapped with the two training halves
    val ((index, books), filteredN) = Par.two(
      () => trainHalves(vecsOnly, n, dim, m, dsub, kCodes, wProbe, oneLevelMax),
      () => corpus.filter(pred).count())
    filteredTopKWith(index, books, dsub, corpus, attrs, pred, queries,
      k, nprobe, rerank, n, filteredN, probeBoost, bruteFrac)
  }

  // ------------------------------------------------ persisted index
  // A production retrieval system builds the coded inverted file ONCE
  // and serves from the stored artifact — it does not re-run Lloyd and
  // codebook training per process start. The layout mirrors what the
  // search executes: the coded file partitioned by cell (the join
  // key — at 100 TB this is the bucketing that makes the stream-static
  // join exchange-free on the static side; BucketJoinSpec pins exactly
  // that shape: the coded file as a cell-bucketed table joins the
  // probe relation with ONE exchange total, zero on the index side),
  // plus the tiny trained
  // tables (centroids or coarse+groups, codebooks) and a one-row meta
  // table pinning the regime and PQ geometry. Every write is
  // deterministic (seeded training, decimal-exact means), so a loaded
  // index reproduces the inline build bit for bit — the oracle replay
  // of a loaded-index consumer is the SAME chain as the inline one.

  private val invertedSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("codes", ArrayType(IntegerType, containsNull = false)),
    StructField("cell", IntegerType)))
  private val centroidSchema = StructType(Seq(
    StructField("cell", IntegerType),
    StructField("c", ArrayType(DoubleType))))
  private val groupSchema = StructType(Seq(
    StructField("coarse", IntegerType),
    StructField("gcents", ArrayType(ArrayType(DoubleType))),
    StructField("gids", ArrayType(IntegerType))))
  private val codebookSchema = StructType(Seq(
    StructField("sub", IntegerType),
    StructField("code", IntegerType),
    StructField("c", ArrayType(DoubleType))))
  private val metaSchema = StructType(Seq(
    StructField("regime", org.apache.spark.sql.types.StringType),
    StructField("m", IntegerType),
    StructField("dsub", IntegerType),
    StructField("w_probe", IntegerType)))

  /** The coded file is one `cell=`-partitioned [[SegmentStore]]
    * table: batch appends publish `append-<n>-<k>.parquet` under the
    * touched cells; streaming ingest publishes `ingest-<b>-<k>.parquet`;
    * tombstones carry `id`. The trained tables sit beside it, outside
    * the manifest: a build writes them once and nothing mutates them.
    */
  private[graft] val layout = SegmentStore.Layout(
    tables = Seq("inverted"), partitioned = true, appendPrefix = "append",
    appendTag = "", tombstoneKey = "id")

  /** The trained tables: one regime's index tables, the codebooks and
    * the meta row — copied whole by a merge, never segmented.
    */
  private val trainedTables = Seq(("meta", metaSchema),
    ("centroids", centroidSchema), ("coarse", centroidSchema),
    ("groups", groupSchema), ("codebooks", codebookSchema))

  /** Train and persist the full index artifact under `dir` (replaced
    * wholesale, [[SegmentStore.reset]]): `inverted/` (cell-partitioned coded file),
    * `centroids/` or `coarse/`+`groups/`, `codebooks/`, `meta/`.
    * Returns the built in-memory halves so a caller that builds AND
    * serves in one process does not pay a second load.
    */
  def buildIndex(corpus: DataFrame, n: Long, dim: Int, m: Int, dsub: Int,
      kCodes: Int, dir: String, wProbe: Int = 2,
      oneLevelMax: Long = AnnIvf.OneLevelMaxVectors): (Index, Array[Array[Array[Double]]]) = {
    val spark = corpus.sparkSession
    SegmentStore.reset(spark, dir)
    val (index, books) =
      trainHalves(corpus, n, dim, m, dsub, kCodes, wProbe, oneLevelMax)
    writeStore(spark, index, books, m, dsub, wProbe, corpus, dir)
    (index, books)
  }

  /** Write a complete self-contained store under `dir`: the coded
    * inverted file of `slice` plus the trained tables — the shared
    * body of [[buildIndex]] (full corpus) and [[encodeShard]] (one
    * shard's slice under frozen halves).
    */
  private def writeStore(spark: SparkSession, index: Index,
      books: Array[Array[Array[Double]]], m: Int, dsub: Int, wProbe: Int,
      slice: DataFrame, dir: String): Unit = {
    // driver-held rows (centroids/codebooks/meta are KB–MB by
    // construction): ONE partition — createDataFrame otherwise
    // parallelizes to defaultParallelism, writing 32 near-empty files
    // per tiny table that every later load pays to list and read
    def toDf(rows: Seq[org.apache.spark.sql.Row], schema: StructType): DataFrame =
      spark.createDataFrame(new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
        .coalesce(1)
    val regime = index match {
      case _: OneLevelIndex => "one_level"
      case _: TwoLevelIndexW => "two_level"
    }
    // the five store tables are independent writes to disjoint subdirs
    // — the coded file (the only data-sized job) overlaps the tiny
    // trained-table writes instead of serializing their scheduling
    // latency (Par.jobs; a build is wholesale-destructive so there is
    // no cross-table commit protocol to respect here)
    val trained: Seq[() => Unit] = (index match {
      case OneLevelIndex(ids, cents) => Seq(() =>
        toDf(ids.zip(cents).toSeq.map { case (i, c) =>
          org.apache.spark.sql.Row(i, c.toSeq) }, centroidSchema)
          .write.mode("overwrite").parquet(s"$dir/centroids"))
      case TwoLevelIndexW(idx, _) => Seq(
        () => toDf(idx.coarseIds.zip(idx.coarseCents).toSeq.map { case (i, c) =>
          org.apache.spark.sql.Row(i, c.toSeq) }, centroidSchema)
          .write.mode("overwrite").parquet(s"$dir/coarse"),
        () => idx.groups.write.mode("overwrite").parquet(s"$dir/groups"))
    }) ++ Seq(
      () => toDf(books.toSeq.zipWithIndex.flatMap { case (book, s) =>
        book.toSeq.zipWithIndex.map { case (cent, code) =>
          org.apache.spark.sql.Row(s, code, cent.toSeq) } }, codebookSchema)
        .write.mode("overwrite").parquet(s"$dir/codebooks"),
      () => toDf(Seq(org.apache.spark.sql.Row(regime, m, dsub, wProbe)), metaSchema)
        .write.mode("overwrite").parquet(s"$dir/meta"))
    Par.jobs((Seq(() =>
      codedInvertedFile(index, slice, books, dsub)
        .select(col("id"), col("codes"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/inverted"))
      ++ trained): _*)
    SegmentStore.commitBuild(spark, dir, layout)
  }

  // ---------------------------------------------- distributed build
  // How a 100 TB index is ACTUALLY built: no single job encodes the
  // whole corpus. TRAIN ONCE (centrally — training reads a sample, not
  // the corpus), fan the ENCODE out over shards (each job encodes its
  // slice under the FROZEN halves and writes a self-contained shard
  // store), then MERGE the shard stores file-level into the serving
  // artifact. Because assignment + encoding are deterministic per-row
  // projections under frozen halves, merge(shards) == build(corpus)
  // BIT FOR BIT — MergeSpec pins it in both regimes and the
  // emb_index_shard_merge oracle hash-proves it end to end.

  /** Encode one shard's slice under frozen trained halves and write a
    * SELF-CONTAINED shard store (coded file + the trained tables):
    * a shard is independently loadable/auditable, and the merge
    * VERIFIES half-equality across shards instead of trusting the
    * caller.
    */
  def encodeShard(index: Index, books: Array[Array[Array[Double]]],
      dsub: Int, slice: DataFrame, dir: String, wProbe: Int = 2): Unit = {
    val spark = slice.sparkSession
    // a shard encode REPLACES the target wholesale, like a build
    SegmentStore.reset(spark, dir)
    writeStore(spark, index, books, books.length, dsub, wProbe, slice, dir)
  }

  /** Merge self-contained shard stores into one serving artifact.
    * The trained tables are VERIFIED identical across shards via
    * DISTRIBUTED order-insensitive checksums — (row count, Σ
    * xxhash64(row)) computed in Spark per table, ≤ 2 values collected
    * per table per shard; the rows themselves never reach the driver
    * (at the 10⁷–10⁸-vector two-level regime `groups` is an O(cells)
    * ≈ 50–400 MB table, and this verification sits on the critical
    * path of every distributed build) — and refused on mismatch; the
    * coded files then union FILE-LEVEL ([[SegmentStore.mergeShards]]):
    * every shard's live parquet file lands under the output's matching
    * `cell=` partition with a shard-tagged name. At 100 TB this is a
    * metadata operation per file — merge cost ∝ file count, not data
    * size.
    */
  def mergeIndexes(spark: SparkSession, shardDirs: Seq[String],
      outDir: String): Unit = {
    val fs = SegmentStore.fsOf(spark, outDir)
    def checksumOf(d: String, sub: String, schema: StructType): (Long, String, String) =
      // a MISSING table gets a distinct sentinel: without it a shard
      // lacking e.g. 'coarse' would checksum identically to a shard
      // carrying an EMPTY one and slip the identical-halves gate
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$d/$sub"))) (-1L, "missing", "missing")
      else {
        val df = spark.read.schema(schema).parquet(s"$d/$sub")
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        // hash sums through DECIMAL(38,0): exact and overflow-free
        // under ANSI (a BIGINT sum of 64-bit hashes overflows). Two
        // independent hashes (the second folds a salt column, i.e. a
        // different effective seed) + the row count: a sum collision
        // would have to hold under both seeds simultaneously.
        val cols = df.columns.map(col)
        val r = df.agg(count(lit(1)),
          coalesce(sum(xxhash64(cols: _*).cast(dec)), lit(0).cast(dec)),
          coalesce(sum(xxhash64((cols :+ lit("graft-merge-salt")): _*)
            .cast(dec)), lit(0).cast(dec))).head
        (r.getLong(0), r.getDecimal(1).toPlainString,
          r.getDecimal(2).toPlainString)
      }
    def verifyTrained(): Unit = {
      val head = shardDirs.head
      val headSums = trainedTables.map { case (sub, sch) =>
        sub -> checksumOf(head, sub, sch)
      }.toMap
      for (d <- shardDirs.tail; (sub, sch) <- trainedTables)
        require(checksumOf(d, sub, sch) == headSums(sub),
          s"mergeIndexes: shard $d trained table '$sub' differs from $head " +
            "- shards must be encoded under identical frozen halves")
    }
    SegmentStore.mergeShards(spark, shardDirs, outDir, layout,
      whole = trainedTables.map(_._1), verify = verifyTrained())
  }

  /** Incremental index maintenance: assign + encode `delta` (id, v)
    * under the FROZEN trained halves of a loaded index — the same
    * per-row projections the build ran, against centroids and
    * codebooks that do NOT move — and APPEND the coded rows to the
    * stored inverted file. Work and writes are delta-sized: existing
    * cells' files are never rewritten (each append lands new files
    * under the touched `cell=` partitions; a deployment compacts them
    * asynchronously). Because assignment and encoding are
    * deterministic per-row maps, the appended store is bit-equal to
    * encoding base ∪ delta under the same frozen index (AnnSpec pins
    * it) — which is what keeps the append oracle a pure replay.
    * Drift discipline: frozen centroids mean accumulated deltas can
    * unbalance cells; emb_index_append's `balance` manifest row
    * (max-cell / mean-cell occupancy) is the retrain trigger a
    * deployment watches.
    *
    * CRASH-ATOMIC by [[SegmentStore.appendSegment]]: a torn append
    * (some cells' files in, others not) is INVISIBLE to
    * [[loadIndex]] / [[compactIndex]] / [[mergeIndexes]] and replaced
    * by the next call; the STREAMING path [[appendBatchToIndex]]
    * instead resumes by batchId. `failAfter` is the crash-window test
    * seam ("staged" dies before any publish, "publish-partial" after
    * the first cell's publish).
    */
  def appendToIndex(loaded: Loaded, delta: DataFrame, dir: String,
      failAfter: String = ""): Unit =
    appendToIndex(loaded.index, loaded.books, loaded.dsub, delta, dir,
      failAfter)

  /** [[appendToIndex]] from the frozen halves directly — what a caller
    * that just ran [[buildIndex]] in the same process holds (the
    * build returns them precisely so no reload is paid); the encode
    * chain consumes nothing else of a [[Loaded]].
    */
  def appendToIndex(index: Index, books: Array[Array[Array[Double]]],
      dsub: Int, delta: DataFrame, dir: String, failAfter: String): Unit =
    SegmentStore.appendSegment(delta.sparkSession, dir, layout, failAfter)(
      stageCoded(index, books, dsub, delta, _))

  /** Stage the coded rows of `delta` under frozen halves as the
    * cell-partitioned `inverted` table under `staging` — one
    * deterministic file per touched cell, so a replay reproduces the
    * same files.
    */
  private[graft] def stageCoded(index: Index, books: Array[Array[Array[Double]]],
      dsub: Int, delta: DataFrame, staging: String): Unit =
    codedInvertedFile(index, delta, books, dsub)
      .select(col("id"), col("codes"), col("cell"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$staging/inverted")

  /** The coded file of manifest version `m`: load and compaction
    * discovery and rewrite read through this view and the merge copies
    * the same file set, so an uncommitted append can never be served,
    * folded into a compaction, or cross a merge.
    */
  private def readInverted(spark: SparkSession, dir: String,
      m: SegmentStore.Manifest): DataFrame =
    SegmentStore.read(spark, dir, layout, m, "inverted", invertedSchema)

  /** [[appendToIndex]] for STREAMING ingest — idempotent under
    * micro-batch retry by [[SegmentStore.ingestBatch]] (a plain
    * append would land a re-run batch twice). Frozen-index
    * assignment/encode is deterministic per row, so a replay
    * reproduces the identical cells and bytes.
    */
  def appendBatchToIndex(loaded: Loaded, batch: DataFrame, dir: String,
      batchId: Long): Unit =
    SegmentStore.ingestBatch(batch.sparkSession, dir, layout, batchId)(
      stageCoded(loaded.index, loaded.books, loaded.dsub, batch, _))

  /** Tombstone-delete from the stored index
    * ([[SegmentStore.deleteIds]]) — the store itself is untouched
    * (deleting from an immutable cell-partitioned file in place would
    * mean rewriting cells synchronously on every takedown). Serving
    * reads [[Loaded.live]], so deleted vectors are unservable the
    * moment the delete lands; physical removal is deferred to
    * [[compactIndex]], which folds tombstones into the cells it
    * rewrites and then clears the applied set.
    */
  def deleteFromIndex(ids: DataFrame, dir: String): Unit =
    SegmentStore.deleteIds(ids, dir, layout)

  /** Compact the stored inverted file after a run of appends and
    * deletes: each micro-batch/append lands new small files under the
    * touched `cell=` partitions (an unbounded ingest stream would
    * eventually make cell scans file-count-bound), and tombstoned
    * rows accumulate read-side anti-join work. Rewrites ONLY the
    * touched cells — fragmented (more than one live file) or holding
    * at least one tombstoned row — into one staged file per surviving
    * cell, and swaps them in for the cells' old files with the
    * tombstone snapshot retired, in one manifest version
    * ([[SegmentStore.swapCompaction]]); a cell whose every row is
    * tombstoned simply has no file in the new version. Untouched
    * cells' files are left exactly as written. Rewrite work is
    * proportional to fragmentation + deletes, not store size;
    * tombstone-cell DISCOVERY is one column-pruned store scan (the id
    * column plus the directory-encoded cell value — the codes payload
    * is never read). Live content is bit-preserved (AnnSpec pins it);
    * returns the rewritten cell ids.
    */
  def compactIndex(spark: SparkSession, dir: String): Seq[Int] = {
    val m = SegmentStore.open(spark, dir)
    def cellOf(rel: String): Int =
      rel.split("/")(1).stripPrefix("cell=").toInt
    val fragmented = m.of("inverted").groupBy(cellOf).filter(_._2.size > 1).keys.toSeq
    val tombs = SegmentStore.tombstones(spark, dir, layout, m)
    // cells holding a tombstoned row: a semi-join of the store against
    // the small tombstone set, collected as (<= cell-count) ints —
    // column pruning reaches the scan, so only `id` (and the cell
    // partition value) is read, never the codes
    val tombCells =
      if (m.tombstones.isEmpty) Seq.empty[Int]
      else readInverted(spark, dir, m)
        .join(broadcast(tombs), Seq("id"), "left_semi")
        .select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    val touched = (fragmented ++ tombCells).distinct.sorted
    val rewritten = m.of("inverted").filter(f => touched.contains(cellOf(f)))
    val staging = SegmentStore.compactionStaging(spark, dir)
    if (touched.nonEmpty)
      SegmentStore.readFiles(spark, dir, layout, "inverted", invertedSchema,
          rewritten.map(f => new org.apache.hadoop.fs.Path(s"$dir/$f")))
        .join(broadcast(tombs), Seq("id"), "left_anti")
        .repartition(col("cell")) // co-locate each cell → one file per cell
        .select(col("id"), col("codes"), col("cell"))
        .write.partitionBy("cell").parquet(s"$staging/inverted")
    SegmentStore.swapCompaction(spark, dir, layout, m, "",
      Map("inverted" -> rewritten), fenced = false)
    touched
  }

  /** The pending tombstone set of a stored index — empty (not an
    * error) when no delete has landed since the last compaction.
    */
  def tombstonesOf(spark: SparkSession, dir: String): DataFrame =
    SegmentStore.tombstones(spark, dir, layout, SegmentStore.open(spark, dir))

  /** Deterministic scratch location for the persisted index artifact
    * of an sf dir — /tmp scratch (the ScaleUp-tile convention), never
    * the read-only testdata; overwritten per build. Keyed by
    * (dataset, applicationId) with exit-time reclamation
    * ([[Scratch.sessionDir]] — the lexDir/requestDir discipline: two
    * JVMs sharing /tmp must not race a rebuild against open readers).
    * Resolves against the ACTIVE session, so all of a session's
    * callers (queries, specs, probes) agree on the path.
    */
  def indexDir(sfDir: String): String =
    Scratch.sessionDir("graft_ivfpq_index", SparkSession.active, sfDir)

  /** A loaded index: the trained halves plus the stored coded file AS
    * A DATAFRAME (cell, id, codes) — the serve path joins it directly,
    * so the corpus-sized artifact is never collected to the driver.
    * `inverted` is the raw store (what the manifest ops audit); `live`
    * is what serving consumes — the store minus pending tombstones.
    * With no pending deletes `live` IS `inverted` (no join node is
    * added), so deletion costs nothing until a delete actually lands.
    */
  final case class Loaded(index: Index, books: Array[Array[Array[Double]]],
      dsub: Int, inverted: DataFrame, live: DataFrame)

  /** Load a persisted index from `dir`. All reads carry explicit
    * schemas, so a zero-row artifact (empty corpus) loads as empty
    * relations rather than failing schema inference.
    */
  def loadIndex(spark: SparkSession, dir: String): Loaded = {
    val m = SegmentStore.open(spark, dir)
    val meta = spark.read.schema(metaSchema).parquet(s"$dir/meta").collect()
    require(meta.length == 1, s"loadIndex: bad meta at $dir")
    val (regime, dsub, wProbe) =
      (meta(0).getString(0), meta(0).getInt(2), meta(0).getInt(3))
    def centsOf(path: String): (Array[Int], Array[Array[Double]]) = {
      val rows = spark.read.schema(centroidSchema).parquet(path).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
      (rows.map(_._1), rows.map(_._2))
    }
    // the remaining loads are independent once meta pins the regime:
    // the trained-half collects (tiny tables, but each is a full
    // driver job round-trip) — overlapped (guide §2.6; at delta scale
    // the per-job scheduling latency IS the load cost)
    val ((index, inverted), books) = Par.two(
      () => {
        val idx: Index = regime match {
          case "one_level" =>
            val (ids, cents) = centsOf(s"$dir/centroids")
            OneLevelIndex(ids, cents)
          case _ =>
            val (cids, ccents) = centsOf(s"$dir/coarse")
            val groups = spark.read.schema(groupSchema).parquet(s"$dir/groups")
            TwoLevelIndexW(AnnIvf.TwoLevelIndex(cids, ccents, groups), wProbe)
        }
        (idx, readInverted(spark, dir, m)
          .select(col("cell"), col("id"), col("codes")))
      },
      () => {
        val bookRows = spark.read.schema(codebookSchema)
          .parquet(s"$dir/codebooks")
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        val m = meta(0).getInt(1)
        Array.tabulate(m)(s =>
          bookRows.filter(_._1 == s).sortBy(_._2).map(_._3))
      })
    Loaded(index, books, dsub, inverted,
      SegmentStore.liveGate(spark, dir, layout, m)(inverted))
  }
}
