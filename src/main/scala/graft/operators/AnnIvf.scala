package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.expressions.GraftFunctions

/** Approximate nearest neighbour via IVF (inverted-file) cells — the
  * second scale path next to AnnLsh, trading LSH's oblivious buckets
  * for data-adaptive ones.
  *
  * Structure: deterministic seeded initial centroids → one Lloyd
  * refinement (cell means with decimal-exact sums, so the refinement
  * is engine-replayable) → corpus assigned to its nearest refined
  * centroid (the inverted file) → each query probes its `nprobe`
  * nearest cells and exact-cosine re-ranks inside them. This object
  * holds the training and one-level primitives; the built index, its
  * assignment, probe and top-k live in [[IvfPq]].
  *
  * At 100 TB: centroids are a tiny table (≤ cells×dim doubles) that is
  * collected once and shipped to executors as a codegen reference
  * object, so BOTH assignment stages are pure projections on a single
  * corpus scan — no crossJoin row amplification, no per-vector window
  * shuffle. The Lloyd mean is per-dimension decimal sums in one
  * hash-aggregate (map-side partials), not a posexplode to n×dim rows.
  * The search is an equi-join on cell id; per-query work is bounded by
  * probed-cell occupancy — the same bounded-bucket argument as AnnLsh,
  * but cells track the data distribution so occupancy stays balanced
  * where random hyperplanes would not. Refinement runs
  * [[AnnIvf.LloydRounds]] Lloyd rounds: each round is one corpus scan
  * (assignment is a projection against the collected centroids of the
  * previous round, the mean one compiled VectorDecimalMean aggregate)
  * and stays engine-replayable — the oracle chains the identical
  * assign→mean SQL once per round.
  */
object AnnIvf {

  /** Lloyd refinement rounds. 3 (not 1): with the mean compiled into
    * one aggregate kernel each round costs a fraction of a second at
    * bench scale, and the extra rounds measurably tighten cell balance
    * (emb_ivf_quality's max squared error) — which every IVF consumer
    * (probe paths, SemDeDup cells, cluster sampling) inherits. The
    * oracle replay generates one assign/mean CTE pair per round, so
    * the count lives HERE, shared by both engines.
    */
  val LloydRounds = 3

  /** Production cell-count rule: cells ∝ corpus size / target mean
    * occupancy, floored at 16. SemDeDup's candidate work is Σ|cell|²,
    * so a FIXED cell count turns a 10× corpus into 100× per-cell work
    * (BENCH_SF1 measured 23× wall-clock); scaling cells with the
    * corpus keeps per-cell work constant. At every oracle-checked
    * scale (≤ 2000 vectors) this resolves to exactly 16, so the
    * static centroid-literal replay stays valid where it is used.
    */
  def adaptiveCells(n: Long, targetOccupancy: Int = 125): Int =
    // clamp BEFORE narrowing: past ~2.7e11 vectors the raw .toInt
    // would wrap negative and max(16, …) would silently revert to the
    // fixed-16 pathology this function exists to prevent
    math.max(16L, math.min(n / targetOccupancy, Int.MaxValue.toLong)).toInt

  // ------------------------------------------------- regime handover
  // The one-level path collects every fine centroid to the driver as a
  // codegen constant and argmins O(cells) per row; with adaptiveCells
  // that holds to ~10⁷ vectors (≈10⁵ cells ≈ 50 MB of constants) and
  // then it does NOT (the 100× point measured the one-level emb_cell
  // family at ~90–114× wall-clock for 100× data). Past the ceiling
  // the two-level index (capped-sample training, √cells coarse
  // constants, broadcast fine neighborhoods) is the only scale-safe
  // choice. The cutover lives in ONE builder, [[IvfPq.indexAuto]],
  // and its result is ONE value, [[IvfPq.Index]], that every IVF cell
  // consumer (SemDeDup batch + streaming calibration, the composed
  // search, the store) assigns and probes through — no consumer can
  // select the superlinear path at scale by accident. At every
  // oracle-checked scale (n ≤ ~200k ≪ the ceiling) it resolves to the
  // one-level plan, so the centroid-literal oracle replays stay valid
  // unchanged. AnnSpec pins the cutover and bit-exact agreement of
  // the two shapes at wProbe = all (the hard half of the handover).

  /** One-level ceiling: the largest corpus whose full fine-centroid
    * table still ships sanely as a codegen constant (~10⁵ cells at
    * adaptiveCells' 125-occupancy rule ≈ 50 MB) with an O(cells)
    * per-row argmin. Past it, [[IvfPq.indexAuto]] builds the
    * two-level index.
    */
  val OneLevelMaxVectors: Long = 10L * 1000 * 1000

  /** Deterministic seeded initial centroids (same xorshift family as
    * AnnLsh.hyperplanes, different seed) — stable across runs and
    * engines, no RNG state.
    */
  def centroids0(cells: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] = {
    var s = seed
    def next(): Double = {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      (s % 1000L).toDouble / 1000.0
    }
    Array.fill(cells, dim)(next())
  }

  /** Lloyd refinement, [[LloydRounds]] rounds: assign to the nearest
    * centroid (ties → lowest cell, via the NearestCell argmin
    * projection; round 1 starts from the seeded centroids, later
    * rounds from the previous round's collected means), then per-cell
    * per-dimension means through ONE compiled vector-sum aggregate
    * kernel (VectorDecimalMean: decimal-exact accumulation, map-side
    * partial merge, no row explosion). The kernel pins the exact NULL
    * semantics of the `try_element_at(v, i).cast(DECIMAL)` formulation
    * it replaced — a degenerate (empty/short/NaN) vector contributes
    * NULL to dims it lacks, an all-NULL dim pins to 0.0 on BOTH
    * engines (EdgeCaseSpec embeddings sweep) — without that
    * formulation's 64 independent aggregate expressions per row (the
    * r5 bench regression). Returns (cell, centroid: array<double>);
    * empty cells vanish (no members → no mean), deterministically, in
    * every round.
    *
    * Between rounds the centroid table (≤ cells×dim doubles) is
    * collected and shipped back as a codegen reference object, so each
    * round is exactly one corpus scan + one hash aggregate — the means
    * are exact decimals cast to double identically on both engines, so
    * round r+1's assignment compares bit-identical distances to the
    * oracle's.
    */
  def refinedCentroids(corpus: DataFrame, cells: Int, dim: Int,
      rounds: Int = LloydRounds, seed: Long = 7L): DataFrame = {
    require(rounds >= 1, "at least one Lloyd round")
    var cents = centroids0(cells, dim, seed)
    var ids = Array.tabulate(cells)(identity)
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      out = corpus
        .withColumn("cell", GraftFunctions.nearestCell(col("v"), cents, ids))
        .groupBy(col("cell"))
        .agg(GraftFunctions.vectorDecimalMean(col("v"), dim).as("centroid"))
      if (r < rounds) {
        val (i2, c2) = collectCentroids(out)
        ids = i2; cents = c2
      }
    }
    out
  }

  /** Driver-side materialization of the refined centroids, ascending
    * by cell id (so argmin tie-breaks resolve to the lowest cell —
    * the `ROW_NUMBER OVER (ORDER BY dist, cell)` rule). This is the
    * "collect the broadcast side" step: at most cells×dim doubles.
    */
  def collectCentroids(cent1: DataFrame): (Array[Int], Array[Array[Double]]) = {
    val rows = cent1.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** The inverted file: each corpus vector tagged with its nearest
    * refined cell — a single scan-level projection (PlanSpec-asserted:
    * no Window, no Exchange in this stage). Input columns are
    * preserved, so metadata attributes (e.g. the label a filtered
    * search prunes on) ride the assignment for free.
    */
  def invertedFile(vecs: DataFrame, cellIds: Array[Int],
      cents: Array[Array[Double]]): DataFrame =
    vecs.withColumn("cell",
      GraftFunctions.nearestCell(col("v"), cents, cellIds))

  // ------------------------------------------------------- two-level
  // The one-level path above collects ALL fine centroids to the driver
  // and ships them as codegen reference objects, and NearestCell is an
  // O(cells) per-row sweep. With adaptiveCells that is fine to
  // ~10⁶–10⁷ vectors (≲10⁵ cells ≈ 50 MB of constants, a 10⁵-way
  // argmin per row) and then it is NOT: at 10⁸ vectors, 8×10⁵ cells ×
  // 64 dims ≈ 400 MB of centroid constants on the codegen classpath
  // and an 800k-way linear scan per row. The two-level form below is
  // the regime past that ceiling (the FAISS IVF shape):
  //
  //  - fine centroids are trained on a DETERMINISTIC HASH SAMPLE of
  //    the corpus (training cost bounded by the sample, not the
  //    corpus — the standard IVF training discipline);
  //  - a COARSE quantizer (≈√cells seeded+Lloyd centroids over the
  //    fine-centroid table) partitions the fine cells into
  //    neighborhoods. Only the coarse table (√cells×dim — KBs) ships
  //    as a codegen constant;
  //  - each vector argmins over the coarse table (O(√cells)), then
  //    over the fine members of its `wProbe` nearest coarse groups,
  //    which arrive as DATA through a broadcast hash join on the
  //    coarse id (IvfPq.assign / IvfPq.probe, NearestCellsInGroup at
  //    k = 1 for assignment) — per-row work
  //    O(√cells·wProbe + wProbe·cells/√cells) ≈ O(√cells), and the
  //    fine table rides Spark's torrent broadcast, never the codegen
  //    classpath.
  //
  // Assignment is still projection + broadcast-join only — no corpus
  // shuffle, no window (PlanSpec-asserted). With wProbe covering every
  // coarse cell the assignment equals the one-level argmin EXACTLY
  // (same (dist, cell) total order — property-proven in AnnSpec); with
  // small wProbe it is the standard IVF approximation, replayed
  // bit-identically by the DuckDB oracle.

  /** Deterministic training-sample predicate (salted md5 bucket, the
    * cluster-sample rule): replayable in any engine, stable under
    * re-partitioning and corpus growth.
    */
  def trainingSample(idCol: Column, rate: Long, salt: String = "|graft-ivf2-train"): Column =
    conv(substring(md5(concat(idCol.cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("long") % SampleModulus < rate

  /** Training-sample rate (per [[SampleModulus]]) with an ABSOLUTE
    * cap. A fixed rate keeps training O(n·cells) = O(n²/occupancy) —
    * the 100× point measured exactly that (emb_cell family ~90–114×
    * at 100× data, one-level Lloyd). Capping the sample at
    * [[TrainCap]] vectors makes fine training O(cap·cells) — linear
    * in n with a bounded constant (the FAISS train-on-a-sample
    * discipline). The bucket granularity is parts-per-million (not
    * percent): an integer-percent floor of 1% would re-open the cap
    * past ~10⁷ vectors; the 1-ppm floor holds it to ~10¹¹ (≈ a
    * 100 TB corpus of 64-dim vectors). At every oracle-checked scale
    * (n ≤ ~200k) the rate resolves to exactly [[DefaultSampleRate]],
    * so the inlined-rate oracle replay stays valid — same coupling
    * argument as adaptiveCells = 16.
    */
  val SampleModulus = 1000000L
  val DefaultSampleRate = 600000L // 60%
  val TrainCap = 120000L
  def sampleRateFor(n: Long): Long =
    if (n <= 0) DefaultSampleRate
    else math.max(1L, math.min(DefaultSampleRate,
      (TrainCap * SampleModulus + n - 1) / n))

  /** Build the two-level index: fine Lloyd on the training sample,
    * coarse Lloyd ([[CoarseRounds]] rounds, seed [[CoarseSeed]]) over
    * the fine-centroid table itself (≤ cells rows — the "corpus" of
    * the coarse quantizer), fine cells grouped under their nearest
    * coarse cell.
    */
  val CoarseSeed = 11L
  val CoarseRounds = 2

  /** Coarse neighbourhoods a two-level assignment or probe searches —
    * the production boundary-loss trade (emb_cell_recall_two_level,
    * emb_two_level_probe_curve); the value [[twoLevelIndex]] builds.
    */
  val WProbe = 2

  def coarseK(cells: Int): Int = math.max(1, math.ceil(math.sqrt(cells.toDouble)).toInt)

  def twoLevelIndex(corpus: DataFrame, cells: Int, dim: Int, n: Long,
      sampleRate: Long = -1L): IvfPq.TwoLevelIndex = {
    // -1 = auto: capped sample rate (see sampleRateFor) — resolves to
    // DefaultSampleRate at every oracle-checked scale. `n` is the count
    // every caller already took for adaptiveCells, so index sizing
    // costs ONE corpus scan, not two.
    val rate = if (sampleRate > 0) sampleRate else sampleRateFor(n)
    val train = corpus.where(trainingSample(col("id"), rate))
    var (fineIds, fineCents) = collectCentroids(refinedCentroids(train, cells, dim))
    // Empty-sample totality: a tiny corpus can hash-sample to ZERO
    // training rows (only possible at tiny n — sampleRateFor's ppm
    // floor makes the expected sample ≥ TrainCap-ish for any real
    // corpus), and an index with no fine cells would silently drop
    // every vector at the probe-0 inner join (the r9 bug class).
    // Train on the corpus itself instead — never taken at any
    // oracle-checked scale, so the sampled-Lloyd oracle replay stays
    // valid where it is used.
    if (fineIds.isEmpty) {
      val full = collectCentroids(refinedCentroids(corpus, cells, dim))
      fineIds = full._1; fineCents = full._2
    }
    // the fine-centroid table as a (tiny, local) corpus for the coarse
    // quantizer — the same decimal-exact Lloyd kernels, so the oracle
    // replays coarse training with the identical assign/mean CTEs
    val spark = corpus.sparkSession
    import spark.implicits._
    val fineDf = fineIds.zip(fineCents.map(_.toSeq)).toSeq
      .toDF("id", "v").select(col("id"), col("v").cast("array<double>"))
    val (cIds, cCents) = collectCentroids(
      refinedCentroids(fineDf, coarseK(cells), dim, CoarseRounds, CoarseSeed))
    val groups = fineDf
      .withColumn("coarse", GraftFunctions.nearestCell(col("v"), cCents, cIds))
      .groupBy(col("coarse"))
      .agg(expr("array_sort(collect_list(struct(id, v)))").as("m"))
      .select(col("coarse"),
        expr("transform(m, x -> x.v)").as("gcents"),
        expr("transform(m, x -> x.id)").as("gids"))
    // A coarse cell can end up EMPTY under this final fine→coarse
    // assignment: cIds lists cells with members under the PREVIOUS
    // Lloyd round's assignment, and recomputed means can strand one.
    // A probe targeting an empty cell finds no neighborhood, and the
    // probe-0 inner join of IvfPq's neighbourhood join would silently
    // drop the vector while the oracle resolves it via its other
    // probes. Restrict the probe table to cells that own ≥ 1 fine
    // member (the oracle's ivf2Ctes applies the identical restriction
    // via coarsep), so every probe always resolves — no data loss, no
    // divergence. fineDf is a driver-local relation, so this collect
    // touches ≤ coarseK rows, never the corpus.
    val present = groups.select(col("coarse")).collect().map(_.getInt(0)).toSet
    val keep = cIds.indices.filter(i => present.contains(cIds(i))).toArray
    IvfPq.TwoLevelIndex(keep.map(cIds), keep.map(cCents), groups, WProbe)
  }
}
