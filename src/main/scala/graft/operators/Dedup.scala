package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.expressions.GraftFunctions

/** Near-duplicate detection operators — the 100 TB paths.
  *
  * Brute-force pair comparison (Text.docNgramJaccard) is O(n²) and
  * exists only as a small-scale oracle. These operators generate
  * candidates with hash buckets (MinHash banding / SimHash chunks) so
  * the join is equi-key and shuffle-partitioned: cost scales with
  * bucket occupancy, never with n².
  */
object Dedup {

  /** Pipeline defaults — ONE definition shared by the operators, the
    * oracle constants inlined in ScaleOps, and the specs.
    */
  val DefaultNgram = 3
  val DefaultK = 36
  val DefaultBands = 6
  val DefaultTau = 0.8
  val DefaultBucketCap = 1000

  /** MinHash signature: k permutations via the native
    * MinHashSignature expression (one compiled loop per row — see its
    * scaladoc for why the HOF formulation was replaced).
    */
  def minhashSignature(grams: String, k: Int): Column =
    GraftFunctions.minhashSignature(col(grams), k)

  // one listener per session surfaces the candidate stage's observe()
  // metrics (capped-bucket drops = silent recall loss) to stderr —
  // without it the metric reaches no one. Weak set: don't pin sessions.
  private val metricsListenerSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))

  private def ensureMetricsListener(spark: org.apache.spark.sql.SparkSession): Unit =
    if (metricsListenerSessions.add(spark))
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft_minhash_lsh")) {
              val capped = Option(row.getAs[Any]("capped_bucket_rows"))
                .map(_.toString.toLong).getOrElse(0L)
              if (capped > 0)
                System.err.println(s"[graft] minhash LSH: dropped $capped band-bucket " +
                  s"rows over the occupancy cap (max_occupancy=" +
                  s"${row.getAs[Any]("max_occupancy")}, n_buckets=${row.getAs[Any]("n_buckets")})")
            }
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      })

  /** LSH banding: split the signature into `bands` bands of `rows`
    * values; the band's raw signature slice IS the bucket key (an
    * array<long> equi-join key — no bucket hash needed, hash
    * partitioning of the shuffle does that implicitly, and the raw
    * slice keeps the operator engine-replayable). Two docs whose true
    * Jaccard is j collide in ≥1 band with prob 1-(1-j^rows)^bands.
    */
  def lshBands(sig: String, bands: Int, rows: Int): Column =
    expr(s"transform(sequence(0, ${bands - 1}), " +
      s"j -> struct(j AS band, slice($sig, j*$rows+1, $rows) AS bucket))")

  /** Intermediate LSH stage: per-rep shingle hashes + signatures
    * (`base`) and the band-bucket candidate pairs (`candidates`). */
  private[operators] case class MinhashStage(base: DataFrame, candidates: DataFrame)

  /** Band-bucket candidate generation with an occupancy cap and an
    * optional in-join signature prefilter.
    *
    * Buckets holding more than `bucketCap` docs are DROPPED: a bucket
    * of m near-identical docs collides in every band and would emit
    * O(m²) candidates — the failure mode of boilerplate clusters in
    * web corpora. Exact duplicates never reach here (the caller
    * collapses them first); docs that were near- but not
    * exact-identical lose recall only against the rest of the
    * oversized bucket, and at 100 TB the cap is what keeps the
    * shuffle bounded. The cap defaults high enough that a verify-scale
    * corpus never trips it (oracle equivalence holds); production
    * callers tune it to executor memory.
    *
    * Cap enforcement is a map-side-partial count aggregate plus an
    * anti-join — deliberately NOT a count window over (band, bucket):
    * the window would shuffle and sort the pathological bucket's rows
    * into ONE task before the filter could drop them, re-creating the
    * exact straggler the cap exists to prevent. With the aggregate,
    * only per-partition partial counts shuffle; the oversized-key set
    * (small by construction) anti-joins back and the join exchange
    * below carries kept rows only. Dropped volume surfaces through
    * `observe` metrics on the occupancy aggregate — no extra job, and
    * a per-session listener (ensureMetricsListener) prints any capped
    * drops to stderr so the recall loss is never silent.
    *
    * `minEst` ≥ 0 applies the MinHash-estimate prefilter (fraction of
    * equal signature slots ≥ minEst) INSIDE the bucket join, before
    * the cross-band dropDuplicates: the signature (k longs, ~300 B)
    * rides through the band explode so sub-threshold collisions die in
    * the stage that creates them instead of being deduped, shuffled,
    * and joined back to `base` twice. On a moderately-repetitive
    * corpus this is the difference between deduping the banding
    * pair budget (Σ C(occ,2), data-dependent and potentially 1000×
    * the true pair count) and deduping only near-threshold pairs.
    */
  private[graft] def minhashCandidates(reps: DataFrame, textCol: String,
      n: Int, k: Int, bands: Int, bucketCap: Int,
      minEst: Double = -1.0): MinhashStage = {
    require(k == bands * (k / bands), "k must divide into bands evenly")
    ensureMetricsListener(reps.sparkSession)
    val rows = k / bands
    // banding S-curve: P(candidate | jaccard j) = 1-(1-j^rows)^bands.
    // rows=6 keeps sub-threshold pairs (j≈0.4-0.6, common in repetitive
    // corpora) at low single-digit candidate rates while j≥0.8 pairs
    // collide with p≥0.84 — candidate volume, not n², is the cost.
    // shingles + signatures are reused by banding, the estimate
    // prefilter, and final verification — persist so the shingle/hash
    // work runs once (per-doc state is ~2 KB; spills to disk if the
    // corpus partition outgrows executor memory)
    val base = Par.widen(reps)
      // widen: shingling + k-permutation signatures are CPU-per-row
      // work; the rep aggregate's byte-sized partitioning (or a
      // single-file scan) would serialize them (bytes-gated — the
      // identity at scale)
      .select(col("id"),
        expr(s"transform(sequence(1, greatest(length($textCol)-${n - 1}, 1)), " +
          s"i -> substring($textCol, i, $n))").as("grams_raw"))
      // shingle sets live on as sorted distinct 64-bit hashes: set ops
      // (minhash, exact intersect) run on longs, never strings
      .select(col("id"), GraftFunctions.gramHashes(col("grams_raw")).as("ghash"))
      .withColumn("sig", minhashSignature("ghash", k))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val buckets = base
      .select(col("id"), col("sig"), explode(lshBands("sig", bands, rows)).as("b"))
      .select(col("id"), col("sig"), col("b.band").as("band"), col("b.bucket").as("bucket"))
    // observation names must be unique within a query, and one query
    // may compose several LSH passes — hence the per-instance suffix
    val occ = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("occ"))
      .observe(s"graft_minhash_lsh_${java.util.UUID.randomUUID.toString.take(8)}",
        sum(when(col("occ") > bucketCap, col("occ")).otherwise(lit(0L)))
          .as("capped_bucket_rows"),
        max(col("occ")).as("max_occupancy"),
        count(lit(1)).as("n_buckets"))
    val oversized = occ.filter(col("occ") > bucketCap).select(col("band"), col("bucket"))
    val kept = buckets.join(oversized, Seq("band", "bucket"), "left_anti")
    val joined = kept
      .select(col("band"), col("bucket"), col("id").as("a_id"), col("sig").as("a_sig"))
      .join(kept.select(col("band"), col("bucket"), col("id").as("b_id"),
        col("sig").as("b_sig")), Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
    val estFiltered =
      if (minEst >= 0)
        joined.filter(GraftFunctions.signatureOverlap(col("a_sig"), col("b_sig"))
          .cast(DoubleType) / k >= minEst)
      else joined
    val candidates = estFiltered
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
    MinhashStage(base, candidates)
  }

  /** Spec/introspection hook: how many candidate pairs the LSH stage
    * emits for this corpus (after the exact-dedup pre-pass and the
    * bucket cap). */
  def lshCandidateCount(df: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultNgram, k: Int = DefaultK, bands: Int = DefaultBands,
      bucketCap: Int = DefaultBucketCap): Long = {
    val reps = df.groupBy(col(textCol).as("__text"))
      .agg(min(col(idCol)).as("id"))
    minhashCandidates(reps, "__text", n, k, bands, bucketCap).candidates.count()
  }

  /** Rep-level form of [[minhashNearDupPairs]]: verified near-dup
    * pairs BETWEEN text-group representatives plus the (rep, member)
    * membership map — the inputs clustering needs without ever
    * materializing the within-group pair cliques (O(m²) per exact-dup
    * group). Use [[minhashNearDupPairs]] when the full pair list is
    * the product; use this + [[clusterLabelsFromReps]] for dedup
    * decisions.
    */
  def minhashNearDupRepPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultNgram, k: Int = DefaultK, bands: Int = DefaultBands,
      tau: Double = DefaultTau, bucketCap: Int = DefaultBucketCap): (DataFrame, DataFrame) = {
    // exact-dedup pre-pass: one representative per distinct text;
    // keyed by the text itself (exact, and the text is shuffled into
    // the shingle stage anyway — no extra pass)
    val members = df.select(col(idCol).as("id"), col(textCol).as("__text"))
    val reps = members.groupBy(col("__text")).agg(min(col("id")).as("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the signature-estimate prefilter (fraction of equal slots ≥
    // tau − 0.2) runs INSIDE the bucket join — see minhashCandidates.
    // Margin 0.2 ≈ 3σ of the estimator at k=36 → recall loss ≪1%.
    val stage = minhashCandidates(reps, "__text", n, k, bands, bucketCap,
      minEst = tau - 0.2)
    val base = stage.base
    val repPairs = stage.candidates
      .join(base.select(col("id").as("a_id"), col("ghash").as("a_g")), Seq("a_id"))
      .join(base.select(col("id").as("b_id"), col("ghash").as("b_g")), Seq("b_id"))
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("a_g"), col("b_g")))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("a_g")) + size(col("b_g")) - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= tau)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    val mem = members
      .join(reps.select(col("__text"), col("id").as("rep")), Seq("__text"))
      .select(col("rep"), col("id").as("member"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (repPairs, mem)
  }

  /** Cluster labels for every document from rep-level pairs + the
    * membership map: connected components run on the (small) rep
    * graph, then labels expand through membership. Exact: a rep is
    * the MIN id of its text group, so the component minimum over reps
    * equals the component minimum over all member ids — identical
    * labels to clustering the fully-expanded pair list, without the
    * O(m²) within-group clique edges.
    */
  def clusterLabelsFromReps(repPairs: DataFrame, mem: DataFrame): DataFrame = {
    val repLabels = connectedComponents(
      mem.select(col("rep").as("id")).distinct(),
      repPairs.select(col("a_id"), col("b_id")))
    mem.join(repLabels, mem("rep") === repLabels("id"))
      .select(mem("member").as("id"), repLabels("cluster"))
  }

  /** Full MinHash+LSH near-dup pipeline with the member-level pair
    * list as the product — [[minhashNearDupRepPairs]] plus expansion:
    * within-group pairs are exact duplicates (jaccard 1.0 by
    * construction); cross-group member pairs inherit the verified rep
    * jaccard. Output is bit-identical to running the un-deduped
    * pipeline.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultNgram, k: Int = DefaultK, bands: Int = DefaultBands,
      tau: Double = DefaultTau, bucketCap: Int = DefaultBucketCap): DataFrame = {
    val (repPairs, mem) = minhashNearDupRepPairs(df, idCol, textCol, n, k, bands, tau, bucketCap)
    val within = mem.as("x")
      .join(mem.as("y"),
        col("x.rep") === col("y.rep") && col("x.member") < col("y.member"))
      .select(col("x.member").as("a_id"), col("y.member").as("b_id"),
        lit(1.0).as("jaccard"))
    val cross = repPairs
      .withColumnRenamed("a_id", "a_rep").withColumnRenamed("b_id", "b_rep")
      .join(mem.select(col("rep").as("a_rep"), col("member").as("ma")), Seq("a_rep"))
      .join(mem.select(col("rep").as("b_rep"), col("member").as("mb")), Seq("b_rep"))
      .select(least(col("ma"), col("mb")).as("a_id"),
        greatest(col("ma"), col("mb")).as("b_id"), col("jaccard"))
    within.unionByName(cross)
  }

  /** Connected components over near-dup pairs → cluster labels
    * (min id in the component), the final step of corpus dedup: keep
    * one representative per cluster, drop the rest.
    *
    * Two regimes, picked by edge count:
    *
    *  - **Small graph** (≤ `driverEdgeCap` edges, integral ids): the
    *    edge list is collected — two longs per edge, ≤ ~80 MB at the
    *    default cap — union-find runs on the driver, and the labels
    *    for edge-touched nodes come back as one broadcast join
    *    (singletons keep their own id via coalesce). One Spark job
    *    total. This is the common case even at 100 TB corpus scale:
    *    the rep graph holds only verified near-dup PAIRS, orders of
    *    magnitude smaller than the corpus — the same bounded-small-
    *    side reasoning as broadcasting IVF centroids.
    *  - **Large graph** (or non-integral ids): iterative min-label
    *    propagation over the edge list; rounds are whole-stage joins
    *    (no driver graph state) and the iteration count is bounded by
    *    the component diameter — near-dup clusters are shallow, so
    *    this converges in a handful of shuffles at any edge scale.
    *
    * @param ids   one column `id` — every node (incl. singletons)
    * @param pairs columns `a_id`, `b_id`
    * @return (id, cluster) where cluster = min id of the component
    */
  def connectedComponents(ids: DataFrame, pairs: DataFrame,
      maxIterations: Int = 20, driverEdgeCap: Long = 5000000L): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integralIds = pairs.schema.fields.forall(f =>
      Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType))
    if (integralIds) {
      val edgeList = pairs
        .select(col("a_id").cast(LongType), col("b_id").cast(LongType))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = edgeList.count()
      if (n <= driverEdgeCap) {
        val rows = edgeList.collect()
        edgeList.unpersist()
        // path-halving union-find, then min id per component root
        val parent = new scala.collection.mutable.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          while (parent(x) != x) {
            parent(x) = parent(parent(x)); x = parent(x)
          }
          x
        }
        rows.foreach { r =>
          val a = r.getLong(0); val b = r.getLong(1)
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(if (ra < rb) rb else ra) = math.min(ra, rb)
        }
        val minOfRoot = new scala.collection.mutable.HashMap[Long, Long]()
        parent.keysIterator.foreach { id =>
          val r = find(id)
          minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), id)
        }
        val labels = parent.keysIterator
          .map(id => (id, minOfRoot(find(id)))).toSeq
        val spark = ids.sparkSession
        import spark.implicits._
        // match the loop path's output schema: cluster in the id's type
        val idType = ids.schema("id").dataType
        val labelDf = labels.toDF("id", "cluster")
        return ids.join(broadcast(labelDf), Seq("id"), "left")
          .select(ids("id"),
            coalesce(col("cluster").cast(idType), ids("id")).as("cluster"))
      }
      edgeList.unpersist()
    }
    connectedComponentsLoop(ids, pairs, maxIterations)
  }

  /** Distributed min-label propagation — the large-graph regime of
    * [[connectedComponents]]. */
  private[operators] def connectedComponentsLoop(ids: DataFrame, pairs: DataFrame,
      maxIterations: Int = 20): DataFrame = {
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = ids.select(col("id"), col("id").as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var i = 0
    // labels are elementwise monotone non-increasing across rounds, so
    // an unchanged label SUM proves the fixpoint — one aggregate per
    // round instead of a next-vs-previous join
    var prevSum: Option[java.math.BigDecimal] = None
    while (!converged && i < maxIterations) {
      // each node's candidate = min(own label, min neighbor label)
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster")).as("nmin"))
      // lazy localCheckpoint truncates the lineage (each round's plan
      // would otherwise embed every previous round) while letting the
      // convergence aggregate below be the single materializing action
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"))
        .localCheckpoint(eager = false)
      // SUM over zero rows is null — an empty node set must converge
      // (to zero), not NPE the fixpoint compare
      val curSum = Option(next
        .agg(sum(col("cluster").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
      labels.unpersist()
      labels = next
      converged = prevSum.exists(_.compareTo(curSum) == 0)
      prevSum = Some(curSum)
      i += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] connectedComponents: NOT converged after $maxIterations rounds — " +
          "labels are an upper bound; raise maxIterations for deeper components")
    edges.unpersist()
    labels
  }

  /** SimHash fingerprints + near-dup pairs within a Hamming ball.
    *
    * Candidates come from matching any of 4 16-bit fingerprint chunks
    * (pigeonhole: hamming ≤ maxHamming < 4 chunks differing ⇒ at least
    * one chunk equal when maxHamming ≤ 3... for larger radii more
    * chunks would be needed; with radius ≤ 3 this is exact recall).
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fp = df.select(col(idCol).as("id"),
      GraftFunctions.simhash64(col(textCol)).as("fp"))
    val chunks = fp.select(col("id"), col("fp"),
      explode(expr("transform(sequence(0, 3), c -> struct(c AS chunk, shiftright(fp, cast(c*16 AS INT)) & 65535 AS ck))")).as("b"))
      .select(col("id"), col("fp"), col("b.chunk").as("chunk"), col("b.ck").as("ck"))
    val l = chunks.select(col("chunk"), col("ck"), col("id").as("a_id"), col("fp").as("a_fp"))
    val r = chunks.select(col("chunk"), col("ck"), col("id").as("b_id"), col("fp").as("b_fp"))
    l.join(r, Seq("chunk", "ck"))
      .filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming", GraftFunctions.hamming64(col("a_fp"), col("b_fp")))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }
}
