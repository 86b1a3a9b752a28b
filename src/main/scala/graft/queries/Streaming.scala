package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.streaming.QanStream

/** Block B streaming entries (SURVEY §2.B st_*): each runs a real
  * Structured Streaming query (file-source → stateful transform →
  * memory sink) to completion and returns the materialized result.
  * Because the streaming operators implement exactly the batch
  * semantics, they share the batch DuckDB oracles — the strongest
  * correctness check a streaming op can get.
  */
object Streaming {
  type Q = (SparkSession, String) => DataFrame

  // Streaming snapshot→delta from the raw file-source stream: the
  // cumulative counter AND the delta are both computed inside the
  // per-(instance, digest) group state (QanStream.deltaFromRaw) —
  // no batch-side window, no driver collect.
  private val stDelta: Q = (s, d) => {
    import s.implicits._
    val feed = QanStream.eventsStream(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        date_trunc("day", col("ts")).as("day"),
        col("value").cast(DecimalType(18, 6)).as("value_dec"))
      .as[QanStream.SnapEvent]
    QanStream.runToMemory(QanStream.deltaFromRaw(feed).toDF(), OutputMode.Append())
      .orderBy(col("event_id"))
  }

  // Streaming rollup in complete mode over the file-source stream.
  private val stRollup: Q = (s, d) =>
    QanStream.runToMemory(
        QanStream.rollupMinute(QanStream.eventsStream(s, d)), OutputMode.Complete())
      .orderBy(col("bucket"), col("event_type"))

  // Streaming governor straight from the raw file-source stream:
  // interval loads and the EMA fold both live in O(1) managed state
  // per instance (QanStream.governorStream); the last emitted row per
  // key is the answer (single batch here → exactly the batch qan_ewma).
  private val stGovernor: Q = (s, d) => {
    import s.implicits._
    val feed = QanStream.eventsStream(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[QanStream.RawEvent]
    QanStream.runToMemory(QanStream.governorStream(feed).toDF(), OutputMode.Append())
      .orderBy(col("user_id"))
  }

  // Native session windows (Spark's session_window) over the raw
  // file-source stream, complete mode: session state is kept and
  // merged across batches, so every session — including still-open
  // ones — is emitted without sentinel events or watermark tricks.
  // (The unbounded-time production form is append + watermark, which
  // evicts closed sessions; complete mode is the right shape for a
  // bounded replay like the verify feed.)
  private val stSession: Q = (s, d) => {
    val agg = QanStream.eventsStream(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("start_ts"),
        col("n_events"), col("total_value"))
    QanStream.runToMemory(agg, OutputMode.Complete())
      .orderBy(col("user_id"), col("start_ts"))
  }

  private val stSessionSql = """
    WITH flagged AS (
      SELECT user_id, ts, value,
        CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 21600000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts, value,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged)
    SELECT user_id, MIN(ts) AS start_ts, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, start_ts"""

  // The production form of the session stream: append mode + a 1-hour
  // watermark. Closed sessions (session end ≤ watermark) are EMITTED
  // AND EVICTED from state — state stays bounded by open sessions
  // regardless of stream length, which is what makes the operator
  // viable on an unbounded feed (complete mode above is the bounded-
  // replay form). The oracle replays Spark's exact eviction rule:
  // watermark = max event time truncated to ms minus the delay;
  // emitted iff last_event + gap ≤ watermark.
  private val stSessionAppend: Q = (s, d) => {
    val agg = QanStream.eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("start_ts"),
        col("n_events"), col("total_value"))
    QanStream.runToMemory(agg, OutputMode.Append())
      .orderBy(col("user_id"), col("start_ts"))
  }

  private val stSessionAppendSql = """
    WITH flagged AS (
      SELECT user_id, ts, value,
        CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 21600000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts, value,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged),
    agg AS (
      SELECT user_id, MIN(ts) AS start_ts, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        MAX(epoch_us(ts)) AS last_us
      FROM sess
      GROUP BY user_id, session_id),
    wm AS (
      SELECT (MAX(epoch_us(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events)
    SELECT user_id, start_ts, n_events, total_value
    FROM agg, wm
    WHERE last_us + 21600000000 <= wm_us
    ORDER BY user_id, start_ts"""

  // The production form of the rollup stream: append mode + watermark
  // over tumbling event-time windows — closed minutes are emitted once
  // and their state evicted. Same eviction-rule replay as the session
  // oracle (window end ≤ watermark).
  private val stRollupAppend: Q = (s, d) => {
    val agg = QanStream.eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("sum_calls"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("sum_calls"), col("sum_value"), col("max_value"), col("min_value"))
    QanStream.runToMemory(agg, OutputMode.Append())
      .orderBy(col("bucket"), col("event_type"))
  }

  // Streaming period-over-period regression alert: per (instance,
  // digest) the group state holds the open day's running total and
  // the last closed day's total; a later-day event closes the day and
  // fires the alert row exactly once (QanStream.percentChangeStream).
  // Oracle = batch qan_percent_change restricted to each key's
  // non-final days (a day only provably closes when a later event
  // arrives) — the same eviction-rule oracle shape as
  // st_session_append.
  private val stPercentChange: Q = (s, d) => {
    import s.implicits._
    val feed = QanStream.eventsStream(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        unix_micros(date_trunc("day", col("ts"))).as("day_us"),
        col("value").cast(DecimalType(18, 6)).as("v"))
      .as[QanStream.PcEvent]
    QanStream.runToMemory(QanStream.percentChangeStream(feed).toDF(), OutputMode.Append())
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("bucket_us")).as("bucket"), col("n_calls"),
        col("day_value"), col("prev_value"), col("pct_change"), col("alert"))
      .orderBy(col("user_id"), col("event_type"), col("bucket"))
  }

  private val stPercentChangeSql = """
    WITH base AS (
      SELECT user_id, event_type,
        CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
        SUM(CAST(value AS DECIMAL(18,6))) AS dv,
        COUNT(*) AS n_calls
      FROM events GROUP BY 1, 2, 3),
    lagged AS (
      SELECT *, LAG(dv, 1) OVER w AS prev,
        MAX(bucket) OVER (PARTITION BY user_id, event_type) AS last_bucket
      FROM base
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY bucket)),
    pc AS (
      SELECT *, CASE WHEN prev IS NOT NULL AND prev <> 0
        THEN ROUND(CAST(dv - prev AS DOUBLE) / CAST(prev AS DOUBLE), 6)
        END AS pct_change
      FROM lagged)
    SELECT user_id, event_type, bucket, n_calls,
      ROUND(CAST(dv AS DOUBLE), 4) AS day_value,
      ROUND(CAST(prev AS DOUBLE), 4) AS prev_value,
      pct_change,
      COALESCE(abs(pct_change) > 0.5, false) AS alert
    FROM pc
    WHERE bucket < last_bucket
    ORDER BY user_id, event_type, bucket"""

  // Live top-queries leaderboard: the notebook's headline ranking as
  // a continuously-maintained streaming aggregate (complete mode —
  // a leaderboard is a replace-on-update view by nature). State is
  // O(digests): running DECIMAL total, call count and the max_by
  // (ts, event_id)-latest sample per digest. Emits exactly the batch
  // qan_top_queries rows, so it shares that oracle.
  private val stTopQueries: Q = (s, d) =>
    // the aggregation and ranking are Qan's own definitions applied to
    // the stream — batch and leaderboard cannot drift while both claim
    // qan_top_queries' oracle
    Qan.topQueriesFinish(
      QanStream.runToMemory(
        Qan.topQueriesAgg(QanStream.eventsStream(s, d)), OutputMode.Complete()))

  private val stRollupAppendSql = """
    WITH wm AS (
      SELECT (MAX(epoch_us(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events)
    SELECT date_trunc('minute', ts) AS bucket, event_type,
      COUNT(*) AS sum_calls,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      MAX(value) AS max_value,
      MIN(value) AS min_value
    FROM events, wm
    GROUP BY 1, 2, wm_us
    HAVING epoch_us(date_trunc('minute', MIN(ts))) + 60000000 <= wm_us
    ORDER BY 1, 2"""

  // Streaming multi-counter delta: the reference collector's actual
  // per-poll emission (full DeltaResult), from the raw file-source
  // stream; shares qan_multi_counter_delta's oracle.
  private val stMultiCounter: Q = (s, d) => {
    import s.implicits._
    val feed = QanStream.eventsStream(s, d)
      .withColumn("label_k",
        nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1), lit("")).cast("long"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        unix_micros(date_trunc("day", col("ts"))).as("day_us"),
        when(col("value") >= 10.0, 1L).otherwise(0L).as("calls_inc"),
        col("value").cast(DecimalType(18, 6)).as("timer_inc"),
        coalesce(col("label_k"), lit(0L)).as("rows_inc"),
        when(col("label_k") % 7 === 0, 1L).otherwise(0L).as("errors_inc"))
      .as[QanStream.MultiSnapEvent]
    QanStream.runToMemory(QanStream.multiDeltaFromRaw(feed).toDF(), OutputMode.Append())
      .orderBy(col("event_id"))
  }

  // Streaming exact dedup — the ingestion-time dedup of a continuously
  // arriving corpus: group state per content hash accumulates
  // (min doc_id, copy count) exactly as the batch hash-aggregate does,
  // so arrival order across files/partitions cannot change the answer
  // and the batch oracle carries over unchanged. At 100 TB the state
  // is one 16-byte key + 16 bytes of counters per DISTINCT document —
  // the same footprint the batch shuffle pays.
  private val stExactDedup: Q = (s, d) =>
    QanStream.runToMemory(
        Text.exactDedupAgg(QanStream.documentsStream(s, d)), OutputMode.Complete())
      .orderBy(col("keep_doc_id"))

  // Streaming embedding OOD filter — the ingestion-time form of
  // emb_ood_score, and the production calibrate-offline/apply-online
  // split: centroids AND the decimal-exact mean squared quantization
  // error are computed on the static corpus (the offline index build),
  // then the arriving vector stream is scored by the compiled
  // NearestCellWithDist kernel and filtered against the
  // frozen 1.05×mean threshold (this corpus is near-uniform — max sq
  // is only ~1.08×mean — so the calibration sits where a tail exists;
  // production would freeze a quantile from the same offline pass) — a STATELESS scan-level stream (no
  // state store, no watermark, no shuffle), so it scales to any
  // ingestion rate by adding executors. Emits the flagged outliers in
  // append mode as they arrive.
  private val stOodFilter: Q = (s, d) => {
    import graft.operators.AnnIvf
    import org.apache.spark.sql.types.ArrayType
    val corpus = Vectors.vecCorpus(s, d)
    // adaptiveCells (= 16 at oracle scales): the online filter must
    // score against the same index the batch dedup/audit family uses.
    // corpus persisted: the sizing count, Lloyd rounds and the
    // threshold calibration all rescan it before the stream starts
    val (ids, cents) = AnnIvf.collectCentroids(
      AnnIvf.refinedCentroids(corpus,
        cells = AnnIvf.adaptiveCells(corpus.count()), dim = 64))
    val meanSq = corpus
      .select(graft.functions.expressions.GraftFunctions
        .nearestCellWithDist(col("v"), cents, ids).getField("sq").as("sq"))
      .agg((sum(col("sq").cast(DecimalType(28, 12))).cast(DoubleType)
        / count(lit(1))).as("m"))
      .head.getDouble(0)
    val scored = QanStream.embeddingsStream(s, d)
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      // one compiled sweep per arriving vector (assignment + error)
      .select(col("vec_id"),
        graft.functions.expressions.GraftFunctions
          .nearestCellWithDist(col("v"), cents, ids).as("cd"))
      .select(col("vec_id"), col("cd.cell").as("cell"), col("cd.sq").as("sq"))
      .filter(col("sq") > lit(1.05 * meanSq))
      .select(col("vec_id"), col("cell"), round(sqrt(col("sq")), 6).as("ood_dist"))
    QanStream.runToMemory(scored, OutputMode.Append())
      .orderBy(col("vec_id"))
  }

  private lazy val stOodFilterSql: String = s"""
    WITH ${ScaleOps.ivfCtes()},
    scored AS (
      SELECT iv.vec_id, iv.cell,
        ${ScaleOps.ivfSqDist("iv.v", "c1.c", 64)} AS sq
      FROM inverted iv JOIN centf c1 ON c1.cell = iv.cell),
    thr AS (
      SELECT 1.05 * (CAST(SUM(CAST(sq AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)) AS t
      FROM scored)
    SELECT vec_id, cell, ROUND(SQRT(sq), 6) AS ood_dist
    FROM scored
    WHERE sq > (SELECT t FROM thr)
    ORDER BY vec_id"""

  // Streaming IVF+PQ retrieval serving — the ONLINE half of the
  // composed production search (emb_ivfpq_topk is the batch form):
  // the index is trained and PERSISTED once (IvfPq.buildIndex — the
  // cell-partitioned coded file + centroid/codebook tables), the
  // serving process LOADS the stored artifact (never re-runs Lloyd),
  // and each ARRIVING vector is answered in one stateless pass:
  // regime-dispatched probe (projection against the loaded constants,
  // or coarse probe + broadcast neighborhoods past the ceiling), a
  // stream-static equi-join on cell against the loaded (cell, id,
  // codes) file — TRUE ADC: each candidate's m codes scored directly
  // against the arriving vector (AdcCosineFromQuery — allocation-free
  // per-subspace folds; no LUT, no reconstruction anywhere) — an ADC
  // prefilter (loose, shared constant), and an
  // exact-cosine verify fetching full vectors ONLY for ADC survivors —
  // the SURVIVORS are broadcast against the DISTRIBUTED corpus inside
  // foreachBatch (the topk twin's shape), never the corpus against the
  // survivors: at 100 TB a corpus-sized broadcast is ~500 GB and the
  // plan dies, while the survivor side is bounded by the batch's
  // arrivals × the ADC prefilter. No state store, no watermark, no
  // stream-side shuffle in the STREAMING plan (probe + ADC prefilter
  // only — StreamingSpec pins zero state operators and PlanSpec pins
  // the verify stage's broadcast SIDE); the coded file is the static
  // side a deployment keeps memory-resident (at 100 TB bucketed by
  // cell — BucketJoinSpec pins the exchange-free shape). Emits (query,
  // neighbor, adc_cos, cos_sim) as vectors arrive; threshold outputs
  // are per-row facts, so per-batch evaluation equals global under any
  // batching, and the batch oracle replays the entire composition
  // including the blocked ADC folds.
  /** The exact-verify finish stage of st_ivfpq_serve's foreachBatch —
    * ONE function the live query executes per micro-batch AND
    * StreamingSpec pins the plan of, so the body and the pin cannot
    * silently diverge (r12's pin tested a hand-built twin). `batch`
    * is the self-source union: slim ADC-survivor rows (neighbor_id
    * set, qv null) + one qv row per arriving query (neighbor_id
    * null). The corpus is the DISTRIBUTED side; only the
    * batch-bounded survivor/query rows broadcast — at 100 TB the
    * corpus-sized broadcast this replaces is ~500 GB.
    */
  private[graft] def serveVerifyStage(full: DataFrame, batch: DataFrame): DataFrame = {
    import graft.functions.expressions.GraftFunctions
    val qs = batch.filter(col("neighbor_id").isNull)
      .select(col("query_id"), col("qv"))
    val surv = batch.filter(col("neighbor_id").isNotNull).drop("qv")
    full.join(broadcast(surv), Seq("neighbor_id"))
      .join(broadcast(qs), Seq("query_id"))
      .withColumn("cos_sim",
        GraftFunctions.cosineSimilarity(col("qv"), col("cv")))
      .filter(col("cos_sim") >= Vectors.ivfpqExactVerify)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adc_cos"), 4).as("adc_cos"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** st_ivfpq_serve_topk's per-micro-batch finish stage: bounded ADC
    * pool (`rerank`), exact re-rank to rank ≤ k. Same single-source
    * discipline as [[serveVerifyStage]] — the query body and the spec
    * pin call exactly this function. Join order keeps every broadcast
    * and shuffle SLIM: full-vector fetch against the ≤ rerank·|Q|
    * survivor ids, qv joined back once per survivor, cosine computed
    * and both vectors DROPPED before the ranking shuffle.
    */
  private[graft] def serveTopkStage(full: DataFrame, batch: DataFrame,
      k: Int = Vectors.ivfpqK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.expressions.GraftFunctions
    val qs = batch.filter(col("neighbor_id").isNull)
      .select(col("query_id"), col("qv"))
    val surv = batch.filter(col("neighbor_id").isNotNull).drop("qv")
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_cos").desc, col("neighbor_id"))))
      .filter(col("adc_rank") <= Vectors.ivfpqRerank)
    full.join(broadcast(surv), Seq("neighbor_id"))
      .join(broadcast(qs), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("adc_cos"),
        col("adc_rank"),
        GraftFunctions.cosineSimilarity(col("qv"), col("cv")).as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos_sim"), 4).as("cos_sim"),
        round(col("adc_cos"), 4).as("adc_cos"), col("adc_rank"))
  }

  /** The serve twins' shared front: train + persist the index, then
    * serve FROM THE STORED ARTIFACT (the load path emb_index_build
    * audits hash-exactly). Returns the full-vector side and the
    * stateless self-source feed: SLIM ADC candidates — the query
    * vector must NOT ride the candidate relation (|cell|·nprobe copies
    * of 512 B per query materialize at the micro-batch sink boundary:
    * superlinear at 10× data when first measured) — plus one qv row
    * per arriving query (both legs are projections of the SAME
    * source, so every query's candidates share its micro-batch and
    * per-batch finishing stays exact under any batching).
    * `candidates` narrows the candidate leg before the union. */
  private def ivfpqServeFeed(s: SparkSession, d: String,
      candidates: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    import graft.operators.IvfPq
    import org.apache.spark.sql.types.{ArrayType, LongType}
    import graft.functions.expressions.GraftFunctions
    val corpus = Vectors.vecCorpus(s, d)
    val n = corpus.count()
    val dir = Vectors.indexDir(d)
    IvfPq.buildIndex(corpus, n, dim = 64, m = Vectors.pqM,
      dsub = Vectors.pqDsub, kCodes = Vectors.pqK, dir = dir)
    val loaded = IvfPq.loadIndex(s, dir)
    val codedInv = broadcast(loaded.live.withColumnRenamed("id", "neighbor_id"))
    val full = corpus.select(col("id").as("neighbor_id"), col("v").as("cv"))
    val arriving = QanStream.embeddingsStream(s, d)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("qv"))
    // the receiver-side scatter fans the candidate stage across
    // executors instead of the file source's 1-2 splits
    val candSlim = IvfPq.probe(loaded.index,
        arriving.repartition(s.conf.get("spark.sql.shuffle.partitions").toInt),
        "qv", Vectors.ivfpqNprobe)
      .join(codedInv, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"),
        GraftFunctions.adcCosineFromQuery(col("qv"), col("codes"),
          loaded.books, Vectors.pqDsub).as("adc_cos"),
        col("neighbor_id"),
        lit(null).cast(ArrayType(DoubleType)).as("qv"))
    val queryRows = arriving.select(col("query_id"),
      lit(null).cast(DoubleType).as("adc_cos"),
      lit(null).cast(LongType).as("neighbor_id"), col("qv"))
    (full, candidates(candSlim).unionByName(queryRows))
  }

  private val stIvfpqServe: Q = (s, d) => {
    val (full, feed) = ivfpqServeFeed(s, d,
      _.filter(col("adc_cos") >= Vectors.ivfpqAdcPrefilter))
    QanStream.runForeachBatch(feed, batch => serveVerifyStage(full, batch))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  private lazy val stIvfpqServeSql: String = s"""
    WITH ${ScaleOps.ivfCtes()},
    ${Vectors.pqCtesComposable},${ScaleOps.probesCte(s"${Vectors.ivfpqNprobe}", queryWhere = "")},
    ${Vectors.adcCtes("probes", "inverted", 64)},
    scored AS (
      SELECT a.query_id, a.neighbor_id, a.adc_raw,
        ${Vectors.cosFold("qe.v", "ce.v", 64)} AS cos_raw
      FROM adcr a
      JOIN e qe ON qe.vec_id = a.query_id
      JOIN e ce ON ce.vec_id = a.neighbor_id
      WHERE a.adc_raw >= ${Vectors.ivfpqAdcPrefilter})
    SELECT query_id, neighbor_id,
      ROUND(adc_raw, 4) AS adc_cos, ROUND(cos_raw, 4) AS cos_sim
    FROM scored
    WHERE cos_raw >= ${Vectors.ivfpqExactVerify}
    ORDER BY query_id, neighbor_id"""

  // Top-k retrieval serving over the LOADED index — the real online
  // contract (a retrieval service answers "the k best neighbors of
  // this arriving vector", not "all pairs above τ"): same stateless
  // probe → true-ADC stream-static join as st_ivfpq_serve, then
  // a PER-MICRO-BATCH bounded top-k (ADC pool of `rerank`, exact
  // re-rank to rank ≤ k) applied inside foreachBatch. Ranking windows
  // are illegal on an unbounded stream, but every query's candidates
  // derive from its own arriving row's stream-static joins, so they
  // all live in that row's micro-batch — per-batch top-k IS global
  // per-query top-k under ANY batching, with zero state operators in
  // the streaming plan (StreamingSpec pins it). Work per batch is
  // bounded by the batch's arrivals. The oracle replays the batch
  // composition: same chain as emb_ivfpq_topk over ALL queries.
  private val stIvfpqServeTopk: Q = (s, d) => {
    val (full, feed) = ivfpqServeFeed(s, d, identity)
    QanStream.runForeachBatch(feed, batch => serveTopkStage(full, batch))
      .orderBy(col("query_id"), col("rank"))
  }

  private lazy val stIvfpqServeTopkSql: String = s"""
    WITH ${ScaleOps.ivfCtes()},
    ${Vectors.pqCtesComposable},${ScaleOps.probesCte(s"${Vectors.ivfpqNprobe}", queryWhere = "")},
    ${Vectors.adcCtes("probes", "inverted", 64)},
    ${Vectors.ivfpqRerankTailSql(Vectors.ivfpqRerank, Vectors.ivfpqK, 64)}"""

  // ------------------------------------------------------ st_bm25_serve
  // Online LEXICAL retrieval from the stored index — st_ivfpq_serve's
  // counterpart on the text side, completing the serving triangle for
  // BOTH retriever modalities: LexIndex.buildIndex persists the
  // posting artifact once; arriving query docs are answered from the
  // STORE, never by rescanning the corpus. Streaming plan (stateless,
  // PURE per-row projections — no stream-side join at all): each
  // arriving doc's tokens come from split → array_distinct → explode
  // (query-by-example scoring uses term PRESENCE + rarity, never
  // query-side tf, so no stream-side aggregation and no state store).
  // Everything that touches a STORED table runs per micro-batch: the
  // vocab (df) attach and the posting candidates both read their
  // store through the token-IN-pruned scan (candidatePostings —
  // row-group pruning on the range-sorted layouts, broadcast-join
  // fallback above the pushdown cap), then the rare-term cap,
  // scoring, and top-k — the rankings streams cannot express. Exact
  // under ANY batching because a query's tokens explode from its ONE
  // arriving row (never split across batches) and its candidates
  // derive only from its own terms. Scoring is LexIndex's single
  // implementation (serveStage, via the shared [[bm25ServeStage]] —
  // the same code the batch-served path runs), and the oracle is
  // doc_bm25_topk's chain verbatim: inline == stored == streamed,
  // hash-pinned three ways.
  //
  // 100 TB shape: per-batch work is |arrivals|·qTerms rare-term
  // candidates against the posting store; nothing reads a store
  // corpus-wide per batch.
  /** st_bm25_serve's per-micro-batch finish stage — a thin rank/top-k
    * shaping of [[graft.operators.LexIndex.serveStage]] (the ONE
    * lexical scoring implementation): both stored scans it touches
    * are token-IN pruned per batch (vocab attach + posting
    * candidates — row-group pruning on the range-sorted stores, never
    * a corpus-wide read). The live query body and the spec pin call
    * exactly this function (the serveTopkStage discipline).
    */
  private[graft] def bm25ServeStage(lex: graft.operators.LexIndex.Loaded,
      batch: DataFrame): DataFrame =
    graft.operators.LexIndex.serveStage(lex, batch, Corpus.bm25QTerms)
      .filter(col("rank") <= Corpus.bm25K)
      .select(col("query_id"), col("rank"), col("doc_id"), col("bm25"),
        col("n_terms"))

  private val stBm25Serve: Q = (s, d) => {
    import graft.operators.{LexIndex, Par}
    val dir = Corpus.lexDir(s, d)
    // the store bootstrap is independent of the stream-start machinery
    // (source listing, batch-0 planning never read the store): build +
    // load run async while the stream starts; the per-batch body awaits
    // the loaded artifact before serving (guide §2.6)
    val arriving = QanStream.documentsStream(s, d)
      .filter(col("doc_id") < 5)
      .select(col("doc_id"),
        explode(array_distinct(split(lower(trim(col("text"))), "\\s+")))
          .as("token"))
    Par.overlapped { () =>
      LexIndex.buildIndex(graft.Tables.documents(s, d), dir)
      LexIndex.loadIndex(s, dir)
    } { loadedF =>
      QanStream.runForeachBatch(arriving, batch => bm25ServeStage(loadedF(), batch))
    }.orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------------------------ st_lex_append
  // Streaming LEXICAL index ingest — st_index_append's discipline on
  // the text side, completing the lexical lifecycle triangle (build
  // once [doc_bm25_served] / serve [st_bm25_serve] / ingest [this]):
  // new documents ARRIVE as a stream and each micro-batch lands as an
  // additive SEGMENT of the stored index (delta postings token-range
  // sorted per segment, delta df/dl/totals rows — the exact
  // doc_lex_append write, one delta-sized tokenization pass, base
  // segments never rewritten). The per-batch write is IDEMPOTENT
  // under micro-batch retry (LexIndex.appendBatchToIndex: batchId
  // receipt in the manifest + staged overwrite + deterministic batchId-keyed
  // publish names — IvfPq.appendBatchToIndex's protocol verbatim;
  // LexIndexSpec replays a batch and pins store multiplicity). Each
  // ingested doc emits a receipt (doc_id, dl, n_terms — per-row facts
  // of the deterministic tokenization, so output is identical under
  // ANY batching); after the stream drains the receipts are audited
  // against the RELOADED store: the doc's dl row present EXACTLY once
  // (store_copies — a duplicate-append bug surfaces in the hash) and
  // its stored posting count equal to the receipt's n_terms. The
  // oracle replays the delta docs' stats with in_store = TRUE,
  // store_copies = 1.
  private val stLexAppend: Q = (s, d) => {
    import graft.operators.{LexIndex, Par}
    val isDelta = col("doc_id") % Corpus.lexDeltaMod === Corpus.lexDeltaRem
    val docs = graft.Tables.documents(s, d)
    val dir = Corpus.lexDir(s, d) + "_stream_append"
    // base build async under the stream start (§2.6); each batch body
    // awaits it before landing its delta segment
    val arrivingDelta = QanStream.documentsStream(s, d)
      .select(col("doc_id"), col("text"))
      .filter(isDelta)
    val receipts = Par.overlapped { () =>
      LexIndex.buildIndex(docs.filter(!isDelta), dir)
    } { baseBuilt =>
      QanStream.runForeachBatchWithId(arrivingDelta, (batch, bid) => {
        baseBuilt()
        LexIndex.appendBatchToIndex(batch, dir, bid)
        LexIndex.postings(batch).groupBy(col("doc_id"))
          .agg(sum(col("tf")).as("dl"), count(lit(1)).as("n_terms"))
      })
    }
    // post-stream audit: every receipt readable back from the RELOADED
    // store, exactly once, with the full posting fan-out present
    val loaded = LexIndex.loadIndex(s, dir)
    val storedDl = loaded.dl.groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("store_copies"))
    val storedTerms = loaded.postings.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("store_terms"))
    receipts.join(storedDl, Seq("doc_id", "dl"), "left")
      .join(storedTerms, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dl"), col("n_terms"),
        (coalesce(col("store_copies"), lit(0L)) >= 1 &&
          coalesce(col("store_terms"), lit(0L)) === col("n_terms"))
          .as("in_store"),
        coalesce(col("store_copies"), lit(0L)).as("store_copies"))
      .orderBy(col("doc_id"))
  }

  private lazy val stLexAppendSql: String = s"""
    WITH dtok AS (
      SELECT doc_id,
        unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents
      WHERE doc_id % ${Corpus.lexDeltaMod} = ${Corpus.lexDeltaRem}),
    dstat AS (
      SELECT doc_id, COUNT(*) AS dl, COUNT(DISTINCT token) AS n_terms
      FROM dtok GROUP BY doc_id)
    SELECT doc_id, dl, n_terms, TRUE AS in_store,
      CAST(1 AS BIGINT) AS store_copies
    FROM dstat
    ORDER BY doc_id"""

  // ------------------------------------------------------ st_lex_delete
  // Streaming LEXICAL takedown — st_index_delete's protocol on the
  // text side, completing the streaming symmetry of the lexical
  // lifecycle (build [doc_bm25_served] / serve [st_bm25_serve] /
  // ingest [st_lex_append] / DELETE [this]): takedown requests (GDPR,
  // moderation) arrive as a stream of doc ids and each micro-batch
  // lands as a tombstone append (LexIndex.deleteFromIndex — a
  // delta-sized write of just the ids; the token-sorted store is
  // untouched, no state, no window). Each request emits a receipt;
  // after the stream drains, receipts are audited against the
  // RELOADED store: `dl` comes from the RAW dl roster (the bytes
  // compaction will remove later — proof the store still physically
  // holds the doc) and `still_servable` from the LIVE view, which
  // must be FALSE for every row — takedown is effective the moment
  // the batch commits, before any compaction, which is the latency
  // regulators actually time. Receipts are per-row facts, so output
  // is identical under any batching; the oracle derives the same rows
  // from the build replay with still_servable = FALSE.
  private val stLexDelete: Q = (s, d) => {
    import graft.operators.{LexIndex, Par}
    val docs = graft.Tables.documents(s, d)
    val dir = Corpus.lexDir(s, d) + "_stream_delete"
    // base build async under the stream start (§2.6); each batch body
    // awaits it before landing its tombstones
    val isDel = col("doc_id") % Corpus.lexDelMod === Corpus.lexDelRem
    val arriving = QanStream.documentsStream(s, d)
      .select(col("doc_id")).filter(isDel)
    val receipts = Par.overlapped { () => LexIndex.buildIndex(docs, dir) } { baseBuilt =>
      QanStream.runForeachBatch(arriving, batch => {
        baseBuilt()
        LexIndex.deleteFromIndex(batch.select(col("doc_id")), dir)
        batch.select(col("doc_id"))
      })
    }
    // post-stream audit against the RELOADED store: the raw roster
    // still holds the row (physical removal is compaction's job), but
    // the live view must not serve it
    val loaded = LexIndex.loadIndex(s, dir)
    val raw = loaded.dl.select(col("doc_id"), col("dl"))
    val live = loaded.liveDl
      .select(col("doc_id"), lit(true).as("servable"))
    receipts.join(raw, Seq("doc_id"), "left")
      .join(live, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dl"),
        coalesce(col("servable"), lit(false)).as("still_servable"))
      .orderBy(col("doc_id"))
  }

  private lazy val stLexDeleteSql: String = s"""
    WITH dtok AS (
      SELECT doc_id,
        unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents),
    ddl AS (
      SELECT d.doc_id, COUNT(t.token) AS dl
      FROM documents d
      LEFT JOIN dtok t ON t.doc_id = d.doc_id
      GROUP BY d.doc_id)
    SELECT doc_id, dl, FALSE AS still_servable
    FROM ddl
    WHERE doc_id % ${Corpus.lexDelMod} = ${Corpus.lexDelRem}
    ORDER BY doc_id"""

  // ---------------------------------------------------- st_hybrid_serve
  // The full production RAG serving path, ONLINE: every arriving
  // query is answered by reciprocal-rank fusion of the two PERSISTED
  // retrievers — BM25 from the stored lexical index (LexIndex) and
  // the composed IVF+PQ search from the stored vector index (IvfPq) —
  // with NO scan of the corpus documents table anywhere in the
  // serving path (RetrievalSpec pins the per-batch plans), no
  // corpus-sized broadcast, and zero state operators. This is the
  // query doc_hybrid_rrf_ann's batch composition serves at runtime;
  // because both stores are deterministic builds and the fusion
  // consumes RANKS, the streamed answer equals the batch one and the
  // ORACLE IS doc_hybrid_rrf_ann's chain verbatim — inline == stored
  // == streamed, for the fused pipeline end to end.
  //
  // A RAG request arrives as (query_id, text, vector) ON the stream —
  // the request feed IS the arrival queue (here materialized from the
  // two testdata tables through doc_id-pushdown scans of exactly the
  // request rows: sandbox scaffolding for the file source, not a
  // serving-path cost). That is what kills the r13 defect: the old
  // shape recovered the query TEXT by stream-static-joining arriving
  // ids against the corpus documents table, whose join keys never
  // push into the parquet scan — a full read of the lake's biggest
  // column per micro-batch.
  //
  // Streaming plan (stateless): ONE arriving source, three
  // self-source projection legs unioned so every query's rows share
  // its micro-batch under any batching —
  //   (a) slim ADC candidates (probe the loaded index, join the
  //       broadcast coded file, score codes; the serve-twin shape),
  //   (b) one qv row per query (the exact re-rank needs it once),
  //   (c) lexical term rows: the ARRIVING text tokenized by PER-ROW
  //       expressions (split → array_distinct → explode;
  //       query-by-example scoring needs term presence + rarity,
  //       never query tf ⇒ no stream-side aggregation) — which also
  //       means a NOVEL query (text/vector not in any corpus) is
  //       served identically (RetrievalSpec pins it).
  // foreachBatch then runs the ONE shared [[hybridServeStage]]: the
  // shared serveTopkStage (ADC pool → exact re-rank, the SAME
  // function st_ivfpq_serve_topk and StreamingSpec pin), LexIndex's
  // serveStage against the token-IN-pruned vocab + posting scans
  // (the SAME function the inline and stored-batch paths run), and
  // Corpus.rrfFuse (the SAME fusion both batch hybrids run).
  // Per-batch fusion is exact because every leg of a query derives
  // from its one arriving row.
  //
  // 100 TB shape: per-batch work = arrivals × (nprobe·|cell| code
  // lookups + qTerms rare-term posting candidates); no stored table
  // is read corpus-wide per batch (token-IN row-group pruning on the
  // vocab and posting stores; the documents table is not in the
  // serving path at all), and the only broadcasts are the
  // batch-bounded ones the serve twins already pinned.

  /** st_hybrid_serve's per-micro-batch finish stage — the ONE
    * function the live query executes AND RetrievalSpec pins/feeds
    * (the serveTopkStage discipline). `batch` is the three-leg
    * self-source union: slim ADC candidates (token null), one qv row
    * per query (neighbor_id + token null), per-row query-token rows
    * (token set). Composes ONLY the shared stages: serveTopkStage,
    * LexIndex.serveStage (the same function under
    * [[bm25ServeStage]]), Corpus.rrfFuse.
    */
  private[graft] def hybridServeStage(lex: graft.operators.LexIndex.Loaded,
      full: DataFrame, batch: DataFrame): DataFrame = {
    val vecRanked = serveTopkStage(full,
        batch.filter(col("token").isNull).drop("token"),
        k = Corpus.hybridDepth)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("rank_vec"))
    val lexToks = batch.filter(col("token").isNotNull)
      .select(col("query_id").as("doc_id"), col("token"))
    val lexRanked = graft.operators.LexIndex
      .serveStage(lex, lexToks, Corpus.bm25QTerms)
      .filter(col("rank") <= Corpus.hybridDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("rank_lex"))
    Corpus.rrfFuse(lexRanked, vecRanked)
  }

  /** st_hybrid_serve's three-leg self-source feed over an arriving
    * REQUEST relation (query_id, text, qv) — shared by the live
    * stream and the spec twins (batch and novel-query), so the
    * stream-side legs and the pins cannot drift. Pure projections +
    * broadcast joins of the ONE input: legal on a streaming source,
    * and every query's rows share its micro-batch under any batching.
    */
  private[graft] def hybridFeed(loaded: graft.operators.IvfPq.Loaded,
      arriving: DataFrame): DataFrame = {
    import graft.operators.IvfPq
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    import graft.functions.expressions.GraftFunctions
    val s = arriving.sparkSession
    val codedInv = broadcast(loaded.live.withColumnRenamed("id", "neighbor_id"))
    val nullTok = Seq(lit(null).cast(StringType).as("token"))
    val candSlim = IvfPq.probe(loaded.index,
        arriving.select(col("query_id"), col("qv"))
          .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt),
        "qv", Vectors.ivfpqNprobe)
      .join(codedInv, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(Seq(col("query_id"),
        GraftFunctions.adcCosineFromQuery(col("qv"), col("codes"),
          loaded.books, Vectors.pqDsub).as("adc_cos"),
        col("neighbor_id"),
        lit(null).cast(ArrayType(DoubleType)).as("qv")) ++ nullTok: _*)
    val queryRows = arriving.select(Seq(col("query_id"),
      lit(null).cast(DoubleType).as("adc_cos"),
      lit(null).cast(LongType).as("neighbor_id"), col("qv")) ++ nullTok: _*)
    // the ARRIVING text tokenized per row — no static documents join
    // exists anywhere in the serving path
    val tokenRows = arriving.select(col("query_id"),
        explode(array_distinct(split(lower(trim(col("text"))), "\\s+")))
          .as("token"))
      .select(col("query_id"),
        lit(null).cast(DoubleType).as("adc_cos"),
        lit(null).cast(LongType).as("neighbor_id"),
        lit(null).cast(ArrayType(DoubleType)).as("qv"),
        col("token"))
    candSlim.unionByName(queryRows).unionByName(tokenRows)
  }

  private val stHybridServe: Q = (s, d) => {
    import graft.operators.{IvfPq, LexIndex}
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
    // offline halves: both artifacts built + loaded (emb_index_build /
    // doc_bm25_served audit each store's round-trip hash-exactly)
    val lexDirPath = Corpus.lexDir(s, d)
    val corpus = Vectors.vecCorpus(s, d)
    val vecDir = Vectors.indexDir(d)
    val reqDir = Corpus.requestDir(s, d)
    // three independent bootstrap chains over disjoint dirs (guide
    // §2.6). The LEXICAL build+load runs fully async — nothing before
    // the per-batch body reads the lexical store, so it overlaps the
    // vector build, the feed write, the vector load AND the stream
    // start; the body awaits it. The vector chain and the request-feed
    // write overlap each other but must finish before the stream is
    // CONSTRUCTED: the feed plan probes loaded.index and the stream
    // source lists reqDir.
    graft.operators.Par.overlapped { () =>
      LexIndex.buildIndex(graft.Tables.documents(s, d), lexDirPath)
      LexIndex.loadIndex(s, lexDirPath)
    } { lexF =>
      graft.operators.Par.jobs(
        () => IvfPq.buildIndex(corpus, corpus.count(), dim = 64,
          m = Vectors.pqM, dsub = Vectors.pqDsub, kCodes = Vectors.pqK,
          dir = vecDir): Unit,
        // the request feed: (query_id, text, qv) per request — both
        // construction scans are doc_id/vec_id-pushdown-pruned to the
        // request rows; in production this directory IS the arrival queue
        () => graft.Tables.documents(s, d).filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("text"))
          .join(graft.Tables.embeddings(s, d).filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"),
              col("embedding").cast(ArrayType(DoubleType)).as("qv")),
            Seq("query_id"))
          .write.mode("overwrite").parquet(reqDir))
      val loaded = IvfPq.loadIndex(s, vecDir)
      val full = corpus.select(col("id").as("neighbor_id"), col("v").as("cv"))
      val arriving = s.readStream.schema(StructType(Seq(
          StructField("query_id", LongType),
          StructField("text", StringType),
          StructField("qv", ArrayType(DoubleType)))))
        .parquet(reqDir)
      QanStream.runForeachBatch(hybridFeed(loaded, arriving),
          batch => hybridServeStage(lexF(), full, batch))
    }.orderBy(col("query_id"), col("fused_rank"))
  }

  // Streaming index INGEST — the online half of emb_index_append, and
  // the third member of the production retrieval triangle (build once
  // [emb_index_build] / serve [st_ivfpq_serve_topk] / ingest [this]):
  // new vectors ARRIVE as a stream, and each micro-batch is assigned +
  // PQ-encoded under the FROZEN loaded index (per-row projections and
  // broadcast joins — no window, no state, no stream-side shuffle) and
  // APPENDED to the stored cell-partitioned coded file, one
  // delta-sized write per batch (a deployment compacts the small files
  // asynchronously; base cells are never rewritten). Each ingested
  // vector emits a receipt (id, cell, codes); after the stream drains,
  // the receipts are audited against the RELOADED store — `in_store`
  // must be true for every row, proving the ingest path's writes are
  // the bytes the serve path will read. The per-batch write is
  // IDEMPOTENT under micro-batch retry (IvfPq.appendBatchToIndex:
  // batchId-keyed deterministic publish behind a commit log — a
  // re-run batch replaces its own files instead of double-appending;
  // AnnSpec replays a batch at every crash point and pins store
  // multiplicity), and the audit makes multiplicity VISIBLE:
  // `store_copies` counts the store rows matching each receipt and
  // must be exactly 1 — a duplicate-append bug shows up in the hash,
  // where the old membership-only left join was multiplicity-blind.
  // Receipts are per-row facts (frozen-index assignment/encode is
  // deterministic), so the output is identical under ANY batching; the
  // oracle replays the frozen delta encode and asserts the same
  // receipts with in_store = TRUE, store_copies = 1.
  private val stIndexAppend: Q = (s, d) => {
    import graft.operators.IvfPq
    import org.apache.spark.sql.types.ArrayType
    val isDelta = col("id") % Vectors.appendDeltaMod === Vectors.appendDeltaRem
    val all = Vectors.vecCorpus(s, d)
    val base = all.filter(!isDelta)
    val dir = Vectors.indexDir(d) + "_stream_append"
    // base build + load async under the stream start (§2.6); each
    // batch body awaits the loaded artifact before encoding/appending
    val arrivingDelta = QanStream.embeddingsStream(s, d)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .filter(isDelta)
    val receipts = graft.operators.Par.overlapped { () =>
      IvfPq.buildIndex(base, base.count(), dim = 64, m = Vectors.pqM,
        dsub = Vectors.pqDsub, kCodes = Vectors.pqK, dir = dir)
      IvfPq.loadIndex(s, dir)
    } { loadedF =>
      QanStream.runForeachBatchWithId(arrivingDelta, (batch, bid) => {
        val loaded = loadedF()
        IvfPq.appendBatchToIndex(loaded, batch, dir, bid)
        IvfPq.codedInvertedFile(loaded.index, batch, loaded.books, loaded.dsub)
          .select(col("id").as("vec_id"), col("cell"),
            concat_ws(",", col("codes")).as("codes"))
      })
    }
    // post-stream audit: every receipt must be readable back from the
    // RELOADED store, byte-identical (id, cell, codes), exactly once
    val stored = IvfPq.loadIndex(s, dir).inverted
      .select(col("id").as("vec_id"), col("cell"),
        concat_ws(",", col("codes")).as("codes"))
      .groupBy(col("vec_id"), col("cell"), col("codes"))
      .agg(count(lit(1)).as("store_copies"))
    receipts.join(stored, Seq("vec_id", "cell", "codes"), "left")
      .select(col("vec_id"), col("cell"), col("codes"),
        (coalesce(col("store_copies"), lit(0L)) >= 1).as("in_store"),
        coalesce(col("store_copies"), lit(0L)).as("store_copies"))
      .orderBy(col("vec_id"))
  }

  private lazy val stIndexAppendSql: String = s"""
    WITH ${ScaleOps.ivfCtes(eWhere = s"vec_id % ${Vectors.appendDeltaMod} <> ${Vectors.appendDeltaRem}")},
    ${Vectors.pqCtesComposable},${Vectors.deltaAssignCtes},${Vectors.deltaCodedCtes}
    SELECT a.vec_id, a.cell,
      (SELECT string_agg(CAST(c.code AS VARCHAR), ',' ORDER BY c.sub)
         FROM dl_coded c WHERE c.vec_id = a.vec_id) AS codes,
      TRUE AS in_store,
      CAST(1 AS BIGINT) AS store_copies
    FROM dl_assign a
    ORDER BY a.vec_id"""

  // ------------------------------------------------- st_index_delete
  // Streaming TAKEDOWN — the online half of emb_index_delete,
  // completing the streaming symmetry of the index lifecycle (ingest
  // has st_index_append; deletes arrive as a stream too: GDPR
  // requests, moderation actions). Each micro-batch of arriving
  // delete requests lands as a tombstone append (IvfPq.deleteFromIndex
  // — a delta-sized write of just the ids; the store is untouched, no
  // state, no window). Each request emits a receipt; after the stream
  // drains, receipts are audited against the RELOADED index: the cell
  // the vector occupied (from the raw store — the bytes compaction
  // will rewrite) and `still_servable` from the live view, which must
  // be FALSE for every row — takedown is effective the moment the
  // batch commits, before any compaction. Receipts are per-row facts,
  // so the output is identical under any batching; the oracle derives
  // the same rows from the training replay (cell assignment) with
  // still_servable = FALSE.
  private val stIndexDelete: Q = (s, d) => {
    import graft.operators.IvfPq
    val all = Vectors.vecCorpus(s, d)
    val dir = Vectors.indexDir(d) + "_stream_delete"
    // base build async under the stream start (§2.6); each batch body
    // awaits it before landing its tombstones
    val isDel = col("id") % Vectors.deleteMod === Vectors.deleteRem
    val arriving = QanStream.embeddingsStream(s, d)
      .select(col("vec_id").as("id")).filter(isDel)
    val receipts = graft.operators.Par.overlapped { () =>
      IvfPq.buildIndex(all, all.count(), dim = 64, m = Vectors.pqM,
        dsub = Vectors.pqDsub, kCodes = Vectors.pqK, dir = dir)
    } { baseBuilt =>
      QanStream.runForeachBatch(arriving, batch => {
        baseBuilt()
        IvfPq.deleteFromIndex(batch.select(col("id")), dir)
        batch.select(col("id").as("vec_id"))
      })
    }
    // post-stream audit against the RELOADED index: the raw store
    // still holds the row (physical removal is compaction's job), but
    // the live view must not serve it
    val loaded = IvfPq.loadIndex(s, dir)
    val cells = loaded.inverted.select(col("id").as("vec_id"), col("cell"))
    val liveIds = loaded.live
      .select(col("id").as("vec_id"), lit(true).as("servable"))
    receipts.join(cells, Seq("vec_id"), "left")
      .join(liveIds, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("servable"), lit(false)).as("still_servable"))
      .orderBy(col("vec_id"))
  }

  private lazy val stIndexDeleteSql: String = s"""
    WITH ${ScaleOps.ivfCtes()},
    del AS (
      SELECT vec_id FROM embeddings
      WHERE vec_id % ${Vectors.deleteMod} = ${Vectors.deleteRem})
    SELECT d.vec_id, i.cell, FALSE AS still_servable
    FROM del d JOIN inverted i ON i.vec_id = d.vec_id
    ORDER BY d.vec_id"""

  // Streaming ingestion-time NEAR-dup detection (DedupStream): as docs
  // arrive, each is checked against resident (band, bucket) signature
  // state; (older, newer, signature-estimate) pairs stream out, with
  // multi-band duplicates removed by an in-stream dropDuplicates.
  // The oracle replays signatures/bands/candidates bit-exactly and
  // applies the same estimate threshold.
  private val stMinhash: Q = (s, d) =>
    QanStream.runToMemory(
        graft.streaming.DedupStream.minhashDedupStream(QanStream.documentsStream(s, d)),
        OutputMode.Append())
      .orderBy(col("a_id"), col("b_id"))

  // Streaming SemDeDup: the minhash stream's semantic sibling —
  // vectors assigned to offline-calibrated IVF cells scan-side, int8
  // CODES (not vectors) resident per cell, reconstructed-cosine pairs
  // emitted at ingest (DedupStream.cellDedupStream scaladoc for the
  // state-size and determinism arguments).
  private val stCellDedup: Q = (s, d) => {
    import graft.operators.IvfPq
    import org.apache.spark.sql.types.ArrayType
    val corpus = Vectors.vecCorpus(s, d)
    // calibration routes through the STRUCTURAL regime handover
    // (IvfPq.indexAuto): same index shape as every batch IVF consumer
    // at oracle scales (one-level, adaptiveCells = 16), and past the
    // one-level ceiling the two-level calibration — still a stateless
    // stream-static stage — is selected automatically
    val arriving = QanStream.embeddingsStream(s, d)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val feed = IvfPq.assign(IvfPq.indexAuto(corpus, corpus.count(), dim = 64), arriving)
      .select(col("cell"), col("id").as("vec_id"), col("v"))
    QanStream.runToMemory(
        graft.streaming.DedupStream.cellDedupStream(feed).toDF(),
        OutputMode.Append())
      .select(col("a_id"), col("b_id"), round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private lazy val stCellDedupSql: String = s"""
    WITH ${graft.queries.ScaleOps.ivfCtes()},
    sc AS (
      SELECT vec_id, cell, v,
        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM inverted),
    r AS (
      SELECT vec_id, cell,
        list_transform(v, x -> ${graft.queries.Vectors.codeSql("x", "scale")} * scale) AS rv
      FROM sc)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      ROUND(list_cosine_similarity(a.rv, b.rv), 4) AS cos_sim
    FROM r a JOIN r b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.rv, b.rv) >= 0.4
    ORDER BY a_id, b_id"""

  private val stMinhashSql: String = s"""
    WITH ${ScaleOps.minhashSigCtes}
    SELECT c.a_id, c.b_id,
      CAST(len(list_filter(range(1, 37), i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS DOUBLE) / 36 AS est
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.a_id
    JOIN sig sb ON sb.doc_id = c.b_id
    WHERE CAST(len(list_filter(range(1, 37), i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS DOUBLE) / 36 >= 0.8
    ORDER BY c.a_id, c.b_id"""

  // Streaming funnel: the per-user stage state machine (O(1) per key)
  // over the raw file-source stream; shares qan_funnel's oracle.
  // Append mode re-emits a user's CURRENT cumulative row each batch,
  // so the consumer keeps the furthest row per user (stage is
  // monotone) — correct under any batching, not just the gate's
  // single-batch replay.
  private val stFunnel: Q = (s, d) => {
    import s.implicits._
    val feed = QanStream.eventsStream(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .as[QanStream.FunnelEvent]
    QanStream.runToMemory(QanStream.funnelStream(feed).toDF(), OutputMode.Append())
      .groupBy(col("user_id"))
      .agg(expr(
        "max_by(struct(view_us, click_us, purch_us, stage_reached), stage_reached)")
        .as("f"))
      .select(col("user_id"),
        timestamp_micros(col("f.view_us")).as("ts_view"),
        timestamp_micros(col("f.click_us")).as("ts_click"),
        timestamp_micros(col("f.purch_us")).as("ts_purchase"),
        col("f.stage_reached").as("stage_reached"))
      .orderBy(col("user_id"))
  }

  // Stream-stream interval join — the attribution shape: each click
  // joins the SAME user's view events from the preceding hour. Both
  // sides are independent file-source streams with their own
  // watermark, and the time-range predicate gives Spark the state
  // eviction bound (a view older than click_watermark − 1h can never
  // match again and its state is dropped) — the production form for
  // unbounded feeds, not just this replay. Inner join in append mode;
  // raw matched pairs are the output, so the batch equi+range join IS
  // the oracle. StreamingSpec proves the cross-batch case (a view
  // buffered in batch 1 matches a click arriving in batch 2).
  private val stIntervalJoin: Q = (s, d) => {
    val clicks = QanStream.eventsStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
      .withWatermark("click_ts", "1 hour")
    val views = QanStream.eventsStream(s, d)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val joined = clicks.join(views,
      col("user_id") === col("view_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("click_ts"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("click_value"), col("view_id"), col("view_ts"))
    QanStream.runToMemory(joined, OutputMode.Append())
      .orderBy(col("click_id"), col("view_id"))
  }

  private val stIntervalJoinSql = """
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
      c.value AS click_value, v.event_id AS view_id, v.ts AS view_ts
    FROM events c JOIN events v ON v.user_id = c.user_id
    WHERE c.event_type = 'click' AND v.event_type = 'view'
      AND v.ts >= c.ts - INTERVAL 1 HOUR AND v.ts <= c.ts
    ORDER BY click_id, view_id"""

  // Left-outer form of the interval join — "which clicks had NO view
  // in the preceding hour": matches emit immediately; a null-extended
  // row for an unmatched click emits only when the watermark proves
  // no future view can match it — STRICTLY past the click (click_ts <
  // wm ⇒ any future view has view_ts ≥ wm > click_ts, violating
  // view_ts ≤ click_ts; a view exactly AT the watermark is not yet
  // late, so equality keeps the click open — StreamingSpec pins this
  // boundary with a MemoryStream click placed exactly at
  // max_event_time − 1h). The oracle replays exactly that rule: all
  // matched pairs, plus unmatched clicks whose click_ts < the final
  // watermark (per-input max-event-time − delay, ms-truncated, min
  // across inputs) — the same eviction-replay shape as
  // st_session_append.
  private val stIntervalJoinOuter: Q = (s, d) => {
    val clicks = QanStream.eventsStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val views = QanStream.eventsStream(s, d)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val joined = clicks.join(views,
      col("user_id") === col("view_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("click_ts"),
      "left_outer")
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("view_id"), col("view_ts"))
    QanStream.runToMemory(joined, OutputMode.Append())
      .orderBy(col("click_id"), col("view_id"))
  }

  private val stIntervalJoinOuterSql = """
    WITH wm AS (
      SELECT LEAST(
          (SELECT MAX(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'click'),
          (SELECT MAX(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'view'))
        * 1000 - 3600000000 AS wm_us),
    matched AS (
      SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
        v.event_id AS view_id, v.ts AS view_ts
      FROM events c JOIN events v ON v.user_id = c.user_id
      WHERE c.event_type = 'click' AND v.event_type = 'view'
        AND v.ts >= c.ts - INTERVAL 1 HOUR AND v.ts <= c.ts),
    unmatched AS (
      -- the both-sides-present guard mirrors Spark: an input that has
      -- never seen data holds the global (min-policy) watermark at 0,
      -- so nothing evicts and no null rows emit — DuckDB's LEAST
      -- would skip the NULL max and wrongly advance the watermark
      SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
        CAST(NULL AS BIGINT) AS view_id, CAST(NULL AS TIMESTAMP) AS view_ts
      FROM events c, wm
      WHERE c.event_type = 'click'
        AND epoch_us(c.ts) < wm.wm_us
        AND (SELECT COUNT(*) FROM events WHERE event_type = 'view') > 0
        AND NOT EXISTS (SELECT 1 FROM events v
          WHERE v.event_type = 'view' AND v.user_id = c.user_id
            AND v.ts >= c.ts - INTERVAL 1 HOUR AND v.ts <= c.ts))
    SELECT * FROM matched
    UNION ALL
    SELECT * FROM unmatched
    ORDER BY click_id, view_id"""

  val entries: Map[String, Q] = Map(
    "st_interval_join" -> stIntervalJoin,
    "st_interval_join_outer" -> stIntervalJoinOuter,
    "st_funnel_stream" -> stFunnel,
    "st_minhash_stream" -> stMinhash,
    "st_cell_dedup" -> stCellDedup,
    "st_ood_filter" -> stOodFilter,
    "st_ivfpq_serve" -> stIvfpqServe,
    "st_ivfpq_serve_topk" -> stIvfpqServeTopk,
    "st_index_append" -> stIndexAppend,
    "st_bm25_serve" -> stBm25Serve,
    "st_hybrid_serve" -> stHybridServe,
    "st_lex_append" -> stLexAppend,
    "st_lex_delete" -> stLexDelete,
    "st_index_delete" -> stIndexDelete,
    "st_exact_dedup_stream" -> stExactDedup,
    "st_multi_counter_stream" -> stMultiCounter,
    "st_delta_stream" -> stDelta,
    "st_rollup_stream" -> stRollup,
    "st_governor_stream" -> stGovernor,
    "st_session_stream" -> stSession,
    "st_session_append" -> stSessionAppend,
    "st_rollup_append" -> stRollupAppend,
    "st_percent_change" -> stPercentChange,
    "st_top_queries" -> stTopQueries)

  /** The streaming ops reproduce the batch semantics exactly, so they
    * share the batch oracles.
    */
  val oracles: Map[String, String] = Map(
    "st_funnel_stream" -> Timeseries.oracles("qan_funnel"),
    "st_minhash_stream" -> stMinhashSql,
    "st_cell_dedup" -> stCellDedupSql,
    "st_ood_filter" -> stOodFilterSql,
    "st_ivfpq_serve" -> stIvfpqServeSql,
    "st_ivfpq_serve_topk" -> stIvfpqServeTopkSql,
    "st_index_append" -> stIndexAppendSql,
    "st_bm25_serve" -> Corpus.docBm25TopkSql,
    "st_hybrid_serve" -> Corpus.docHybridRrfAnnSql,
    "st_lex_append" -> stLexAppendSql,
    "st_lex_delete" -> stLexDeleteSql,
    "st_index_delete" -> stIndexDeleteSql,
    "st_exact_dedup_stream" -> Text.oracles("doc_exact_dedup"),
    "st_multi_counter_stream" -> Qan.oracles("qan_multi_counter_delta"),
    "st_session_stream" -> stSessionSql,
    "st_delta_stream" -> Qan.oracles("qan_snapshot_delta"),
    "st_rollup_stream" -> Qan.oracles("qan_rollup_minute"),
    "st_governor_stream" -> Qan.oracles("qan_ewma"),
    "st_session_append" -> stSessionAppendSql,
    "st_rollup_append" -> stRollupAppendSql,
    "st_percent_change" -> stPercentChangeSql,
    "st_top_queries" -> graft.queries.Qan.oracles("qan_top_queries"),
    "st_interval_join" -> stIntervalJoinSql,
    "st_interval_join_outer" -> stIntervalJoinOuterSql)
}
