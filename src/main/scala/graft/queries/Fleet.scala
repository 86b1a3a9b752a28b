package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables._

/** Fleet topology + collection-controls surface (SURVEY §2.B, round
  * 6) — the reference's instance-management TODOs as queries:
  *
  *  - cluster/replica grouping (reference docs/TODO.md §4 "Enhance
  *    instance tracking with explicit cluster/replica grouping", §9
  *    "aggregation of metrics across all nodes in a cluster" /
  *    "replication lag tracking between primary and replicas"):
  *    instances roll up to a derived cluster dim, and each cluster's
  *    primary is compared per digest against its replicas' mean.
  *  - query-comment metadata (TODO.md §7 "parsing for query comments
  *    ('application:name' comment style)" + §8 "profiling by
  *    custom metadata"): an app tag is parsed out of the statement
  *    comment, comments are stripped BEFORE literal normalization
  *    (so the digest is app-independent), and metrics roll up per
  *    app × digest.
  *  - sample-collection controls (TODO.md §1 "sampling rate
  *    configuration (collect only N% of queries)" / "maximum sample
  *    length configuration"): the carried query_sample is gated by a
  *    salted-hash rate rule (reproducible under re-runs, partitioning
  *    and growth — the same membership rule as doc_stratified_sample)
  *    and truncated to a byte budget, with the realized rate audited.
  *
  * Cluster topology is derived deterministically (cluster = user_id
  * div 5, primary = the member ≡ 0 mod 5) because the corpus carries
  * no explicit topology table — the mapping is the documented
  * scaffold, identical on the oracle side; a deployment would join a
  * real instance→(cluster, role) dimension table instead, which is
  * broadcast-sized by construction (one row per instance).
  *
  * 100 TB shape: every query here is ONE map-side-combined hash
  * aggregate over the scan (conditional sums for the role split — no
  * self-join, no window over raw events); the only window is
  * qan_sample_controls' latest-sample rank, partitioned by digest on
  * the rate-filtered ~N% subset.
  */
object Fleet {
  type Q = (SparkSession, String) => DataFrame

  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast(DoubleType)

  // shared fleet-topology convention — ONE definition (Topology.scala)
  private val ClusterSize = Topology.ClusterSize

  private def withTopology(ev: DataFrame): DataFrame = Topology.withTopology(ev)

  // --------------------------------------------------- qan_cluster_rollup
  // Cluster-level metric aggregation (TODO.md §9): per cluster ×
  // digest, member count, call volume and exact-decimal value totals,
  // plus per-instance normalizations — "is this cluster hot because
  // one member is, or because all are".
  private val qanClusterRollup: Q = (s, d) =>
    withTopology(events(s, d))
      .groupBy(col("cluster_id"), col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_instances"),
        count(lit(1)).as("calls"),
        dsum(col("value")).as("total_value"))
      .select(col("cluster_id"), col("event_type"), col("n_instances"),
        col("calls"), col("total_value"),
        round(col("calls").cast(DoubleType) / col("n_instances").cast(DoubleType), 4)
          .as("calls_per_instance"),
        round(col("total_value") / col("n_instances").cast(DoubleType), 4)
          .as("value_per_instance"))
      .orderBy(col("cluster_id"), col("event_type"))

  private val qanClusterRollupSql = s"""
    SELECT user_id // $ClusterSize AS cluster_id, event_type,
      COUNT(DISTINCT user_id) AS n_instances,
      COUNT(*) AS calls,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(COUNT(DISTINCT user_id) AS DOUBLE), 4)
        AS calls_per_instance,
      ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        / CAST(COUNT(DISTINCT user_id) AS DOUBLE), 4) AS value_per_instance
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  // --------------------------------------------------- qan_replica_compare
  // Primary-vs-replica comparison (TODO.md §9 "replication lag
  // tracking between primary and replicas", §4 "comparing queries
  // across database instances"): per cluster × digest, the primary's
  // load vs the per-replica mean, with a divergence flag past ±50% —
  // a replica running a digest 2× hotter than its primary is either
  // lagging (replay storm) or mis-routed. One conditional-sum hash
  // aggregate; all ratios form from exact decimal totals in one
  // pinned double expression, and the flag fires on the ROUNDED
  // ratio so it cannot flap across engines.
  private val qanReplicaCompare: Q = (s, d) => {
    val agg = withTopology(events(s, d))
      .groupBy(col("cluster_id"), col("event_type"))
      .agg(
        sum(when(col("is_primary"), col("value")).cast(DecimalType(18, 6))).as("pv"),
        sum(when(!col("is_primary"), col("value")).cast(DecimalType(18, 6))).as("rv"),
        count(when(col("is_primary"), 1)).as("primary_calls"),
        count(when(!col("is_primary"), 1)).as("replica_calls"),
        countDistinct(when(!col("is_primary"), col("user_id"))).as("n_replicas"))
    val replicaAvg = col("rv").cast(DoubleType) / col("n_replicas").cast(DoubleType)
    val ratio = when(col("pv").isNotNull && col("pv") > 0 && col("n_replicas") > 0,
      round(replicaAvg / col("pv").cast(DoubleType), 6))
    agg
      .select(col("cluster_id"), col("event_type"),
        col("primary_calls"), col("replica_calls"), col("n_replicas"),
        round(col("pv").cast(DoubleType), 4).as("primary_value"),
        when(col("n_replicas") > 0, round(replicaAvg, 4)).as("replica_avg_value"),
        ratio.as("replica_ratio"),
        coalesce(abs(ratio - 1.0) > 0.5, lit(false)).as("diverged"))
      .orderBy(col("cluster_id"), col("event_type"))
  }

  private val qanReplicaCompareSql = s"""
    WITH agg AS (
      SELECT user_id // $ClusterSize AS cluster_id, event_type,
        SUM(CAST(CASE WHEN user_id % $ClusterSize = 0 THEN value END AS DECIMAL(18,6))) AS pv,
        SUM(CAST(CASE WHEN user_id % $ClusterSize <> 0 THEN value END AS DECIMAL(18,6))) AS rv,
        COUNT(CASE WHEN user_id % $ClusterSize = 0 THEN 1 END) AS primary_calls,
        COUNT(CASE WHEN user_id % $ClusterSize <> 0 THEN 1 END) AS replica_calls,
        COUNT(DISTINCT CASE WHEN user_id % $ClusterSize <> 0 THEN user_id END) AS n_replicas
      FROM events
      GROUP BY 1, 2),
    formed AS (
      SELECT *,
        CASE WHEN pv IS NOT NULL AND pv > 0 AND n_replicas > 0
          THEN ROUND((CAST(rv AS DOUBLE) / CAST(n_replicas AS DOUBLE))
            / CAST(pv AS DOUBLE), 6) END AS replica_ratio
      FROM agg)
    SELECT cluster_id, event_type, primary_calls, replica_calls, n_replicas,
      ROUND(CAST(pv AS DOUBLE), 4) AS primary_value,
      CASE WHEN n_replicas > 0
        THEN ROUND(CAST(rv AS DOUBLE) / CAST(n_replicas AS DOUBLE), 4) END
        AS replica_avg_value,
      replica_ratio,
      COALESCE(abs(replica_ratio - 1.0) > 0.5, false) AS diverged
    FROM formed
    ORDER BY 1, 2"""

  // --------------------------------------------------- qan_app_metadata
  // Query-comment metadata (TODO.md §7): statements carry an
  // `/* application:name */` comment; the app tag is parsed out, the
  // comment is stripped BEFORE literal normalization — so the digest
  // is the statement's shape, independent of which app issued it —
  // and metrics roll up per app × digest (TODO.md §8's "profiling by
  // custom metadata"). Statements are synthesized deterministically
  // from events exactly as qan_digest_normalize documents (the corpus
  // has no raw SQL); the comment convention is the TODO's own
  // example. Pure regexp projections + one hash aggregate.
  private val qanAppMetadata: Q = (s, d) =>
    events(s, d)
      .withColumn("k",
        nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1), lit("")).cast("long"))
      .withColumn("raw_sql", concat(
        lit("/* application:app_"), col("user_id") % 3, lit(" */ SELECT * FROM "),
        col("event_type"), lit("s WHERE id = "), col("k")))
      .withColumn("app", regexp_extract(col("raw_sql"), "application:([a-z0-9_]+)", 1))
      .withColumn("norm_text",
        trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          lower(col("raw_sql")),
          "/\\*[^*]*\\*/", " "), "'[^']*'", "?"), "\\b[0-9]+\\b", "?"), "\\s+", " ")))
      .withColumn("digest", substring(md5(col("norm_text")), 1, 16))
      .groupBy(col("app"), col("digest"), col("norm_text"))
      .agg(count(lit(1)).as("n_statements"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total_value"))
      .orderBy(col("app"), col("digest"))

  private val qanAppMetadataSql = """
    WITH raw AS (
      SELECT user_id, value,
        '/* application:app_' || (user_id % 3) || ' */ SELECT * FROM '
          || event_type || 's WHERE id = '
          || CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) AS raw_sql
      FROM events),
    norm AS (
      SELECT user_id, value,
        regexp_extract(raw_sql, 'application:([a-z0-9_]+)', 1) AS app,
        trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(raw_sql),
          '/\*[^*]*\*/', ' ', 'g'), '''[^'']*''', '?', 'g'),
          '\b[0-9]+\b', '?', 'g'), '\s+', ' ', 'g')) AS norm_text
      FROM raw)
    SELECT app, substr(md5(norm_text), 1, 16) AS digest, norm_text,
      COUNT(*) AS n_statements,
      COUNT(DISTINCT user_id) AS n_users,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM norm
    GROUP BY 1, 2, 3
    ORDER BY 1, 2"""

  // --------------------------------------------------- qan_sample_controls
  // Sample-collection controls (TODO.md §1): collect the statement
  // sample for only RATE% of events — membership decided per event by
  // the salted-hash threshold rule, so the sample set is reproducible
  // under re-runs, partitioning and corpus growth, never a count-pass
  // or an RNG — and truncate every collected sample to MAX_LEN chars.
  // Output per digest: true call volume (counting is never sampled),
  // realized sample count/rate (the audit that the gate replays
  // exactly), truncation count, and the latest collected sample.
  private val SampleRatePct = 20
  private val SampleMaxLen = 20

  private val qanSampleControls: Q = (s, d) => {
    val base = events(s, d)
      .withColumn("bucket",
        conv(substring(md5(concat(col("event_id").cast("string"),
          lit("|graft-sample-rate-v1"))), 1, 8), 16, 10).cast("long") % 100)
      .withColumn("sample_full",
        concat(col("event_type"), lit(" /*"), col("props"), lit("*/")))
    val sampled = base.filter(col("bucket") < SampleRatePct)
      .select(col("event_type"), col("ts"), col("event_id"),
        substring(col("sample_full"), 1, SampleMaxLen).as("sample"),
        (length(col("sample_full")) > SampleMaxLen).as("was_trunc"))
    val latest = sampled
      .withColumn("rn", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("sample").as("latest_sample"))
    val sagg = sampled.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sampled"),
        count(when(col("was_trunc"), 1)).as("n_truncated"))
    base.groupBy(col("event_type")).agg(count(lit(1)).as("calls"))
      .join(sagg, Seq("event_type"), "left")
      .join(latest, Seq("event_type"), "left")
      .select(col("event_type"), col("calls"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("n_truncated"), lit(0L)).as("n_truncated"),
        round(coalesce(col("n_sampled"), lit(0L)).cast(DoubleType) /
          col("calls").cast(DoubleType), 4).as("sampled_frac"),
        col("latest_sample"))
      .orderBy(col("event_type"))
  }

  private val qanSampleControlsSql = s"""
    WITH base AS (
      SELECT event_type, ts, event_id,
        CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|graft-sample-rate-v1'), 1, 8)) AS BIGINT) % 100 AS bucket,
        event_type || ' /*' || props || '*/' AS sample_full
      FROM events),
    sampled AS (
      SELECT event_type, ts, event_id,
        substr(sample_full, 1, $SampleMaxLen) AS sample,
        length(sample_full) > $SampleMaxLen AS was_trunc,
        ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY ts DESC, event_id DESC) AS rn
      FROM base WHERE bucket < $SampleRatePct),
    sagg AS (
      SELECT event_type, COUNT(*) AS n_sampled,
        COUNT(CASE WHEN was_trunc THEN 1 END) AS n_truncated,
        MAX(CASE WHEN rn = 1 THEN sample END) AS latest_sample
      FROM sampled GROUP BY 1),
    agg AS (SELECT event_type, COUNT(*) AS calls FROM base GROUP BY 1)
    SELECT a.event_type, a.calls,
      COALESCE(s.n_sampled, 0) AS n_sampled,
      COALESCE(s.n_truncated, 0) AS n_truncated,
      ROUND(CAST(COALESCE(s.n_sampled, 0) AS DOUBLE) / CAST(a.calls AS DOUBLE), 4)
        AS sampled_frac,
      s.latest_sample
    FROM agg a LEFT JOIN sagg s USING (event_type)
    ORDER BY 1"""

  // --------------------------------------------------- qan_workload_diff
  // Workload difference analysis between time periods (TODO.md §8
  // "workload difference analysis between time periods", §6
  // "time-based comparison views … statistical significance
  // indicators"): the corpus window splits at its midpoint and every
  // (instance, digest) workload unit is compared across the halves —
  // call volume and exact-decimal value totals per period, percent
  // change, and a change class (new / gone / grown / shrunk /
  // stable at a ±20% band on the ROUNDED pct so the label cannot
  // flap across engines). The midpoint is a one-row aggregate
  // broadcast; the diff itself is ONE conditional-sum hash aggregate
  // over the scan — no self-join of period A against period B, so
  // the plan is identical at a 100 TB fleet.
  private val qanWorkloadDiff: Q = (s, d) => {
    val ev = events(s, d).withColumn("us", unix_micros(col("ts")))
    val mid = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid_us"))
    val agg = ev.crossJoin(broadcast(mid))
      .withColumn("in_a", col("us") <= col("mid_us"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        count(when(col("in_a"), 1)).as("calls_a"),
        count(when(!col("in_a"), 1)).as("calls_b"),
        sum(when(col("in_a"), col("value")).cast(DecimalType(18, 6))).as("va"),
        sum(when(!col("in_a"), col("value")).cast(DecimalType(18, 6))).as("vb"))
    val pct = when(col("calls_a") > 0 && col("calls_b") > 0 && col("va") > 0,
      round((col("vb").cast(DoubleType) - col("va").cast(DoubleType))
        / col("va").cast(DoubleType), 6))
    agg.select(col("user_id"), col("event_type"),
        col("calls_a"), col("calls_b"),
        round(col("va").cast(DoubleType), 4).as("value_a"),
        round(col("vb").cast(DoubleType), 4).as("value_b"),
        pct.as("pct_change"),
        when(col("calls_a") === 0, "new")
          .when(col("calls_b") === 0, "gone")
          .when(pct > 0.2, "grown")
          .when(pct < -0.2, "shrunk")
          .otherwise("stable").as("change_class"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private val qanWorkloadDiffSql = """
    WITH ev AS (SELECT user_id, event_type, value, epoch_us(ts) AS us FROM events),
    mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid_us FROM ev),
    agg AS (
      SELECT user_id, event_type,
        COUNT(CASE WHEN us <= mid_us THEN 1 END) AS calls_a,
        COUNT(CASE WHEN us > mid_us THEN 1 END) AS calls_b,
        SUM(CAST(CASE WHEN us <= mid_us THEN value END AS DECIMAL(18,6))) AS va,
        SUM(CAST(CASE WHEN us > mid_us THEN value END AS DECIMAL(18,6))) AS vb
      FROM ev, mid
      GROUP BY 1, 2),
    formed AS (
      SELECT *,
        CASE WHEN calls_a > 0 AND calls_b > 0 AND va > 0
          THEN ROUND((CAST(vb AS DOUBLE) - CAST(va AS DOUBLE))
            / CAST(va AS DOUBLE), 6) END AS pct_change
      FROM agg)
    SELECT user_id, event_type, calls_a, calls_b,
      ROUND(CAST(va AS DOUBLE), 4) AS value_a,
      ROUND(CAST(vb AS DOUBLE), 4) AS value_b,
      pct_change,
      CASE WHEN calls_a = 0 THEN 'new'
           WHEN calls_b = 0 THEN 'gone'
           WHEN pct_change > 0.2 THEN 'grown'
           WHEN pct_change < -0.2 THEN 'shrunk'
           ELSE 'stable' END AS change_class
    FROM formed
    ORDER BY 1, 2"""

  // ---------------------------------------------- qan_diff_significance
  // Statistical significance for period-over-period changes (TODO.md
  // §6 "statistical significance indicators for performance
  // changes"): qan_workload_diff labels each (instance, digest) unit
  // grown/shrunk by a ±20% band, but a 30% swing on 5 calls is noise
  // while 5% on 50k calls is real. This view runs Welch's z-test on
  // the per-event value mean between the two halves of the window:
  // moments (n, Σv, Σv²) accumulate per period as exact DECIMALs in
  // the SAME single conditional-sum hash aggregate as the diff
  // itself, and the z statistic is formed from them in one pinned
  // double expression — so the significant/not verdict is
  // bit-reproducible across engines and partitionings. No self-join,
  // no window: the plan is the workload-diff plan plus two sums.
  private val qanDiffSignificance: Q = (s, d) => {
    val ev = events(s, d).withColumn("us", unix_micros(col("ts")))
    val mid = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid_us"))
    val agg = ev.crossJoin(broadcast(mid))
      .withColumn("in_a", col("us") <= col("mid_us"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        count(when(col("in_a"), 1)).as("n_a"),
        count(when(!col("in_a"), 1)).as("n_b"),
        sum(when(col("in_a"), col("value")).cast(DecimalType(18, 6))).as("sa"),
        sum(when(!col("in_a"), col("value")).cast(DecimalType(18, 6))).as("sb"),
        sum(when(col("in_a"), col("value") * col("value")).cast(DecimalType(28, 6))).as("qa"),
        sum(when(!col("in_a"), col("value") * col("value")).cast(DecimalType(28, 6))).as("qb"))
    val naD = col("n_a").cast(DoubleType)
    val nbD = col("n_b").cast(DoubleType)
    val meanA = col("sa").cast(DoubleType) / naD
    val meanB = col("sb").cast(DoubleType) / nbD
    val varA = when(col("n_a") >= 2, (naD * col("qa").cast(DoubleType)
      - col("sa").cast(DoubleType) * col("sa").cast(DoubleType)) / (naD * (naD - 1)))
    val varB = when(col("n_b") >= 2, (nbD * col("qb").cast(DoubleType)
      - col("sb").cast(DoubleType) * col("sb").cast(DoubleType)) / (nbD * (nbD - 1)))
    val se2 = varA / naD + varB / nbD
    // raw IEEE doubles, no rounding: every input is an exact decimal,
    // so div/sqrt are bit-identical in any engine — rounding would
    // REINTRODUCE flap risk (engines disagree on ties at scale 4)
    val z = when(col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0,
      (meanB - meanA) / sqrt(se2))
    // the z statistic is reported from n≥2, but the SIGNIFICANT flag
    // additionally requires n≥30 per half: Welch's test is a t-test,
    // and below ~30 the asymptotic 1.96 cutoff is far smaller than the
    // t critical value (≈4.3 at df≈2) — exactly the low-n noise this
    // view exists to suppress. At n≥30, z≈t and the normal cutoff is
    // valid; tiny units keep their z_score for inspection but can
    // never be flagged. (The alternative — Welch–Satterthwaite df +
    // a t quantile — needs an inverse-t neither engine exposes as a
    // replayable scalar; the n-gate is the documented choice.)
    agg.select(col("user_id"), col("event_type"), col("n_a"), col("n_b"),
        when(col("n_a") > 0, meanA).as("mean_a"),
        when(col("n_b") > 0, meanB).as("mean_b"),
        z.as("z_score"),
        coalesce(col("n_a") >= 30 && col("n_b") >= 30 && abs(z) > 1.96,
          lit(false)).as("significant"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private val qanDiffSignificanceSql = """
    WITH ev AS (SELECT user_id, event_type, value, epoch_us(ts) AS us FROM events),
    mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid_us FROM ev),
    agg AS (
      SELECT user_id, event_type,
        COUNT(CASE WHEN us <= mid_us THEN 1 END) AS n_a,
        COUNT(CASE WHEN us > mid_us THEN 1 END) AS n_b,
        SUM(CAST(CASE WHEN us <= mid_us THEN value END AS DECIMAL(18,6))) AS sa,
        SUM(CAST(CASE WHEN us > mid_us THEN value END AS DECIMAL(18,6))) AS sb,
        SUM(CAST(CASE WHEN us <= mid_us THEN value * value END AS DECIMAL(28,6))) AS qa,
        SUM(CAST(CASE WHEN us > mid_us THEN value * value END AS DECIMAL(28,6))) AS qb
      FROM ev, mid GROUP BY 1, 2),
    formed AS (
      SELECT *,
        CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd
      FROM agg),
    stats AS (
      SELECT *,
        CASE WHEN n_a >= 2 THEN (nad * CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
          / (nad * (nad - 1)) END AS var_a,
        CASE WHEN n_b >= 2 THEN (nbd * CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
          / (nbd * (nbd - 1)) END AS var_b
      FROM formed),
    zed AS (
      SELECT *,
        CASE WHEN n_a >= 2 AND n_b >= 2 AND var_a / nad + var_b / nbd > 0
          THEN (CAST(sb AS DOUBLE) / nbd - CAST(sa AS DOUBLE) / nad)
            / sqrt(var_a / nad + var_b / nbd) END AS z_score
      FROM stats)
    SELECT user_id, event_type, n_a, n_b,
      CASE WHEN n_a > 0 THEN CAST(sa AS DOUBLE) / nad END AS mean_a,
      CASE WHEN n_b > 0 THEN CAST(sb AS DOUBLE) / nbd END AS mean_b,
      z_score,
      COALESCE(n_a >= 30 AND n_b >= 30 AND abs(z_score) > 1.96, FALSE) AS significant
    FROM zed
    ORDER BY 1, 2"""

  // ------------------------------------------------ qan_retention_tiering
  // Data-retention roll-up (TODO.md §3 "retention configuration (min:
  // 2 weeks of full resolution data)" / "automatic data roll-up for
  // older data to save storage"): events age into resolution tiers
  // relative to the corpus head — the newest week stays at full
  // (per-event) resolution, the second week rolls up hourly,
  // everything older rolls up daily. Output is the tiered store
  // itself (tier, bucket, digest, calls, exact-value total) — `calls`
  // doubles as the storage audit (rows collapsed per bucket). Age is
  // computed against a one-row max-ts broadcast; the roll-up is ONE
  // hash aggregate whose key cardinality is bounded by
  // time-buckets × digests regardless of corpus size.
  private val TierFullUs   = 7L * 86400L * 1000000L
  private val TierHourlyUs = 14L * 86400L * 1000000L

  private val qanRetentionTiering: Q = (s, d) => {
    val ev = events(s, d)
    val mx = ev.agg(max(unix_micros(col("ts"))).as("max_us"))
    ev.crossJoin(broadcast(mx))
      .withColumn("age_us", col("max_us") - unix_micros(col("ts")))
      .withColumn("tier",
        when(col("age_us") < TierFullUs, "1_full")
          .when(col("age_us") < TierHourlyUs, "2_hourly")
          .otherwise("3_daily"))
      .withColumn("bucket",
        when(col("age_us") < TierFullUs, col("ts"))
          .when(col("age_us") < TierHourlyUs, date_trunc("hour", col("ts")))
          .otherwise(date_trunc("day", col("ts"))))
      .groupBy(col("tier"), col("bucket"), col("event_type"))
      .agg(count(lit(1)).as("calls"), dsum(col("value")).as("total_value"))
      .orderBy(col("tier"), col("bucket"), col("event_type"))
  }

  private val qanRetentionTieringSql = s"""
    WITH mx AS (SELECT MAX(epoch_us(ts)) AS max_us FROM events),
    aged AS (
      SELECT event_type, value, ts, max_us - epoch_us(ts) AS age_us
      FROM events, mx),
    tiered AS (
      SELECT event_type, value,
        CASE WHEN age_us < $TierFullUs THEN '1_full'
             WHEN age_us < $TierHourlyUs THEN '2_hourly'
             ELSE '3_daily' END AS tier,
        CASE WHEN age_us < $TierFullUs THEN CAST(ts AS TIMESTAMP)
             WHEN age_us < $TierHourlyUs THEN CAST(date_trunc('hour', ts) AS TIMESTAMP)
             ELSE CAST(date_trunc('day', ts) AS TIMESTAMP) END AS bucket
      FROM aged)
    SELECT tier, bucket, event_type, COUNT(*) AS calls,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM tiered
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3"""

  // --------------------------------------------------- qan_server_metadata
  // Server metadata collection (reference docs/TODO.md §4 "Add server
  // metadata collection (version, config details)"): a broadcast-sized
  // instance→(server_version, key config) dimension joined into the
  // fleet view so load regressions can be cut by version — the one §4
  // feature bullet that had no query. The corpus carries no metadata
  // table, so the dim is derived deterministically from the instance id
  // (same documented-scaffold convention as Topology): version cycles
  // through three releases, buffer pool through two sizes; a deployment
  // substitutes the collector's real instance→metadata table, which is
  // broadcast-sized by construction (one row per instance).
  //
  // Output per version × digest: instance/config counts, call volume,
  // exact-decimal value totals, and the version's value-per-call
  // relative to the fleet-wide value-per-call for that digest — a
  // version running a digest >25% hotter than the fleet is flagged.
  //
  // 100 TB shape: per-instance pre-aggregate FIRST (map-side-combined
  // hash aggregate over the scan), so the dim join touches bounded
  // cardinality (instances × event types) — never raw events; both the
  // dim and the per-digest fleet totals are broadcast.
  private val ServerVersions = Seq("8.0.32", "8.0.36", "8.4.2")

  private val qanServerMetadata: Q = (s, d) => {
    val ev = events(s, d)
    // persisted: the bounded per-instance aggregate is the ONLY thing
    // read from the corpus — the dim derivation, the version rollup
    // and the fleet totals all reuse it, so the raw events table is
    // scanned exactly once per run
    val perInst = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("calls"),
        sum(col("value").cast(DecimalType(18, 6))).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dim = perInst.select(col("user_id")).distinct()
      .withColumn("server_version",
        element_at(array(ServerVersions.map(lit): _*),
          (col("user_id") % ServerVersions.size).cast("int") + 1))
      .withColumn("buffer_pool_mb", lit(4096L) * ((col("user_id") % 2) + 1))
    val byVer = perInst.join(broadcast(dim), Seq("user_id"))
      .groupBy(col("server_version"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_instances"),
        countDistinct(col("buffer_pool_mb")).as("n_configs"),
        sum(col("calls")).as("calls"),
        sum(col("v")).as("v"))
    val fleet = byVer.groupBy(col("event_type"))
      .agg((sum(col("v")).cast(DoubleType) / sum(col("calls")).cast(DoubleType))
        .as("fleet_vpc"))
    val vpc = col("v").cast(DoubleType) / col("calls").cast(DoubleType)
    // the reported value per call comes from the EXACT decimal sum and
    // integer count: micro-units rounded half away from zero by integer
    // division, then one correctly rounded division by 1e6. Every step
    // is exact or IEEE-defined, so Spark and the oracle agree on exact
    // halves, where rounding the double quotient splits them (1050.33
    // over 32 calls = 32.8228125: Spark's round gives 32.822813,
    // DuckDB's 32.822812)
    val valuePerCall = (signum(col("v")) *
        expr("(CAST(abs(v) * 1000000 AS BIGINT) * 2 + calls) div (calls * 2)"))
      .cast(DoubleType) / lit(1e6)
    // ANSI double division raises on /0 — an all-zero-value digest has
    // fleet_vpc = 0, so the fleet-relative ratio is NULL there (and
    // the hot flag false), never an error
    val ratio = when(col("fleet_vpc") =!= 0.0, round(vpc / col("fleet_vpc"), 6))
    byVer.join(broadcast(fleet), Seq("event_type"))
      .select(col("server_version"), col("event_type"), col("n_instances"),
        col("n_configs"), col("calls"),
        round(col("v").cast(DoubleType), 4).as("total_value"),
        valuePerCall.as("value_per_call"),
        ratio.as("vs_fleet"),
        coalesce(ratio > 1.25, lit(false)).as("version_hot"))
      .orderBy(col("server_version"), col("event_type"))
  }

  private val qanServerMetadataSql = s"""
    WITH dim AS (
      SELECT DISTINCT user_id,
        (['8.0.32','8.0.36','8.4.2'])[CAST(user_id % 3 AS INTEGER) + 1] AS server_version,
        4096 * (user_id % 2 + 1) AS buffer_pool_mb
      FROM events),
    per_inst AS (
      SELECT user_id, event_type, COUNT(*) AS calls,
        SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY 1, 2),
    by_ver AS (
      SELECT d.server_version, p.event_type,
        COUNT(DISTINCT p.user_id) AS n_instances,
        COUNT(DISTINCT d.buffer_pool_mb) AS n_configs,
        CAST(SUM(p.calls) AS BIGINT) AS calls, SUM(p.v) AS v
      FROM per_inst p JOIN dim d USING (user_id)
      GROUP BY 1, 2),
    fleet AS (
      SELECT event_type,
        CAST(SUM(v) AS DOUBLE) / CAST(SUM(calls) AS DOUBLE) AS fleet_vpc
      FROM by_ver GROUP BY 1)
    SELECT b.server_version, b.event_type, b.n_instances, b.n_configs, b.calls,
      ROUND(CAST(b.v AS DOUBLE), 4) AS total_value,
      CAST(SIGN(b.v) * ((CAST(ABS(b.v) * 1000000 AS BIGINT) * 2 + b.calls)
        // (b.calls * 2)) AS DOUBLE) / 1e6 AS value_per_call,
      CASE WHEN f.fleet_vpc <> 0
        THEN ROUND(CAST(b.v AS DOUBLE) / CAST(b.calls AS DOUBLE) / f.fleet_vpc, 6)
      END AS vs_fleet,
      COALESCE(CASE WHEN f.fleet_vpc <> 0
        THEN ROUND(CAST(b.v AS DOUBLE) / CAST(b.calls AS DOUBLE) / f.fleet_vpc, 6)
      END > 1.25, FALSE) AS version_hot
    FROM by_ver b JOIN fleet f USING (event_type)
    ORDER BY 1, 2"""

  // --------------------------------------------------- qan_tree_rollup
  // Variable-depth hierarchy rollup via WITH RECURSIVE (Spark 4's
  // recursive CTE): instances roll up a parent chain (the synthetic
  // tree is encoded in the id — parent = id div 10, root 0; a
  // production fleet supplies a real parent table), and every
  // ancestor — including purely virtual aggregation nodes — reports
  // its subtree's instance count, call volume and exact-decimal value
  // total. This is the org-chart/resource-accounting shape that flat
  // GROUP BY and fixed-level ROLLUP can't express when depth varies
  // per node. Distributed shape: the recursion's per-iteration work is
  // one join on the frontier (iterations = tree height, ~log n), the
  // ancestor closure is n × height rows, and the final rollup is one
  // hash aggregate over it; the per-instance base aggregate collapses
  // the raw events FIRST so the closure never touches event-grain
  // rows.
  private val qanTreeRollup: Q = (s, d) => {
    // unique per-invocation view name (the st_sink_ pattern): a fixed
    // name would race createOrReplaceTempView across concurrent runs
    // on one session and leak into the catalog afterwards. sql() is
    // analyzed EAGERLY, so the view can be dropped before returning —
    // the returned plan no longer references the catalog entry.
    val view = s"graft_tree_per_inst_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // The recursion ROW guard (spark.sql.cteRecursionRowLimit, default
    // 10⁶) is sized for ad-hoc exploration; this closure is provably
    // ≤ fleet_size × 20 rows (a long id has ≤ 19 DIV-10 ancestors plus
    // the self row) — FLEET-bounded, never event-bounded — so size the
    // guard to the closure's true bound instead of tripping on healthy
    // input (the 100× tiling's ~2M closure rows hit the default: the
    // guard firing on a correct query, found by BENCH_SF10). Sticky on
    // the session by necessity: the conf is read at EXECUTION time,
    // after this builder returns; no other query in the engine uses
    // recursive CTEs, so the raised guard shadows nothing.
    s.conf.set("spark.sql.cteRecursionRowLimit", "2000000000")
    events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("calls"),
        sum(col("value").cast(DecimalType(18, 6))).as("v"))
      .createOrReplaceTempView(view)
    // drop in finally: if sql() throws (analysis error), the UUID view
    // must not leak into the catalog — the exact leak the per-invocation
    // name exists to close
    try {
      s.sql(s"""
        WITH RECURSIVE anc(node, a) AS (
          SELECT user_id, user_id FROM $view
          UNION ALL
          SELECT node, a DIV 10 FROM anc WHERE a > 0)
        SELECT a.a AS ancestor,
          COUNT(*) AS n_instances,
          CAST(SUM(p.calls) AS BIGINT) AS subtree_calls,
          CAST(SUM(p.v) AS DOUBLE) AS subtree_value
        FROM anc a JOIN $view p ON p.user_id = a.node
        GROUP BY a.a
        ORDER BY ancestor""")
    } finally s.catalog.dropTempView(view)
  }

  private val qanTreeRollupSql = """
    WITH RECURSIVE per_inst AS (
      SELECT user_id, COUNT(*) AS calls,
        SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY 1),
    anc(node, a) AS (
      SELECT user_id, user_id FROM per_inst
      UNION ALL
      SELECT node, a // 10 FROM anc WHERE a > 0)
    SELECT a.a AS ancestor,
      COUNT(*) AS n_instances,
      CAST(SUM(p.calls) AS BIGINT) AS subtree_calls,
      CAST(SUM(p.v) AS DOUBLE) AS subtree_value
    FROM anc a JOIN per_inst p ON p.user_id = a.node
    GROUP BY a.a
    ORDER BY ancestor"""

  // ----------------------------------------------- qan_workload_outlier
  // Workload-mix outliers: each instance's per-digest call-count
  // vector compared against the FLEET's aggregate mix by cosine —
  // "which instances run a different workload than the fleet", the
  // signal behind routing/grouping decisions and mis-configured-client
  // hunts. Deliberately O(n): cosine-to-centroid in one scan, bounded
  // bottom-20 (all-pairs instance similarity is the trap at fleet
  // scale). SPARSE form: zeros contribute nothing to a dot product,
  // so the per-instance vector is never materialized — dot = Σ c·f
  // over the digests the instance actually ran (an equi-join between
  // the per-(instance, digest) counts and the broadcast fleet mix),
  // and each norm comes from its own side's aggregate. No
  // |instances|×|digests| grid, no collect_list, no dense arrays — at
  // a 10⁵-digest fleet the dense grid would build 10⁵-element
  // zero-filled vectors per instance purely to feed aligned arrays to
  // a kernel that ignores the zeros. All sums are exact longs
  // (products of counts), so both engines derive bit-identical
  // doubles at the final division.
  private val qanWorkloadOutlier: Q = (s, d) => {
    val ev = events(s, d)
    val counts = ev.groupBy(col("user_id"), col("event_type").as("t"))
      .agg(count(lit(1)).as("c"))
    val fleet = ev.groupBy(col("event_type").as("t")).agg(count(lit(1)).as("f"))
    // one-row broadcast: the fleet vector's squared norm (exact long)
    val fleetNorm = fleet.agg(sum(col("f") * col("f")).as("ssf"))
    counts.join(broadcast(fleet), Seq("t"))
      .groupBy(col("user_id"))
      .agg(sum(col("c") * col("f")).as("dot"),
        sum(col("c") * col("c")).as("ss"),
        sum(col("c")).as("calls"))
      .crossJoin(broadcast(fleetNorm))
      .select(col("user_id"), col("calls"),
        round(col("dot").cast(DoubleType) /
          (sqrt(col("ss").cast(DoubleType)) * sqrt(col("ssf").cast(DoubleType))), 4)
          .as("fleet_cosine"))
      .orderBy(col("fleet_cosine").asc, col("user_id"))
      .limit(20)
  }

  private val qanWorkloadOutlierSql = """
    WITH counts AS (
      SELECT user_id, event_type AS t, COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    fleet AS (
      SELECT event_type AS t, COUNT(*) AS f FROM events GROUP BY 1),
    fnorm AS (SELECT CAST(SUM(f * f) AS BIGINT) AS ssf FROM fleet),
    per_inst AS (
      SELECT c.user_id,
        CAST(SUM(c.c * f.f) AS BIGINT) AS dot,
        CAST(SUM(c.c * c.c) AS BIGINT) AS ss,
        CAST(SUM(c.c) AS BIGINT) AS calls
      FROM counts c JOIN fleet f USING (t)
      GROUP BY 1)
    SELECT user_id, calls,
      ROUND(CAST(dot AS DOUBLE) /
        (sqrt(CAST(ss AS DOUBLE)) * sqrt(CAST(ssf AS DOUBLE))), 4) AS fleet_cosine
    FROM per_inst, fnorm
    ORDER BY fleet_cosine, user_id
    LIMIT 20"""

  val entries: Map[String, Q] = Map(
    "qan_workload_outlier" -> qanWorkloadOutlier,
    "qan_tree_rollup" -> qanTreeRollup,
    "qan_server_metadata" -> qanServerMetadata,
    "qan_cluster_rollup" -> qanClusterRollup,
    "qan_replica_compare" -> qanReplicaCompare,
    "qan_app_metadata" -> qanAppMetadata,
    "qan_sample_controls" -> qanSampleControls,
    "qan_workload_diff" -> qanWorkloadDiff,
    "qan_diff_significance" -> qanDiffSignificance,
    "qan_retention_tiering" -> qanRetentionTiering)

  val oracles: Map[String, String] = Map(
    "qan_workload_outlier" -> qanWorkloadOutlierSql,
    "qan_tree_rollup" -> qanTreeRollupSql,
    "qan_server_metadata" -> qanServerMetadataSql,
    "qan_cluster_rollup" -> qanClusterRollupSql,
    "qan_replica_compare" -> qanReplicaCompareSql,
    "qan_app_metadata" -> qanAppMetadataSql,
    "qan_sample_controls" -> qanSampleControlsSql,
    "qan_workload_diff" -> qanWorkloadDiffSql,
    "qan_diff_significance" -> qanDiffSignificanceSql,
    "qan_retention_tiering" -> qanRetentionTieringSql)
}
