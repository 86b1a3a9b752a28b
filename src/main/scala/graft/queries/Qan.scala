package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables._
import graft.operators.{Governor, QanOps}

/** Block B — the reference's own QAN semantics (SURVEY §2.B), mapped
  * onto the `events` log table: user_id→instance, event_type→statement
  * digest, value→timer-wait metric, ts→__time (SURVEY §3).
  */
object Qan {
  type Q = (SparkSession, String) => DataFrame

  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast(DoubleType)

  /** Cumulative-counter view of `events`: per (instance, digest) the
    * running sum of `value`, resetting each day — a deterministic
    * stand-in for performance_schema's monotonic counters including
    * server-restart resets. Derived, not synthesized: pure window over
    * the driver's table.
    */
  private def snapshots(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), col("event_type"), date_trunc("day", col("ts")))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // pre-partition on (instance, digest): HashPartitioning(u, e)
    // satisfies ClusteredDistribution(u, e, day) for this window AND
    // the downstream delta window on (u, e) — one shuffle for the
    // whole snapshot→delta pipeline instead of two
    events(s, d)
      .repartition(col("user_id"), col("event_type"))
      .withColumn("counter",
        sum(col("value").cast(DecimalType(18, 6))).over(w))
  }

  private val snapshotsSql = """
    SELECT *, SUM(CAST(value AS DECIMAL(18,6))) OVER (
        PARTITION BY user_id, event_type, date_trunc('day', ts)
        ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS counter
    FROM events"""

  // --------------------------------------------------- qan_snapshot_delta
  // The reference's core transform (snapshot.go:158): deltas between
  // successive cumulative snapshots, with counter resets (day
  // boundaries here) yielding the current value as the delta.
  private val qanSnapshotDelta: Q = (s, d) =>
    QanOps.snapshotDelta(snapshots(s, d),
        keys = Seq("user_id", "event_type"),
        ord = Seq(col("ts"), col("event_id")),
        counter = col("counter"), out = "delta")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("delta").cast(DoubleType).as("delta_value"))
      .orderBy(col("event_id"))

  private val qanSnapshotDeltaSql = s"""
    WITH snap AS ($snapshotsSql),
    lagged AS (
      SELECT event_id, user_id, event_type, counter,
        LAG(counter) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
      FROM snap)
    SELECT event_id, user_id, event_type,
      CAST(CASE WHEN prev IS NULL THEN counter
                WHEN counter >= prev THEN counter - prev
                ELSE counter END AS DOUBLE) AS delta_value
    FROM lagged
    ORDER BY event_id"""

  // --------------------------------------------------- qan_rollup_minute
  // Druid-style rollup (qan_db_ingestion.json / metrics_db rollup:
  // sum/max/min at uniform granularity).
  private val qanRollupMinute: Q = (s, d) =>
    QanOps.timeRollup(events(s, d), col("ts"), "minute",
        dims = Seq(col("event_type")),
        metrics = Seq(
          count(lit(1)).as("sum_calls"),
          dsum(col("value")).as("sum_value"),
          max(col("value")).as("max_value"),
          min(col("value")).as("min_value")))
      .orderBy(col("bucket"), col("event_type"))

  private val qanRollupMinuteSql = """
    SELECT date_trunc('minute', ts) AS bucket, event_type,
      COUNT(*) AS sum_calls,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      MAX(value) AS max_value,
      MIN(value) AS min_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  // --------------------------------------------------- qan_top_queries
  // Notebook get_top_queries (02-Query_Analysis.ipynb): top digests by
  // summed metric with per-call average.
  /** The top-queries aggregation, shared by the batch entry and the
    * streaming leaderboard (st_top_queries) — one definition so the
    * two can never drift apart while claiming the same oracle.
    * query_sample: the latest statement body per digest — the
    * notebook's top-queries SELECTs carry query_sample next to every
    * digest ranking (02-Query_Analysis.ipynb).
    */
  private[queries] def topQueriesAgg(ev: DataFrame): DataFrame =
    ev
      .withColumn("sample",
        concat(col("event_type"), lit(" /*"), col("props"), lit("*/")))
      .groupBy(col("event_type"))
      .agg(dsum(col("value")).as("total_value"), count(lit(1)).as("calls"),
        expr("max_by(sample, struct(ts, event_id))").as("query_sample"))

  /** Ranking tail of [[topQueriesAgg]] — applied batch-side, or to
    * the materialized streaming aggregate.
    */
  private[queries] def topQueriesFinish(agg: DataFrame): DataFrame =
    agg
      .withColumn("avg_per_call",
        when(col("calls") > 0, col("total_value") / col("calls")).otherwise(0.0))
      .select(col("event_type"), col("total_value"), col("calls"),
        col("avg_per_call"), col("query_sample"))
      .orderBy(col("total_value").desc, col("event_type"))
      .limit(10)

  private val qanTopQueries: Q = (s, d) =>
    topQueriesFinish(topQueriesAgg(events(s, d)))

  private val qanTopQueriesSql = """
    WITH ranked AS (
      SELECT event_type, value,
        event_type || ' /*' || props || '*/' AS sample,
        ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT event_type,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      COUNT(*) AS calls,
      CASE WHEN COUNT(*) > 0
           THEN CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
           ELSE 0.0 END AS avg_per_call,
      MAX(CASE WHEN rn = 1 THEN sample END) AS query_sample
    FROM ranked
    GROUP BY event_type
    ORDER BY total_value DESC, event_type
    LIMIT 10"""

  // --------------------------------------------------- qan_query_trend
  // Notebook analyze_query_trend: one digest, 5-minute buckets.
  private val qanQueryTrend: Q = (s, d) =>
    events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(timestamp_seconds(floor(unix_timestamp(col("ts")) / 300) * 300).as("time_bucket"))
      .agg(count(lit(1)).as("calls"), dsum(col("value")).as("total_value"))
      .withColumn("avg_per_call", col("total_value") / col("calls"))
      .orderBy(col("time_bucket"))

  private val qanQueryTrendSql = """
    SELECT TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND * CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS time_bucket,
      COUNT(*) AS calls,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_per_call
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY 1"""

  // --------------------------------------------------- qan_multi_metric_rank
  // Notebook get_top_by_multiple_metrics: independent ROW_NUMBER
  // rankings over several metrics, UNION ALL'd with a metric label.
  // Single aggregation pass, stack() unpivot to (metric, value) rows,
  // then the TopKPerGroup operator partitioned by metric — one scan
  // instead of three, and bounded per-group heaps instead of a
  // partition-less global window (which would funnel every digest
  // through one task at scale).
  private val qanMultiMetricRank: Q = (s, d) => {
    val unpivoted = events(s, d)
      .groupBy(col("event_type"))
      .agg(dsum(col("value")).as("exec_time"),
        count(lit(1)).cast(DoubleType).as("calls"),
        max(col("value")).as("max_value"))
      .selectExpr("event_type",
        "stack(3, 'exec_time', exec_time, 'calls', calls, 'max_value', max_value) AS (metric, value)")
    graft.plans.TopK.perGroup(unpivoted, Seq("metric"),
        Seq(("value", true), ("event_type", false)), k = 3, rankName = "rank")
      .select(col("metric"), col("event_type").as("query_id"), col("value"), col("rank"))
      .orderBy(col("metric"), col("rank"))
  }

  private val qanMultiMetricRankSql = """
    WITH agg AS (
      SELECT event_type,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS exec_time,
        CAST(COUNT(*) AS DOUBLE) AS calls,
        MAX(value) AS max_value
      FROM events GROUP BY event_type),
    r AS (
      SELECT 'exec_time' AS metric, event_type AS query_id, exec_time AS value,
        ROW_NUMBER() OVER (ORDER BY exec_time DESC, event_type) AS rank FROM agg
      UNION ALL
      SELECT 'calls', event_type, calls,
        ROW_NUMBER() OVER (ORDER BY calls DESC, event_type) FROM agg
      UNION ALL
      SELECT 'max_value', event_type, max_value,
        ROW_NUMBER() OVER (ORDER BY max_value DESC, event_type) FROM agg)
    SELECT metric, query_id, value, rank FROM r
    WHERE rank <= 3
    ORDER BY metric, rank"""

  // --------------------------------------------------- qan_system_compare
  // Notebook metrics_query: per-system distinct digests, totals and
  // conditional averages. `system` is derived deterministically from
  // the instance id.
  private val qanSystemCompare: Q = (s, d) =>
    events(s, d)
      .withColumn("db_system",
        when(col("user_id") % 2 === 0, "mysql").otherwise("postgresql"))
      .groupBy(col("db_system"))
      .agg(
        countDistinct(col("event_type")).as("unique_queries"),
        count(lit(1)).as("total_executions"),
        dsum(col("value")).as("total_time"))
      .withColumn("avg_execution_time", col("total_time") / col("total_executions"))
      .orderBy(col("db_system"))

  private val qanSystemCompareSql = """
    SELECT CASE WHEN user_id % 2 = 0 THEN 'mysql' ELSE 'postgresql' END AS db_system,
      COUNT(DISTINCT event_type) AS unique_queries,
      COUNT(*) AS total_executions,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_time,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_execution_time
    FROM events
    GROUP BY 1
    ORDER BY 1"""

  // --------------------------------------------------- qan_hit_ratio
  // Notebook buffer-hit-ratio shape (01-Connect_and_Metrics.ipynb):
  // conditional sums per time bucket, then a ratio.
  private val qanHitRatio: Q = (s, d) =>
    events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("hits"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("reads"))
      .withColumn("hit_ratio",
        when(col("hits") + col("reads") > 0,
          col("hits").cast(DoubleType) / (col("hits") + col("reads")).cast(DoubleType)))
      .orderBy(col("bucket"))

  // DuckDB integer SUM yields HUGEINT; the driver's hash is
  // type-sensitive, so cast to BIGINT to match Spark's LongType.
  private val qanHitRatioSql = """
    SELECT date_trunc('hour', ts) AS bucket,
      CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS hits,
      CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS reads,
      CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              + SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
           THEN CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   + SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE)
      END AS hit_ratio
    FROM events
    GROUP BY 1
    ORDER BY 1"""

  // --------------------------------------------------- qan_rate
  // CalculateDiff rates (adaptive/mysql_collector.go): QPS =
  // count / elapsed over each (instance, day) window, elapsed from
  // exact microsecond timestamps.
  private val qanRate: Q = (s, d) =>
    events(s, d)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("elapsed_us"))
      .withColumn("qps",
        when(col("elapsed_us") > 0,
          col("n_events").cast(DoubleType) * 1000000.0 / col("elapsed_us").cast(DoubleType)))
      .orderBy(col("user_id"), col("day"))

  private val qanRateSql = """
    SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      COUNT(*) AS n_events,
      MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS elapsed_us,
      CASE WHEN MAX(epoch_us(ts)) - MIN(epoch_us(ts)) > 0
           THEN CAST(COUNT(*) AS DOUBLE) * 1000000.0
              / CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE)
      END AS qps
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  // --------------------------------------------------- qan_load_factor
  // CalculateLoad composite (adaptive/mysql_collector.go:88):
  // 0.7·clamp(running/connected) + 0.3·clamp(slow/questions), with
  // error events as "running threads" and purchases as "slow queries".
  private def loadPerDay(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("total"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("slow"))
      .withColumn("load_factor", QanOps.loadFactor(
        col("errors").cast(DoubleType) / col("total").cast(DoubleType),
        col("slow").cast(DoubleType) / col("total").cast(DoubleType)))

  private val loadPerDaySql = s"""
    SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      COUNT(*) AS total,
      CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS slow,
      LEAST(1.0, CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * ${Governor.RunningWeight}
      + LEAST(1.0, CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * ${Governor.SlowWeight}
        AS load_factor
    FROM events
    GROUP BY 1, 2"""

  private val qanLoadFactor: Q = (s, d) =>
    loadPerDay(s, d).orderBy(col("user_id"), col("day"))

  private val qanLoadFactorSql =
    s"$loadPerDaySql\n    ORDER BY 1, 2"

  // --------------------------------------------------- qan_ewma
  // Governor EMAs (adaptive/governor.go:55): fast α=0.3 and slow
  // α=0.05 folds over each instance's daily load series, in event-time
  // order — the exact recurrence, not an approximation.
  private val qanEwma: Q = (s, d) =>
    loadPerDay(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        array_sort(collect_list(struct(col("day"), col("load_factor")))).as("series"))
      .withColumn("loads", expr("transform(series, x -> x.load_factor)"))
      .withColumn("fast_ema", QanOps.ewmaExpr("loads", Governor.FastAlpha))
      .withColumn("slow_ema", QanOps.ewmaExpr("loads", Governor.SlowAlpha))
      .select(col("user_id"), col("n_days"), col("fast_ema"), col("slow_ema"))
      .orderBy(col("user_id"))

  private val qanEwmaSql = s"""
    WITH load AS ($loadPerDaySql)
    SELECT user_id, COUNT(*) AS n_days,
      list_reduce(list(load_factor ORDER BY day), (acc, x) -> acc + ${Governor.FastAlpha} * (x - acc)) AS fast_ema,
      list_reduce(list(load_factor ORDER BY day), (acc, x) -> acc + ${Governor.SlowAlpha} * (x - acc)) AS slow_ema
    FROM load
    GROUP BY user_id
    ORDER BY user_id"""

  // --------------------------------------------------- qan_governor_interval
  // adjustInterval thresholds (governor.go:192). Loads in this data
  // sit around 0.2, so a documented ×4 stress factor exercises the
  // high-load backoff branch; rounded to 6dp to absorb pow() ulp
  // differences across engines.
  private val qanGovernorInterval: Q = (s, d) =>
    loadPerDay(s, d)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("day"), col("load_factor")))).as("series"))
      .withColumn("loads", expr("transform(series, x -> least(1.0D, x.load_factor * 4.0D))"))
      .withColumn("fast_ema", QanOps.ewmaExpr("loads", Governor.FastAlpha))
      .select(
        col("user_id"),
        round(col("fast_ema"), 6).as("fast_ema"),
        round(QanOps.governorInterval(col("fast_ema")), 6).as("interval_s"),
        when(col("fast_ema") > Governor.CriticalLoad, "critical")
          .when(col("fast_ema") > Governor.HighLoad, "high")
          .otherwise("normal").as("load_state"))
      .orderBy(col("user_id"))

  private val qanGovernorIntervalSql = {
    import Governor._
    s"""
    WITH load AS ($loadPerDaySql),
    ema AS (
      SELECT user_id,
        list_reduce(list(LEAST(1.0, load_factor * 4.0) ORDER BY day),
                    (acc, x) -> acc + $FastAlpha * (x - acc)) AS fast_ema
      FROM load GROUP BY user_id)
    SELECT user_id, ROUND(fast_ema, 6) AS fast_ema,
      ROUND(CASE WHEN fast_ema > $CriticalLoad THEN $MaxIntervalSec
                 WHEN fast_ema > $HighLoad THEN LEAST($BaseIntervalSec * POW(2.0, fast_ema / $HighLoad - 1.0), $MaxIntervalSec)
                 ELSE $BaseIntervalSec END, 6) AS interval_s,
      CASE WHEN fast_ema > $CriticalLoad THEN 'critical'
           WHEN fast_ema > $HighLoad THEN 'high'
           ELSE 'normal' END AS load_state
    FROM ema
    ORDER BY user_id"""
  }

  // --------------------------------------------------- qan_otel_export
  // The reference's log-emission shape (mysql/collector.go:208
  // deltaToLogs): one OTel log record per positive digest delta.
  private val qanOtelExport: Q = (s, d) =>
    otelRecords(s, d)
      .orderBy(col("timestamp"), col("resource_instance_id"), col("db_statement_digest"))

  private val qanOtelExportSql = s"""
    WITH snap AS ($snapshotsSql),
    lagged AS (
      SELECT event_id, user_id, event_type, ts, counter,
        LAG(counter) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
      FROM snap),
    deltas AS (
      SELECT event_id, user_id, event_type, ts,
        CAST(CASE WHEN prev IS NULL THEN counter
                  WHEN counter >= prev THEN counter - prev
                  ELSE counter END AS DOUBLE) AS delta_value
      FROM lagged)
    SELECT ts AS timestamp,
      'INFO' AS severity_text,
      'graft' AS service_name,
      CASE WHEN user_id % 2 = 0 THEN 'mysql' ELSE 'postgresql' END AS db_system,
      'instance-' || user_id AS resource_instance_id,
      event_type AS db_statement_digest,
      event_type AS body,
      delta_value
    FROM deltas
    WHERE delta_value > 0
    ORDER BY timestamp, resource_instance_id, db_statement_digest"""

  // ------------------------------------------------ qan_otel_roundtrip
  // The full pipeline the reference runs: deltas → OTel log records →
  // JSON wire → import → analytics rollup (collector.go:208 emits, the
  // Druid side consumes). Export and import both go through the real
  // file-backed JSON source (partition-parallel, schema pinned, no
  // driver involvement); the oracle aggregates the same deltas
  // directly, so any loss in the wire format (timestamps, doubles,
  // encodings) breaks the hash.
  /** This sf's deltas flattened to OTel log records (no filesystem
    * side effects — the wire dir lives in [[otelWireDir]]). */
  private def otelRecords(s: SparkSession, d: String): DataFrame = {
    val deltas = QanOps.snapshotDelta(snapshots(s, d),
        keys = Seq("user_id", "event_type"),
        ord = Seq(col("ts"), col("event_id")),
        counter = col("counter"), out = "delta")
      .withColumn("delta_value", col("delta").cast(DoubleType))
    graft.sources.OtelLogs.toLogRecords(deltas)
  }

  /** Export this sf's records to a run-unique OTel wire dir: a fixed
    * hash-derived path races when two harnesses (Verify + Bench,
    * parallel specs) evaluate concurrently — one run's
    * delete/overwrite corrupts the other's read. The read is lazy, so
    * the dir must outlive the query call — it is removed at JVM exit
    * (shutdown hook), and dirs orphaned by killed JVMs are swept on
    * the next invocation once they are clearly stale.
    */
  private def otelWireDir(s: SparkSession, d: String): String = {
    val tmp = System.getProperty("java.io.tmpdir", "/tmp")
    sweepStaleWireDirs(new java.io.File(tmp))
    val path = graft.operators.Scratch.deleteAtExit(s"$tmp/graft_otel_roundtrip_" +
      java.util.UUID.randomUUID.toString.take(8))
    graft.sources.OtelLogs.writeJson(otelRecords(s, d), path)
    path
  }

  private val qanOtelRoundtrip: Q = (s, d) =>
    graft.sources.OtelLogs.readJson(s, otelWireDir(s, d))
      .groupBy(col("db_system"), col("resource_instance_id"),
        col("db_statement_digest"))
      .agg(count(lit(1)).as("n_records"),
        dsum(col("delta_value")).as("sum_delta"),
        min(col("timestamp")).as("first_seen"),
        max(col("timestamp")).as("last_seen"))
      .orderBy(col("db_system"), col("resource_instance_id"),
        col("db_statement_digest"))

  /** Sweep wire dirs orphaned by killed JVMs (shutdown hooks never ran).
    * Only dirs stale by more than six hours are touched — longer than
    * any harness run, so a concurrent run's dir is never swept even if
    * its lazy read or a task retry lands hours after the dir was
    * written.
    */
  private def sweepStaleWireDirs(tmp: java.io.File): Unit = {
    val cutoff = System.currentTimeMillis() - 6L * 60 * 60 * 1000
    val kids = tmp.listFiles()
    if (kids != null) kids.foreach { f =>
      if (f.isDirectory && f.getName.startsWith("graft_otel_roundtrip_") &&
          f.lastModified() < cutoff)
        graft.operators.Scratch.deleteTree(f)
    }
  }

  private val qanOtelRoundtripSql = s"""
    WITH snap AS ($snapshotsSql),
    lagged AS (
      SELECT event_id, user_id, event_type, ts, counter,
        LAG(counter) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
      FROM snap),
    deltas AS (
      SELECT user_id, event_type, ts,
        CAST(CASE WHEN prev IS NULL THEN counter
                  WHEN counter >= prev THEN counter - prev
                  ELSE counter END AS DOUBLE) AS delta_value
      FROM lagged)
    SELECT CASE WHEN user_id % 2 = 0 THEN 'mysql' ELSE 'postgresql' END AS db_system,
      'instance-' || user_id AS resource_instance_id,
      event_type AS db_statement_digest,
      COUNT(*) AS n_records,
      CAST(SUM(CAST(delta_value AS DECIMAL(18,6))) AS DOUBLE) AS sum_delta,
      MIN(ts) AS first_seen,
      MAX(ts) AS last_seen
    FROM deltas
    WHERE delta_value > 0
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3"""

  // ------------------------------------------------ qan_latest_metric
  // Druid SQL's LATEST/EARLIEST time-aware aggregates: per instance,
  // the metric value at the max/min event time. max_by/min_by over a
  // (ts, event_id) struct — single hash aggregation with map-side
  // partials, deterministic because the key is unique per instance.
  private val qanLatestMetric: Q = (s, d) =>
    events(s, d)
      .groupBy(col("user_id"))
      .agg(
        expr("max_by(value, struct(ts, event_id))").as("latest_value"),
        expr("min_by(value, struct(ts, event_id))").as("earliest_value"),
        max(col("ts")).as("latest_ts"),
        min(col("ts")).as("earliest_ts"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  private val qanLatestMetricSql = """
    WITH ranked AS (
      SELECT user_id, value, ts,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_l,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_e
      FROM events)
    SELECT user_id,
      MAX(CASE WHEN rn_l = 1 THEN value END) AS latest_value,
      MAX(CASE WHEN rn_e = 1 THEN value END) AS earliest_value,
      MAX(ts) AS latest_ts,
      MIN(ts) AS earliest_ts,
      COUNT(*) AS n_events
    FROM ranked
    GROUP BY 1
    ORDER BY 1"""

  // --------------------------------------------------- qan_skew_join
  // Fact-fact join through the two-phase skew join (SkewJoin
  // .saltedInner): hot instances are detected by a count aggregate and
  // ONLY their rows are salted/replicated over `buckets` reducers; the
  // cold remainder joins plainly, so build-side replication is bounded
  // by the hot keys' rows, not buckets × |build|. The transform never
  // changes the joined multiset, so the oracle is the plain inner join
  // — which is exactly the point: same answer, bounded reducer.
  private val qanSkewJoin: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"), col("value"))
    val ot = orders(s, d).select(col("o_custkey").as("user_id"), col("o_totalprice"))
    graft.operators.SkewJoin.saltedInner(ev, ot, "user_id", buckets = 8)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        dsum(col("value")).as("sum_value"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("user_id"))
  }

  private val qanSkewJoinSql = """
    SELECT e.user_id, COUNT(*) AS n_pairs,
      CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM events e JOIN orders o ON o.o_custkey = e.user_id
    GROUP BY 1
    ORDER BY 1"""

  // ------------------------------------------- qan_multi_counter_delta
  // The reference's delta record carries ~13 counters, not one
  // (mysql/snapshot.go:103–156 DeltaResult). Multi-counter cumulative
  // view of `events`: per (instance, digest), day-resetting running
  // sums of four derived measures standing in for count_star,
  // timer_wait, rows_examined and errors. The delta query applies the
  // reference semantics exactly: per-counter reset handling,
  // TimePeriodSecs, nothing for a key's first snapshot, and digests
  // with a zero count-star delta skipped (snapshot.go:208).
  private def multiSnapshots(s: SparkSession, d: String): DataFrame = {
    val wDay = Window
      .partitionBy(col("user_id"), col("event_type"), date_trunc("day", col("ts")))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one projection for all four cumulative sums (single Window node)
    // and a pre-partition on (instance, digest) that satisfies both
    // this day-grained window and the downstream delta lags — the
    // whole multi-counter pipeline runs on one shuffle (PlanSpec-
    // asserted in QanOpsSpec)
    events(s, d)
      .repartition(col("user_id"), col("event_type"))
      .withColumn("label_k",
        nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1), lit("")).cast("long"))
      // the Druid ingestion dims carry sample/schema next to
      // instance/digest (druid-specs/qan_db_ingestion.json): a
      // representative statement body per digest and the logical
      // schema. Both derived deterministically from the log row.
      .withColumn("sample",
        concat(col("event_type"), lit(" /*"), col("props"), lit("*/")))
      .withColumn("schema_name",
        concat(lit("db_"), pmod(col("user_id"), lit(4)).cast("string")))
      .select(col("*"),
        sum(when(col("value") >= 10.0, 1L).otherwise(0L)).over(wDay).as("cum_calls"),
        sum(col("value").cast(DecimalType(18, 6))).over(wDay).as("cum_timer"),
        sum(col("label_k")).over(wDay).as("cum_rows"),
        sum(when(col("label_k") % 7 === 0, 1L).otherwise(0L)).over(wDay).as("cum_errors"))
  }

  private val multiSnapshotsSql = """
    SELECT *,
      CAST(SUM(CASE WHEN value >= 10.0 THEN 1 ELSE 0 END) OVER wd AS BIGINT) AS cum_calls,
      SUM(CAST(value AS DECIMAL(18,6))) OVER wd AS cum_timer,
      CAST(SUM(label_k) OVER wd AS BIGINT) AS cum_rows,
      CAST(SUM(CASE WHEN label_k % 7 = 0 THEN 1 ELSE 0 END) OVER wd AS BIGINT) AS cum_errors
    FROM (SELECT event_id, user_id, event_type, ts, value,
            CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) AS label_k,
            event_type || ' /*' || props || '*/' AS sample,
            'db_' || (user_id % 4) AS schema_name
          FROM events)
    WINDOW wd AS (PARTITION BY user_id, event_type, date_trunc('day', ts)
                  ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""

  private val qanMultiCounterDelta: Q = (s, d) =>
    QanOps.snapshotDeltaMulti(multiSnapshots(s, d),
        keys = Seq("user_id", "event_type"),
        ord = Seq(col("ts"), col("event_id")),
        tsCol = col("ts"),
        counters = Seq(
          "cum_calls" -> "d_calls",
          "cum_timer" -> "d_timer",
          "cum_rows" -> "d_rows",
          "cum_errors" -> "d_errors"),
        emitFirst = false)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("time_period_secs"), col("d_calls"),
        col("d_timer").cast(DoubleType).as("d_timer"),
        col("d_rows"), col("d_errors"))
      .orderBy(col("event_id"))

  private val qanMultiCounterDeltaSql = s"""
    WITH snap AS ($multiSnapshotsSql),
    lagged AS (
      SELECT *,
        LAG(ts) OVER wk AS prev_ts,
        LAG(cum_calls) OVER wk AS p_calls,
        LAG(cum_timer) OVER wk AS p_timer,
        LAG(cum_rows) OVER wk AS p_rows,
        LAG(cum_errors) OVER wk AS p_errors
      FROM snap
      WINDOW wk AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)),
    deltas AS (
      SELECT event_id, user_id, event_type,
        (epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0 AS time_period_secs,
        CASE WHEN cum_calls >= p_calls THEN cum_calls - p_calls ELSE cum_calls END AS d_calls,
        CAST(CASE WHEN cum_timer >= p_timer THEN cum_timer - p_timer ELSE cum_timer END AS DOUBLE) AS d_timer,
        CASE WHEN cum_rows >= p_rows THEN cum_rows - p_rows ELSE cum_rows END AS d_rows,
        CASE WHEN cum_errors >= p_errors THEN cum_errors - p_errors ELSE cum_errors END AS d_errors
      FROM lagged
      WHERE prev_ts IS NOT NULL)
    SELECT * FROM deltas
    WHERE d_calls > 0
    ORDER BY event_id"""

  // ------------------------------------------ qan_multi_counter_rollup
  // The Druid ingestion rollup over the multi-counter deltas
  // (druid-specs/qan_db_ingestion.json metricsSpec: named longSum /
  // doubleSum per counter; dims include instance and digest).
  private val qanMultiCounterRollup: Q = (s, d) =>
    QanOps.snapshotDeltaMulti(multiSnapshots(s, d),
        keys = Seq("user_id", "event_type"),
        ord = Seq(col("ts"), col("event_id")),
        tsCol = col("ts"),
        counters = Seq(
          "cum_calls" -> "d_calls",
          "cum_timer" -> "d_timer",
          "cum_rows" -> "d_rows",
          "cum_errors" -> "d_errors"),
        emitFirst = false)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"),
        col("user_id"), col("event_type"), col("schema_name"))
      .agg(
        sum(col("d_calls")).as("sum_calls"),
        sum(col("d_timer")).cast(DoubleType).as("sum_total_exec_time"),
        sum(col("d_rows")).as("sum_rows_examined"),
        sum(col("d_errors")).as("sum_errors"),
        dsum(col("time_period_secs")).as("sum_period_secs"),
        // the representative statement body per digest — latest sample
        // wins, Druid's sample-dim semantics (02-Query_Analysis
        // notebook carries query_sample next to every digest ranking)
        expr("max_by(sample, struct(ts, event_id))").as("query_sample"))
      .orderBy(col("bucket"), col("user_id"), col("event_type"))

  private val qanMultiCounterRollupSql = s"""
    WITH snap AS ($multiSnapshotsSql),
    lagged AS (
      SELECT *,
        LAG(ts) OVER wk AS prev_ts,
        LAG(cum_calls) OVER wk AS p_calls,
        LAG(cum_timer) OVER wk AS p_timer,
        LAG(cum_rows) OVER wk AS p_rows,
        LAG(cum_errors) OVER wk AS p_errors
      FROM snap
      WINDOW wk AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)),
    deltas AS (
      SELECT event_id, user_id, event_type, ts, sample, schema_name,
        (epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0 AS time_period_secs,
        CASE WHEN cum_calls >= p_calls THEN cum_calls - p_calls ELSE cum_calls END AS d_calls,
        CASE WHEN cum_timer >= p_timer THEN cum_timer - p_timer ELSE cum_timer END AS d_timer,
        CASE WHEN cum_rows >= p_rows THEN cum_rows - p_rows ELSE cum_rows END AS d_rows,
        CASE WHEN cum_errors >= p_errors THEN cum_errors - p_errors ELSE cum_errors END AS d_errors
      FROM lagged
      WHERE prev_ts IS NOT NULL),
    ranked AS (
      SELECT *,
        ROW_NUMBER() OVER (
          PARTITION BY date_trunc('hour', ts), user_id, event_type
          ORDER BY ts DESC, event_id DESC) AS rn
      FROM deltas
      WHERE d_calls > 0)
    SELECT date_trunc('hour', ts) AS bucket, user_id, event_type, schema_name,
      CAST(SUM(d_calls) AS BIGINT) AS sum_calls,
      CAST(SUM(d_timer) AS DOUBLE) AS sum_total_exec_time,
      CAST(SUM(d_rows) AS BIGINT) AS sum_rows_examined,
      CAST(SUM(d_errors) AS BIGINT) AS sum_errors,
      CAST(SUM(CAST(time_period_secs AS DECIMAL(18,6))) AS DOUBLE) AS sum_period_secs,
      MAX(CASE WHEN rn = 1 THEN sample END) AS query_sample
    FROM ranked
    GROUP BY 1, 2, 3, 4
    ORDER BY 1, 2, 3"""

  // ------------------------------------------------- qan_pg_block_stats
  // The PostgreSQL collector path (postgresql/collector.go:112 reads
  // pg_stat_statements; postgresql/snapshot.go:183 CalculateDeltas):
  // same delta algebra as MySQL but with the pg counter set
  // (calls, shared_blks_hit/read, total_exec_time) and the pg
  // first-observation rule — a query new to the snapshot emits its
  // full values UNGATED (emitFirst = true), while existing queries
  // gate on delta-calls > 0. Rolled up to the per-digest buffer
  // hit-ratio, the headline pg_stat_statements analytic.
  private def pgSnapshots(s: SparkSession, d: String): DataFrame = {
    val wDay = Window
      .partitionBy(col("user_id"), col("event_type"), date_trunc("day", col("ts")))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .repartition(col("user_id"), col("event_type"))
      .withColumn("label_k",
        nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1), lit("")).cast("long"))
      .select(col("*"),
        sum(when(col("value") >= 10.0, 1L).otherwise(0L)).over(wDay).as("cum_calls"),
        sum(col("label_k")).over(wDay).as("cum_blks_hit"),
        sum(col("label_k") % 5).over(wDay).as("cum_blks_read"),
        sum(col("value").cast(DecimalType(18, 6))).over(wDay).as("cum_exec_time"))
  }

  private val pgSnapshotsSql = """
    SELECT *,
      CAST(SUM(CASE WHEN value >= 10.0 THEN 1 ELSE 0 END) OVER wd AS BIGINT) AS cum_calls,
      CAST(SUM(label_k) OVER wd AS BIGINT) AS cum_blks_hit,
      CAST(SUM(label_k % 5) OVER wd AS BIGINT) AS cum_blks_read,
      SUM(CAST(value AS DECIMAL(18,6))) OVER wd AS cum_exec_time
    FROM (SELECT event_id, user_id, event_type, ts, value,
            CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) AS label_k
          FROM events)
    WINDOW wd AS (PARTITION BY user_id, event_type, date_trunc('day', ts)
                  ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""

  private val qanPgBlockStats: Q = (s, d) =>
    QanOps.snapshotDeltaMulti(pgSnapshots(s, d),
        keys = Seq("user_id", "event_type"),
        ord = Seq(col("ts"), col("event_id")),
        tsCol = col("ts"),
        counters = Seq(
          "cum_calls" -> "d_calls",
          "cum_blks_hit" -> "d_blks_hit",
          "cum_blks_read" -> "d_blks_read",
          "cum_exec_time" -> "d_exec_time"),
        emitFirst = true)
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        sum(col("d_calls")).as("calls"),
        sum(col("d_blks_hit")).as("shared_blks_hit"),
        sum(col("d_blks_read")).as("shared_blks_read"),
        sum(col("d_exec_time")).cast(DoubleType).as("total_exec_time"))
      .withColumn("hit_ratio",
        when(col("shared_blks_hit") + col("shared_blks_read") > 0,
          col("shared_blks_hit").cast(DoubleType) /
            (col("shared_blks_hit") + col("shared_blks_read")).cast(DoubleType)))
      .orderBy(col("user_id"), col("event_type"))

  private val qanPgBlockStatsSql = s"""
    WITH snap AS ($pgSnapshotsSql),
    lagged AS (
      SELECT *,
        LAG(ts) OVER wk AS prev_ts,
        LAG(cum_calls) OVER wk AS p_calls,
        LAG(cum_blks_hit) OVER wk AS p_hit,
        LAG(cum_blks_read) OVER wk AS p_read,
        LAG(cum_exec_time) OVER wk AS p_exec
      FROM snap
      WINDOW wk AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)),
    deltas AS (
      SELECT user_id, event_type,
        CASE WHEN prev_ts IS NULL THEN cum_calls
             WHEN cum_calls >= p_calls THEN cum_calls - p_calls ELSE cum_calls END AS d_calls,
        CASE WHEN prev_ts IS NULL THEN cum_blks_hit
             WHEN cum_blks_hit >= p_hit THEN cum_blks_hit - p_hit ELSE cum_blks_hit END AS d_blks_hit,
        CASE WHEN prev_ts IS NULL THEN cum_blks_read
             WHEN cum_blks_read >= p_read THEN cum_blks_read - p_read ELSE cum_blks_read END AS d_blks_read,
        CASE WHEN prev_ts IS NULL THEN cum_exec_time
             WHEN cum_exec_time >= p_exec THEN cum_exec_time - p_exec ELSE cum_exec_time END AS d_exec_time,
        prev_ts
      FROM lagged)
    SELECT user_id, event_type,
      CAST(SUM(d_calls) AS BIGINT) AS calls,
      CAST(SUM(d_blks_hit) AS BIGINT) AS shared_blks_hit,
      CAST(SUM(d_blks_read) AS BIGINT) AS shared_blks_read,
      CAST(SUM(d_exec_time) AS DOUBLE) AS total_exec_time,
      CASE WHEN SUM(d_blks_hit) + SUM(d_blks_read) > 0
           THEN CAST(SUM(d_blks_hit) AS DOUBLE)
              / CAST(SUM(d_blks_hit) + SUM(d_blks_read) AS DOUBLE)
      END AS hit_ratio
    FROM deltas
    WHERE prev_ts IS NULL OR d_calls > 0
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  // ------------------------------------------- qan_digest_normalize
  // Statement fingerprinting — the step BEFORE everything else in the
  // QAN pipeline when digests aren't precomputed by the database
  // (performance_schema / pg_stat_statements hand the reference a
  // ready Digest, snapshot.go:13; raw general/slow logs don't):
  // strip literals to '?', collapse whitespace, hash the normalized
  // form, and roll up per digest. Pure regexp projection + one
  // hash-aggregate — codegen end to end, no UDF. The corpus has no
  // raw SQL, so statements are synthesized deterministically from
  // events (literal values vary per row; the shape per event_type) —
  // documented scaffolding, identical on the oracle side, which is
  // exactly what lets the gate prove variants collapse to one digest.
  private val qanDigestNormalize: Q = (s, d) =>
    events(s, d)
      .withColumn("k", nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1), lit("")).cast("long"))
      .withColumn("raw_sql", concat(
        lit("SELECT * FROM "), col("event_type"), lit("s  WHERE id = "), col("k"),
        lit(" AND tag = 'u"), col("user_id") % 10, lit("'"),
        when(col("k") % 3 === 0, lit("   ORDER BY  ts")).otherwise(lit(""))))
      .withColumn("norm_text",
        trim(regexp_replace(regexp_replace(regexp_replace(lower(col("raw_sql")),
          "'[^']*'", "?"), "\\b[0-9]+\\b", "?"), "\\s+", " ")))
      .withColumn("digest", substring(md5(col("norm_text")), 1, 16))
      .groupBy(col("digest"), col("norm_text"))
      .agg(count(lit(1)).as("n_statements"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("raw_sql")).as("sample_sql"))
      .orderBy(col("digest"))

  private val qanDigestNormalizeSql = """
    WITH raw AS (
      SELECT user_id,
        'SELECT * FROM ' || event_type || 's  WHERE id = '
          || CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT)
          || ' AND tag = ''u' || (user_id % 10) || ''''
          || CASE WHEN CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) % 3 = 0
                  THEN '   ORDER BY  ts' ELSE '' END AS raw_sql
      FROM events),
    norm AS (
      SELECT user_id, raw_sql,
        trim(regexp_replace(regexp_replace(regexp_replace(lower(raw_sql),
          '''[^'']*''', '?', 'g'), '\b[0-9]+\b', '?', 'g'), '\s+', ' ', 'g')) AS norm_text
      FROM raw)
    SELECT substr(md5(norm_text), 1, 16) AS digest, norm_text,
      COUNT(*) AS n_statements,
      COUNT(DISTINCT user_id) AS n_users,
      MIN(raw_sql) AS sample_sql
    FROM norm
    GROUP BY 1, 2
    ORDER BY 1"""

  val entries: Map[String, Q] = Map(
    "qan_digest_normalize" -> qanDigestNormalize,
    "qan_pg_block_stats" -> qanPgBlockStats,
    "qan_latest_metric" -> qanLatestMetric,
    "qan_skew_join" -> qanSkewJoin,
    "qan_multi_counter_delta" -> qanMultiCounterDelta,
    "qan_multi_counter_rollup" -> qanMultiCounterRollup,
    "qan_otel_export" -> qanOtelExport,
    "qan_otel_roundtrip" -> qanOtelRoundtrip,
    "qan_snapshot_delta" -> qanSnapshotDelta,
    "qan_rollup_minute" -> qanRollupMinute,
    "qan_top_queries" -> qanTopQueries,
    "qan_query_trend" -> qanQueryTrend,
    "qan_multi_metric_rank" -> qanMultiMetricRank,
    "qan_system_compare" -> qanSystemCompare,
    "qan_hit_ratio" -> qanHitRatio,
    "qan_rate" -> qanRate,
    "qan_load_factor" -> qanLoadFactor,
    "qan_ewma" -> qanEwma,
    "qan_governor_interval" -> qanGovernorInterval)

  val oracles: Map[String, String] = Map(
    "qan_digest_normalize" -> qanDigestNormalizeSql,
    "qan_pg_block_stats" -> qanPgBlockStatsSql,
    "qan_latest_metric" -> qanLatestMetricSql,
    "qan_skew_join" -> qanSkewJoinSql,
    "qan_multi_counter_delta" -> qanMultiCounterDeltaSql,
    "qan_multi_counter_rollup" -> qanMultiCounterRollupSql,
    "qan_otel_export" -> qanOtelExportSql,
    "qan_otel_roundtrip" -> qanOtelRoundtripSql,
    "qan_snapshot_delta" -> qanSnapshotDeltaSql,
    "qan_rollup_minute" -> qanRollupMinuteSql,
    "qan_top_queries" -> qanTopQueriesSql,
    "qan_query_trend" -> qanQueryTrendSql,
    "qan_multi_metric_rank" -> qanMultiMetricRankSql,
    "qan_system_compare" -> qanSystemCompareSql,
    "qan_hit_ratio" -> qanHitRatioSql,
    "qan_rate" -> qanRateSql,
    "qan_load_factor" -> qanLoadFactorSql,
    "qan_ewma" -> qanEwmaSql,
    "qan_governor_interval" -> qanGovernorIntervalSql)
}
