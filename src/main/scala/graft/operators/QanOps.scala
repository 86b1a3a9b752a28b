package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core QAN operators, re-expressed as distributed DataFrame
  * transforms.
  *
  * The reference computes these imperatively on the collector host
  * (Go structs keyed by digest); here each is a declarative plan that
  * shuffles once on the entity key and scales horizontally — the same
  * plan holds whether the log table is 60k rows or 100 TB, because
  * (instance, digest) keys hash-partition uniformly.
  */
object QanOps {

  /** Snapshot→delta with counter-reset handling.
    *
    * Mirrors the reference's `CalculateDeltas`
    * (/root/reference/otel-collector/extension/qanprocessor/mysql/snapshot.go:158):
    * a digest's first observation counts fully; otherwise delta =
    * curr - prev, and if the cumulative counter moved backwards (server
    * restart) the current value IS the delta.
    *
    * Instead of driver-side maps, this is a `lag` window over
    * `partitionBy(keys).orderBy(ord)` — one shuffle, no per-key state
    * on any single node.
    *
    * @param counter cumulative counter column (use an exact type —
    *                decimal — for cross-engine determinism)
    */
  def snapshotDelta(df: DataFrame, keys: Seq[String], ord: Seq[Column],
      counter: Column, out: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val prev = lag(counter, 1).over(w)
    df.withColumn(out,
      when(prev.isNull, counter)
        .when(counter >= prev, counter - prev)
        .otherwise(counter))
  }

  /** Multi-counter snapshot→delta, the full `DeltaResult` shape
    * (mysql/snapshot.go:103–156): per snapshot row, one delta per
    * counter column with the same per-counter reset rule as
    * `calcDelta` (curr >= prev → diff, else curr), stamped with
    * `time_period_secs` — the elapsed seconds since the key's
    * previous snapshot (snapshot.go:166 TimePeriodSecs) — and gated
    * on the count-star delta being positive (snapshot.go:208 skips
    * digests not executed during the interval).
    *
    * `emitFirst = false` reproduces the MySQL collector exactly: a
    * key's first observation emits nothing (`CalculateDeltas` returns
    * nil when prev == nil). `emitFirst = true` is the PostgreSQL
    * collector's rule (postgresql/snapshot.go:199): a query absent
    * from the previous snapshot emits its full values as the delta,
    * UNGATED — the count-star gate applies only to existing queries
    * (snapshot.go:236). The single-counter [[snapshotDelta]] uses the
    * same first-counts-fully shape.
    *
    * Same scale shape as snapshotDelta: one hash shuffle on the keys,
    * all N lags share a single sort — no per-counter pass.
    *
    * @param counters (cumulative column, delta output column) pairs;
    *                 the FIRST pair is the count-star gate
    */
  def snapshotDeltaMulti(df: DataFrame, keys: Seq[String], ord: Seq[Column],
      tsCol: Column, counters: Seq[(String, String)],
      emitFirst: Boolean = false): DataFrame = {
    require(counters.nonEmpty, "need at least the count-star counter")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    // all N+1 lags in ONE projection: a per-counter withColumn fold
    // would leave a Project between each Window node, defeating
    // CollapseWindow — the plan would sort once per counter instead of
    // once total
    val deltaCols = counters.map { case (cum, out) =>
      val prev = lag(col(cum), 1).over(w)
      when(prev.isNull, col(cum))
        .when(col(cum) >= prev, col(cum) - prev)
        .otherwise(col(cum)).as(out)
    }
    val withDeltas = df.select(
      (df.columns.map(col) :+ lag(tsCol, 1).over(w).as("__prev_ts")) ++ deltaCols: _*)
    val firstGated =
      if (emitFirst) withDeltas else withDeltas.filter(col("__prev_ts").isNotNull)
    // the count-star gate applies to EXISTING keys only — a first
    // observation (pg new-query rule) emits unconditionally
    val gate =
      if (emitFirst) col("__prev_ts").isNull || col(counters.head._2) > 0
      else col(counters.head._2) > 0
    firstGated
      .withColumn("time_period_secs",
        (unix_micros(tsCol) - unix_micros(col("__prev_ts"))) / lit(1000000.0))
      .filter(gate)
      .drop("__prev_ts")
  }

  /** Druid-style time rollup
    * (/root/reference/druid-specs/qan_db_ingestion.json: uniform
    * granularity, longSum/doubleSum/max/min metric specs).
    *
    * `truncUnit` is a `date_trunc` unit. Aggregation is hash-based
    * with map-side partial combine; rollup keys (bucket × dims) are
    * high-cardinality so reducers stay balanced at scale.
    */
  def timeRollup(df: DataFrame, tsCol: Column, truncUnit: String,
      dims: Seq[Column], metrics: Seq[Column]): DataFrame =
    df.groupBy((date_trunc(truncUnit, tsCol).as("bucket") +: dims): _*)
      .agg(metrics.head, metrics.tail: _*)

  /** Sequential EWMA fold per key, exactly the reference's
    * `EMA.Update` recurrence (adaptive/governor.go:55): first value
    * initializes, then v += alpha * (x - v).
    *
    * EWMA is inherently order-dependent, so the per-key series is
    * collected to an array (bounded by the retention window per key —
    * this is the batch form; the unbounded-stream form lives in
    * graft.streaming) and folded with the `aggregate` higher-order
    * function — codegen-friendly, no UDF.
    *
    * @param series array column of doubles, already sorted by event time
    */
  def ewmaExpr(series: String, alpha: Double): Column =
    expr(s"aggregate(slice($series, 2, greatest(size($series)-1, 0)), " +
      s"$series[0], (acc, x) -> acc + ${alpha}D * (x - acc))")

  /** Composite load factor, mirroring
    * adaptive/mysql_collector.go:88 `CalculateLoad` ([[Governor.load]]):
    * 0.7 · clamp(running/connected) + 0.3 · clamp(slow/questions).
    */
  def loadFactor(runningRatio: Column, slowRatio: Column): Column =
    least(lit(1.0), runningRatio) * Governor.RunningWeight +
      least(lit(1.0), slowRatio) * Governor.SlowWeight

  /** Governor interval decision (adaptive/governor.go:192
    * `adjustInterval`): critical load → max interval; high load →
    * exponential backoff base·2^(load/0.7 − 1) capped; else base.
    * Returns seconds; the numbers are [[Governor]]'s.
    */
  def governorInterval(fastEma: Column): Column = {
    import Governor._
    when(fastEma > CriticalLoad, lit(MaxIntervalSec))
      .when(fastEma > HighLoad, least(lit(BaseIntervalSec) *
        pow(lit(2.0), fastEma / HighLoad - 1.0), lit(MaxIntervalSec)))
      .otherwise(lit(BaseIntervalSec))
  }
}
