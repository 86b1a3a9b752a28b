package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.PollingSource
import graft.streaming.QanStream

/** Gate-verified end-to-end run of the polling ingestion path
  * (sources.PollingSource): the reference's collector loop — poll a
  * cumulative-counter table on a ticker, stage, delta
  * (mysql/collector.go:123) — exercised against the events table with
  * one poll per calendar day standing in for one ticker tick.
  */
object Polling {
  type Q = (SparkSession, String) => DataFrame

  // Each "poll" reads the statements table as-of one day: per
  // (instance, digest) the day's cumulative timer (counters reset
  // daily — the restart case CalculateDeltas must absorb). A live
  // deployment runs the per-tick loop (PollingSource.pollToStaging,
  // driven in PollingSpec); this gate entry REPLAYS the whole poll
  // history in one batched staging write — one aggregation job
  // instead of one scan per calendar day — and then drains the staged
  // polls through exactly the same stream.
  private val qanPollDelta: Q = (s, d) => {
    import s.implicits._
    // the result reads `out` lazily: all three go at JVM exit
    def scratch(tag: String) = graft.operators.Scratch.deleteAtExit(
      Files.createTempDirectory(tag).toString)
    val (staging, ckpt, out) =
      (scratch("graft_pollq_staging"), scratch("graft_pollq_ckpt"), scratch("graft_pollq_out"))
    graft.Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("value").cast(DecimalType(18, 6))).as("counter"))
      .withColumn("poll_index", (unix_micros(col("day")) / 86400000000L).cast("long"))
      .withColumn("poll_ts", unix_micros(col("day")))
      .drop("day")
      .write.mode("overwrite").parquet(staging)
    val schema = s.read.parquet(staging).schema
    val feed = PollingSource.stagedStream(s, staging, schema)
      .select(col("poll_index").as("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(col("poll_ts")).as("ts"),
        col("counter").cast(DecimalType(38, 18)).as("counter"))
      .as[QanStream.CounterEvent]
    PollingSource.drainAvailableNow(QanStream.deltaStream(feed).toDF(), out, ckpt)
    s.read.parquet(out)
      .select(col("user_id"), col("event_type"),
        timestamp_seconds(col("event_id") * 86400L).as("day"),
        col("delta_value"))
      .orderBy(col("user_id"), col("event_type"), col("day"))
  }

  // The polled counters are the daily decimal sums, so the whole
  // poll→delta pipeline replays as a lag over per-day aggregates.
  private val qanPollDeltaSql = """
    WITH daily AS (
      SELECT user_id, event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        SUM(CAST(value AS DECIMAL(18,6))) AS counter
      FROM events
      GROUP BY 1, 2, 3),
    lagged AS (
      SELECT *, LAG(counter) OVER (PARTITION BY user_id, event_type ORDER BY day) AS prev
      FROM daily)
    SELECT user_id, event_type, day,
      CAST(CASE WHEN prev IS NULL THEN counter
                WHEN counter >= prev THEN counter - prev
                ELSE counter END AS DOUBLE) AS delta_value
    FROM lagged
    ORDER BY 1, 2, 3"""

  val entries: Map[String, Q] = Map("qan_poll_delta" -> qanPollDelta)
  val oracles: Map[String, String] = Map("qan_poll_delta" -> qanPollDeltaSql)
}
