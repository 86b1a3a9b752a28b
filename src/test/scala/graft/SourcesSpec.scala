package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class SourcesSpec extends SparkSpec {

  test("approx percentile within 2% of exact") {
    val approx = SparkEntry.queries("q18_approx_percentile")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = SparkEntry.queries("q16_percentiles")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (p50, p90)) =>
      val (a50, a90) = approx(k)
      assert(math.abs(a50 - p50) / p50 <= 0.02, s"$k p50: $a50 vs $p50")
      assert(math.abs(a90 - p90) / p90 <= 0.02, s"$k p90: $a90 vs $p90")
    }
  }

  test("streaming rollup with watermark emits closed windows in append mode") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = ms.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val sink = graft.streaming.QanStream.runToMemoryQuery(agg, OutputMode.Append())
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    try {
      ms.addData((t(0), "a", 1.0), (t(0), "a", 2.0), (t(1), "b", 3.0))
      sink.query.processAllAvailable()
      // watermark still at 10:01-2min → nothing closed yet
      assert(spark.table(sink.name).count() == 0)
      // advance event time far enough to close the first windows
      ms.addData((t(10), "a", 5.0))
      sink.query.processAllAvailable()
      ms.addData((t(11), "a", 0.0)) // one more batch so the watermark advances past 10:01
      sink.query.processAllAvailable()
      val closed = spark.table(sink.name)
        .select(col("window.start").cast("string"), col("event_type"), col("n"), col("v"))
        .collect().map(_.toString).sorted.toSeq
      assert(closed.contains("[2024-01-01 10:00:00,a,2,3.0]"), closed.mkString("\n"))
      assert(closed.contains("[2024-01-01 10:01:00,b,1,3.0]"), closed.mkString("\n"))
    } finally sink.query.stop()
  }

  // The case keeps the name it had when a DataSourceV2 connector served
  // the OTel wire; it now checks the same contract through OtelLogs:
  // pinned schema, microsecond round trip, pruned and filtered scans,
  // lossless rewrite and overwrite.
  test("graft-otel V2 source: short name resolves, schema pinned, reader prunes columns") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.sources.OtelLogs
    val dir = tmpDir("otel_wire")
    def ts(ms: Long, micros: Int) = {
      val t = new java.sql.Timestamp(ms); t.setNanos(t.getNanos + micros * 1000); t
    }
    val deltas = Seq(
      (ts(1704067200123L, 456), 1L, "digest_a", 5.5),
      (ts(1704067260456L, 789), 2L, "digest_b", 2.0))
      .toDF("ts", "user_id", "event_type", "delta_value")
    OtelLogs.writeJson(OtelLogs.toLogRecords(deltas), dir)
    val df = OtelLogs.readJson(spark, dir)
    assert(df.schema === OtelLogs.WireSchema)
    // values round-trip: timestamps to the microsecond, doubles exact
    val rows = df.select(col("db_statement_digest"), col("delta_value"),
      unix_micros(col("timestamp"))).collect().map(_.toString).sorted
    assert(rows.toSeq == Seq(
      "[digest_a,5.5,1704067200123456]", "[digest_b,2.0,1704067260456789]"))
    def scanOf(q: org.apache.spark.sql.DataFrame): FileSourceScanExec =
      q.queryExecution.executedPlan.collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(fail(s"expected a file scan:\n${q.queryExecution.executedPlan}"))
    // column pruning reaches the scan: a two-column projection reads
    // exactly those two fields
    val pruned = df.select(col("delta_value"), col("db_system"))
    assert(scanOf(pruned).requiredSchema.fieldNames.toSet === Set("delta_value", "db_system"),
      s"scan not pruned: ${scanOf(pruned).requiredSchema.simpleString}")
    assert(pruned.collect().length === 2)
    // string-equality filters are pushed into the reader and still
    // produce the correct rows
    val filtered = df.filter(col("db_system") === "postgresql")
      .select(col("db_statement_digest"))
    val pushed = scanOf(filtered).metadata("PushedFilters")
    assert(pushed.contains("EqualTo(db_system,postgresql)"), s"filter not pushed: $pushed")
    assert(filtered.collect().map(_.getString(0)).toSeq == Seq("digest_a"))
    // the read records write back losslessly, and a second write
    // truncates the first write's part files
    OtelLogs.writeJson(df, dir + "_w")
    assert(OtelLogs.readJson(spark, dir + "_w").collect().map(_.toString).sorted.toSeq ==
      df.collect().map(_.toString).sorted.toSeq, "write→read must be lossless")
    OtelLogs.writeJson(df.limit(1), dir + "_w")
    assert(OtelLogs.readJson(spark, dir + "_w").count() === 1,
      "overwrite must truncate previous part files")
  }
}
