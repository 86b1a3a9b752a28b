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

  test("graft-otel V2 source: short name resolves, schema pinned, reader prunes columns") {
    import spark.implicits._
    val dir = tmpDir("dsv2")
    val deltas = Seq(
      (new java.sql.Timestamp(1704067200123L), 1L, "digest_a", 5.5),
      (new java.sql.Timestamp(1704067260456L), 2L, "digest_b", 2.0))
      .toDF("ts", "user_id", "event_type", "delta_value")
    graft.sources.OtelLogs.writeJson(
      graft.sources.OtelLogs.toLogRecords(deltas), dir)
    try {
      val df = spark.read.format("graft-otel").load(dir)
      assert(df.schema === graft.sources.v2.OtelLogTable.WireSchema)
      // values round-trip (timestamps to the microsecond, doubles exact)
      val rows = df.select(col("db_statement_digest"), col("delta_value"),
        col("timestamp").cast("long")).collect().map(_.toString).sorted
      assert(rows.toSeq == Seq(
        "[digest_a,5.5,1704067200]", "[digest_b,2.0,1704067260]"))
      // column pruning reaches the scan: a two-column projection's
      // BatchScan outputs exactly those two attributes
      val pruned = df.select(col("delta_value"), col("db_system"))
      val scans = pruned.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.nonEmpty, "expected a BatchScanExec")
      assert(scans.head.output.map(_.name).toSet === Set("delta_value", "db_system"),
        s"scan not pruned: ${scans.head.output.map(_.name)}")
      assert(pruned.collect().length === 2)
      // string-equality filters are pushed into the reader (visible in
      // the scan description) and still produce the correct rows
      val filtered = df.filter(col("db_system") === "postgresql")
        .select(col("db_statement_digest"))
      val fScan = filtered.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head
      assert(fScan.scan.description().contains("EqualTo(db_system,postgresql)"),
        s"filter not pushed: ${fScan.scan.description()}")
      assert(filtered.collect().map(_.getString(0)).toSeq == Seq("digest_a"))
      // V2 writer: the same records written through the connector read
      // back identically (timestamps to the microsecond), and a second
      // overwrite truncates the first write's part files
      val dir2 = dir + "_w"
      df.write.format("graft-otel").mode("overwrite").save(dir2)
      val back = spark.read.format("graft-otel").load(dir2)
        .collect().map(_.toString).sorted.toSeq
      assert(back == df.collect().map(_.toString).sorted.toSeq,
        "V2 write→read must be lossless")
      df.limit(1).write.format("graft-otel").mode("overwrite").save(dir2)
      assert(spark.read.format("graft-otel").load(dir2).count() === 1,
        "overwrite must truncate previous part files")
      // run-unique part names: a second non-truncate write lands
      // ALONGSIDE the first run's files, never over them
      df.write.format("graft-otel").mode("append").save(dir2)
      assert(spark.read.format("graft-otel").load(dir2).count() === 3,
        "append must preserve earlier runs' files")
      rm2(new java.io.File(dir2))
    } finally rm2(new java.io.File(dir))
  }

  private def rm2(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm2)); f.delete(): Unit
  }
}
