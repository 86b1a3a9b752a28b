package graft

import org.apache.spark.sql.functions._

/** Degenerate-input sweep for the events-based (QAN) queries: a key
  * with a single event (every lag is null), two events at the SAME
  * timestamp (zero elapsed — the rate/delta divide hazard), a zero
  * value, and empty props (no label) must never crash an operator.
  * Streaming entries are exercised by their MemoryStream specs
  * instead — the file-source glob doesn't apply to a synthetic dir.
  */
class EdgeEventsSpec extends SparkSpec {

  private lazy val edgeDir: String = {
    val dir = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_edge_events_" +
      java.util.UUID.randomUUID.toString.take(8)
    val base = Tables.events(spark, sf)
    val t0 = java.sql.Timestamp.valueOf("2024-01-15 12:00:00")
    val extra = spark.createDataFrame(java.util.List.of(
        // lone event for its (user, type) key: no lag partner anywhere
        org.apache.spark.sql.Row(900001L, t0, 9901L, "edge_solo", 5.0, """{"k": 3}"""),
        // two events, identical timestamp, same key: zero elapsed time
        org.apache.spark.sql.Row(900002L, t0, 9902L, "edge_tie", 7.0, """{"k": 1}"""),
        org.apache.spark.sql.Row(900003L, t0, 9902L, "edge_tie", 9.0, """{"k": 2}"""),
        // zero value and empty props (label extraction finds nothing)
        org.apache.spark.sql.Row(900004L, t0, 9903L, "edge_zero", 0.0, "{}")),
      base.schema)
    base.unionByName(extra).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // asof/skew-join queries also read orders — pass it through unchanged
    Tables.orders(spark, sf).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("every events-table batch query survives a degenerate feed") {
    val evQueries = SparkEntry.queries.keys
      .filter(n => n.startsWith("qan_")).toSeq.sorted :+ "q22_range_join"
    val failures = evQueries.flatMap { name =>
      try { SparkEntry.queries(name)(spark, edgeDir).collect(); None }
      catch { case e: Throwable => Some(s"$name: ${e.toString.take(200)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("server metadata: value_per_call rounds an exact half away from zero, as the oracle does") {
    // 31 calls of 32.82 and one of 32.91: Σ = 1050.33 exactly, so
    // 1050.33 / 32 = 32.8228125 sits on a 6-place half. The oracle SQL
    // gives 32.822813 on these rows in DuckDB 1.0 (its former double
    // quotient rounding gave 32.822812)
    val dir = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_edge_tie_" +
      java.util.UUID.randomUUID.toString.take(8)
    val t0 = java.sql.Timestamp.valueOf("2024-01-15 12:00:00")
    val rows = (0 until 32).map(i => org.apache.spark.sql.Row(i.toLong, t0, 7L,
      "tie", if (i == 31) 32.91 else 32.82, "{}"))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        Tables.events(spark, sf).schema)
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("qan_server_metadata")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("calls") == 32L)
    assert(r.getAs[Double]("total_value") == 1050.33)
    assert(r.getAs[Double]("value_per_call") == 32.822813)
  }

  test("diff significance: degenerate units get null z, never a significant verdict") {
    // a lone event (n=1 total) can never clear the n>=2-per-half gate,
    // and a unit confined to one half has no counterpart mean — both
    // must yield z_score NULL / significant=false, not a div-by-zero
    val out = SparkEntry.queries("qan_diff_significance")(spark, edgeDir)
      .filter(col("event_type").startsWith("edge_"))
      .select("event_type", "z_score", "significant").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.isNullAt(1), s"${r.getString(0)}: expected null z, got ${r.get(1)}")
      assert(!r.getBoolean(2), s"${r.getString(0)}: significant on degenerate unit")
    }
  }
}
