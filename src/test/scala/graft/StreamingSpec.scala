package graft

import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  private def rowsOf(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq.sorted

  test("streaming snapshot delta == batch snapshot delta") {
    assert(rowsOf("st_delta_stream") == rowsOf("qan_snapshot_delta"))
  }

  test("streaming rollup == batch rollup") {
    assert(rowsOf("st_rollup_stream") == rowsOf("qan_rollup_minute"))
  }

  test("streaming governor EMAs == batch qan_ewma") {
    assert(rowsOf("st_governor_stream") == rowsOf("qan_ewma"))
  }

  test("streaming multi-counter delta == batch multi-counter delta") {
    assert(rowsOf("st_multi_counter_stream") == rowsOf("qan_multi_counter_delta"))
  }

  test("streaming session windows == batch sessionize") {
    import graft.Tables
    val st = SparkEntry.queries("st_session_stream")(spark, sf)
      .select(col("user_id"), col("start_ts"), col("n_events"), col("total_value"))
      .collect().map(_.toString).toSeq.sorted
    val batch = SparkEntry.queries("qan_sessionize")(spark, sf)
      .select(col("user_id"), col("start_ts"), col("n_events"), col("total_value"))
      .collect().map(_.toString).toSeq.sorted
    assert(st == batch)
  }

  test("append-mode session stream: closed sessions emitted once, state bounded") {
    import spark.implicits._
    import graft.streaming.QanStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val agg = ms.toDF().toDF("ts", "user_id", "value")
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("start_ts"),
        col("n_events"))
    val out = QanStream.runToMemoryQuery(agg, OutputMode.Append())
    try {
      // 6 micro-batches, one per day: 5 users × 2 events each batch.
      // With a 1h gap every batch closes the previous day's sessions.
      val stateSizes = (0 until 6).map { day =>
        ms.addData((1L to 5L).flatMap(u => Seq(
          (new java.sql.Timestamp(day * 86400000L + u * 1000), u, 1.0),
          (new java.sql.Timestamp(day * 86400000L + u * 1000 + 60000), u, 1.0))): _*)
        out.query.processAllAvailable()
        out.query.lastProgress.stateOperators(0).numRowsTotal
      }
      // state holds only OPEN sessions (≤ 5 keys) at every point —
      // never the cumulative session count (30 by the last batch).
      // This is the bound that makes the operator viable unbounded.
      assert(stateSizes.max <= 5L, s"state not bounded: $stateSizes")
      // every closed session was emitted exactly once: 5 users × 5
      // closed days (the day-5 sessions are still open)
      val emitted = spark.table(out.name).count()
      assert(emitted == 25L, s"closed sessions emitted: $emitted")
    } finally out.query.stop()
  }

  test("cell-dedup stream: emitted pair set is batching-invariant (cross-batch = resident vs arrival)") {
    import spark.implicits._
    import graft.streaming.{DedupStream, QanStream}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two cells; vectors within a cell engineered to clear tau=0.4
    // against each other, cross-cell never compared
    def vec(cell: Int, jitter: Double): Seq[Double] =
      Seq.tabulate(8)(i => (if (i % 2 == cell) 1.0 else 0.1) + jitter * (i + 1) / 100.0)
    val rows = Seq( // (cell, vec_id, v)
      (0, 1L, vec(0, 0.0)), (0, 3L, vec(0, 0.5)), (0, 5L, vec(0, 1.0)),
      (1, 2L, vec(1, 0.0)), (1, 4L, vec(1, 0.5)))
    def run(batches: Seq[Seq[(Int, Long, Seq[Double])]]): Set[(Long, Long)] = {
      val ms = MemoryStream[(Int, Long, Seq[Double])]
      val feed = ms.toDF().toDF("cell", "vec_id", "v")
      val out = QanStream.runToMemoryQuery(
        DedupStream.cellDedupStream(feed).toDF(), OutputMode.Append())
      try {
        batches.foreach { b => ms.addData(b: _*); out.query.processAllAvailable() }
        spark.table(out.name).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally out.query.stop()
    }
    val oneBatch = run(Seq(rows))
    val perRow = run(rows.map(Seq(_)))
    val split = run(Seq(rows.take(2), rows.drop(2)))
    assert(oneBatch.nonEmpty, "no pairs emitted — test vectors too dissimilar")
    assert(perRow == oneBatch, s"per-row batching diverged: $perRow vs $oneBatch")
    assert(split == oneBatch, s"2-batch split diverged: $split vs $oneBatch")
    // pairs never cross cells and are (smaller, larger)-normalized
    assert(oneBatch.forall { case (a, b) => a < b && (a % 2) == (b % 2) })
  }

  test("cell-dedup stream: occupancy cap bounds residency, capped arrivals still flagged against residents") {
    import spark.implicits._
    import graft.streaming.{DedupStream, QanStream}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // four near-identical vectors in one cell; cap = 2 residents
    val rows = (1L to 4L).map(id =>
      (0, id, Seq.tabulate(8)(i => 1.0 + id * (i + 1) / 1000.0)))
    def run(batches: Seq[Seq[(Int, Long, Seq[Double])]]): Set[(Long, Long)] = {
      val ms = MemoryStream[(Int, Long, Seq[Double])]
      val feed = ms.toDF().toDF("cell", "vec_id", "v")
      val out = QanStream.runToMemoryQuery(
        DedupStream.cellDedupStream(feed, maxResidents = 2).toDF(),
        OutputMode.Append())
      try {
        batches.foreach { b => ms.addData(b: _*); out.query.processAllAvailable() }
        spark.table(out.name).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally out.query.stop()
    }
    // residents = first 2 by vec_id; 3 and 4 are compared against
    // {1, 2} but never against each other (neither was admitted)
    val expected = Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
    val oneBatch = run(Seq(rows))
    assert(oneBatch == expected, s"capped pair set wrong: $oneBatch")
    // cap decisions are batching-invariant under the vec_id-ordered feed
    assert(run(rows.map(Seq(_))) == expected)
    assert(run(Seq(rows.take(3), rows.drop(3))) == expected)
  }

  test("stream-stream interval join matches across micro-batches and evicts old state") {
    import spark.implicits._
    import graft.streaming.QanStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val views = MemoryStream[(java.sql.Timestamp, Long, Long)]  // (ts, user, view_id)
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)] // (ts, user, click_id)
    val vdf = views.toDF().toDF("view_ts", "view_user", "view_id")
      .withWatermark("view_ts", "0 seconds")
    val cdf = clicks.toDF().toDF("click_ts", "user_id", "click_id")
      .withWatermark("click_ts", "0 seconds")
    val joined = cdf.join(vdf,
      col("user_id") === col("view_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("click_ts"))
      .select(col("click_id"), col("view_id"))
    val out = QanStream.runToMemoryQuery(joined, OutputMode.Append())
    try {
      // base well past epoch 0: Spark clamps the negative derived
      // state watermark (wm − 1h) to 0 early in a stream, which would
      // evict rows AT exactly epoch 0 — a boundary artifact real
      // event times never hit, and not what this test is about
      def ts(min: Long) = new java.sql.Timestamp((100000 + min) * 60000L)
      // batch 1: only views — buffered in join state, nothing emits
      views.addData((ts(0), 1L, 100L), (ts(10), 1L, 101L), (ts(0), 2L, 200L))
      out.query.processAllAvailable()
      assert(spark.table(out.name).count() == 0)
      // batch 2: clicks arrive LATER — must match the buffered views
      clicks.addData((ts(30), 1L, 900L), (ts(90), 2L, 901L))
      out.query.processAllAvailable()
      val got = spark.table(out.name).as[(Long, Long)].collect().toSet
      // click 900 @30min matches both user-1 views (0, 10 min);
      // click 901 @90min is >1h after user-2's view @0 → no match
      assert(got == Set((900L, 100L), (900L, 101L)), got.toString)
      // batch 3: watermark has advanced past 90min − 1h for the view
      // side; the user-2 view at minute 0 must be evicted from state
      views.addData((ts(120), 3L, 300L))
      out.query.processAllAvailable()
      val stateRows = out.query.lastProgress.stateOperators(0).numRowsTotal
      assert(stateRows <= 4L, s"join state not evicting: $stateRows rows")
    } finally out.query.stop()
  }

  test("streaming exact dedup is arrival-order independent across micro-batches") {
    import spark.implicits._
    import graft.streaming.QanStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val agg = graft.queries.Text.exactDedupAgg(ms.toDF().toDF("doc_id", "text"))
    val out = QanStream.runToMemoryQuery(agg, OutputMode.Complete())
    try {
      // duplicates arrive highest-id first and split across batches —
      // the keeper (min id) must win regardless
      ms.addData((7L, "aaa"), (9L, "bbb"), (8L, "aaa"))
      out.query.processAllAvailable()
      ms.addData((1L, "aaa"), (2L, "ccc"))
      out.query.processAllAvailable()
      val rows = spark.table(out.name).orderBy(col("keep_doc_id"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
      assert(rows == Seq((1L, 3L), (2L, 1L), (9L, 1L)), rows.toString)
    } finally out.query.stop()
  }

  test("minhash stream: resident signatures match later arrivals across batches") {
    import spark.implicits._
    import graft.streaming.{DedupStream, QanStream}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val pairs = DedupStream.minhashDedupStream(ms.toDF().toDF("doc_id", "text"))
    val out = QanStream.runToMemoryQuery(pairs, OutputMode.Append())
    val body = "the quick brown fox jumps over the lazy dog and keeps on running far away"
    try {
      // batch 1: two unrelated docs take residence in bucket state
      ms.addData((10L, body), (20L, "completely different content with nothing shared at all here"))
      out.query.processAllAvailable()
      val afterB1 = spark.table(out.name).count()
      assert(afterB1 == 0, s"no near-dups expected in batch 1, got $afterB1")
      // batch 2: a near-identical copy of doc 10 arrives LATER — the
      // pair must come from cross-batch state, not intra-batch compare
      ms.addData((30L, body + "!"))
      out.query.processAllAvailable()
      val rows = spark.table(out.name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(rows.map(t => (t._1, t._2)) == Seq((10L, 30L)), rows.toString)
      assert(rows.head._3 >= 0.8, rows.toString)
      // a fresh exact copy of doc 20 also matches its resident state
      ms.addData((40L, "completely different content with nothing shared at all here"))
      out.query.processAllAvailable()
      val all = spark.table(out.name).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(all == Set((10L, 30L), (20L, 40L)), all.toString)
    } finally out.query.stop()
  }

  test("governor stream: O(1) state folds identically across many batches") {
    import spark.implicits._
    import graft.streaming.QanStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[QanStream.RawEvent]
    val out = QanStream.runToMemoryQuery(QanStream.governorStream(ms.toDS()).toDF())
    def ev(id: Long, day: Int, etype: String) = QanStream.RawEvent(
      id, new java.sql.Timestamp(day * 86400000L + id), 1L, etype, 1.0)
    try {
      // 6 days across 6 separate micro-batches: 1 error in 4 events
      // on even days (load .175+.0=...), all-error days on odd days
      var id = 0L
      val loadsPerDay = (0 until 6).map { day =>
        val events = if (day % 2 == 0)
          Seq(ev({ id += 1; id }, day, "error"), ev({ id += 1; id }, day, "view"),
            ev({ id += 1; id }, day, "view"), ev({ id += 1; id }, day, "purchase"))
        else Seq(ev({ id += 1; id }, day, "error"), ev({ id += 1; id }, day, "error"))
        ms.addData(events)
        out.query.processAllAvailable()
        val total = events.size.toDouble
        val errors = events.count(_.event_type == "error").toDouble
        val slow = events.count(_.event_type == "purchase").toDouble
        math.min(1.0, errors / total) * 0.7 + math.min(1.0, slow / total) * 0.3
      }
      // the state is a fixed-size struct (fast, slow, lastDay, nDays),
      // so equality with the full-series fold proves the carry is exact
      val expectedFast = loadsPerDay.tail.foldLeft(loadsPerDay.head)((a, x) => a + 0.3 * (x - a))
      val expectedSlow = loadsPerDay.tail.foldLeft(loadsPerDay.head)((a, x) => a + 0.05 * (x - a))
      val last = spark.table(out.name).filter(col("n_days") === 6).collect()
      assert(last.nonEmpty)
      val r = last.head
      assert(r.getDouble(2) == expectedFast && r.getDouble(3) == expectedSlow)
    } finally out.query.stop()
  }

  test("raw-feed delta reconstructs counters across batches and day resets") {
    import spark.implicits._
    import graft.streaming.QanStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[QanStream.SnapEvent]
    val out = QanStream.runToMemoryQuery(QanStream.deltaFromRaw(ms.toDS()).toDF())
    def se(id: Long, day: Int, v: Double) = QanStream.SnapEvent(
      id, 7L, "q", new java.sql.Timestamp(day * 86400000L + id * 1000),
      new java.sql.Timestamp(day * 86400000L), BigDecimal(v))
    try {
      ms.addData(se(1, 0, 10.0), se(2, 0, 5.0)) // counters 10, 15
      out.query.processAllAvailable()
      ms.addData(se(3, 1, 3.0)) // next day: counter resets to 3
      out.query.processAllAvailable()
      val deltas = spark.table(out.name)
        .orderBy(col("event_id")).collect().map(_.getDouble(3)).toSeq
      // first ever: full counter; growth: 15-10; day reset: current value
      assert(deltas == Seq(10.0, 5.0, 3.0))
    } finally out.query.stop()
  }

  test("streaming delta keeps per-key state across micro-batches") {
    import spark.implicits._
    import graft.streaming.QanStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[QanStream.CounterEvent]
    val out = QanStream.runToMemoryQuery(QanStream.deltaStream(ms.toDS()).toDF())
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    try {
      ms.addData(QanStream.CounterEvent(1, 1, "q", t(0), BigDecimal(10)))
      out.query.processAllAvailable()
      // second batch: growth then a reset
      ms.addData(
        QanStream.CounterEvent(2, 1, "q", t(60), BigDecimal(25)),
        QanStream.CounterEvent(3, 1, "q", t(120), BigDecimal(5)))
      out.query.processAllAvailable()
      val deltas = spark.table(out.name)
        .orderBy(col("event_id")).collect().map(_.getDouble(3)).toSeq
      // first ever: full value; growth: 25-10; reset: current value
      assert(deltas == Seq(10.0, 15.0, 5.0))
    } finally out.query.stop()
  }

  test("streaming funnel carries stage state across micro-batches") {
    import graft.streaming.QanStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[QanStream.FunnelEvent]
    val out = QanStream.runToMemoryQuery(QanStream.funnelStream(ms.toDS()).toDF())
    try {
      // batch 1: user 1 views; user 2 clicks with NO prior view
      ms.addData(
        QanStream.FunnelEvent(1, 1, "view", 1000L),
        QanStream.FunnelEvent(2, 2, "click", 1000L))
      out.query.processAllAvailable()
      // batch 2: user 1 clicks then purchases (state from batch 1 must
      // qualify the click); user 2 views — too late for its click
      ms.addData(
        QanStream.FunnelEvent(3, 1, "click", 2000L),
        QanStream.FunnelEvent(4, 1, "purchase", 3000L),
        QanStream.FunnelEvent(5, 2, "view", 2000L))
      out.query.processAllAvailable()
      val last = spark.table(out.name).collect()
        .groupBy(_.getLong(0)).map { case (u, rows) =>
          u -> rows.maxBy(_.getInt(4)).getInt(4)
        }
      assert(last(1L) === 3, "user 1 must complete the funnel across batches")
      assert(last(2L) === 1, "user 2's pre-view click must not count")
    } finally out.query.stop()
  }

  test("percent-change stream: day totals accumulate across batches, close once, alert fires") {
    import graft.streaming.QanStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val day = 86400000000L
    def ev(id: Long, dayN: Long, v: Double) =
      QanStream.PcEvent(id, 1L, "q", dayN * day + id * 1000L, dayN * day, BigDecimal(v))
    val ms = MemoryStream[QanStream.PcEvent]
    val out = QanStream.runToMemoryQuery(QanStream.percentChangeStream(ms.toDS()).toDF())
    try {
      // batch 1: day 0 gets 2 events — day stays open, nothing emitted
      ms.addData(ev(1, 0, 10.0), ev(2, 0, 10.0))
      out.query.processAllAvailable()
      assert(spark.table(out.name).count() === 0, "open day must not emit")
      // batch 2: one more day-0 event (cross-batch accumulation), then
      // day 1 arrives and closes day 0 (total 30, no prev → no pct)
      ms.addData(ev(3, 0, 10.0), ev(4, 1, 50.0))
      out.query.processAllAvailable()
      val r1 = spark.table(out.name).collect()
      assert(r1.length === 1)
      assert(r1(0).getLong(3) === 3L && r1(0).getDouble(4) === 30.0)
      assert(r1(0).isNullAt(6) && !r1(0).getBoolean(7), "first closed day has no pct")
      // batch 3: day 2 closes day 1 — +67% vs day 0 → alert
      ms.addData(ev(5, 2, 1.0))
      out.query.processAllAvailable()
      val r2 = spark.table(out.name).collect().sortBy(_.getLong(2))
      assert(r2.length === 2)
      val d1 = r2(1)
      assert(d1.getDouble(4) === 50.0 && d1.getDouble(5) === 30.0)
      assert(math.abs(d1.getDouble(6) - 0.666667) < 1e-9)
      assert(d1.getBoolean(7), "a +67% day-over-day jump must alert")
    } finally out.query.stop()
  }

  test("outer interval join: null row needs the watermark STRICTLY past the click") {
    // Pins the eviction boundary the st_interval_join_outer oracle
    // must encode: an unmatched click whose event time EQUALS the
    // derived watermark (max event time − 1h) is still open — a view
    // exactly at the watermark is not yet late, so the click cannot
    // be proven matchless at equality. The null-extended row emits
    // only once the watermark moves strictly past the click's event
    // time (click_ts < wm).
    import spark.implicits._
    import graft.streaming.QanStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val views = MemoryStream[(java.sql.Timestamp, Long, Long)]  // (ts, user, view_id)
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)] // (ts, user, click_id)
    val vdf = views.toDF().toDF("view_ts", "view_user", "view_id")
      .withWatermark("view_ts", "1 hour")
    val cdf = clicks.toDF().toDF("click_ts", "user_id", "click_id")
      .withWatermark("click_ts", "1 hour")
    val joined = cdf.join(vdf,
      col("user_id") === col("view_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("click_ts"),
      "left_outer")
      .select(col("click_id"), col("view_id"))
    val out = QanStream.runToMemoryQuery(joined, OutputMode.Append())
    try {
      def ts(min: Long) = new java.sql.Timestamp((100000 + min) * 60000L)
      // batch 1: the probe click at minute 0, user 1 — no view ever
      // matches it; a view for another user keeps the view input
      // non-empty (an empty input pins the global watermark at 0)
      clicks.addData((ts(0), 1L, 900L))
      views.addData((ts(0), 99L, 100L))
      out.query.processAllAvailable()
      // batch 2: advance BOTH inputs' max event time to minute 60 —
      // after this batch the global watermark is exactly minute 0,
      // the probe click's own event time
      clicks.addData((ts(60), 2L, 901L))
      views.addData((ts(60), 98L, 101L))
      out.query.processAllAvailable()
      // batch 3: one more trigger at the SAME event time executes
      // eviction under wm == click_ts without advancing the watermark
      views.addData((ts(60), 97L, 102L))
      out.query.processAllAvailable()
      val atBoundary = spark.table(out.name).as[(Long, Option[Long])].collect().toSet
      assert(!atBoundary.contains((900L, None)),
        s"click AT the watermark must still be open (strict <): $atBoundary")
      // batch 4: advance the watermark one minute PAST the click —
      // now the null row must emit
      clicks.addData((ts(61), 3L, 902L))
      views.addData((ts(61), 96L, 103L))
      out.query.processAllAvailable()
      views.addData((ts(61), 95L, 104L)) // extra trigger to flush eviction
      out.query.processAllAvailable()
      val past = spark.table(out.name).as[(Long, Option[Long])].collect().toSet
      assert(past.contains((900L, None)),
        s"null row must emit once wm strictly exceeds click_ts: $past")
      assert(!past.contains((901L, None)), s"click above the watermark emitted early: $past")
    } finally out.query.stop()
  }

  test("ivf+pq serve stream: exact-verified pairs only, and the stream-static join keeps the plan stateless") {
    // every emitted pair is exact-verified at >= 0.4, so within the
    // brute-force audit range the serve output must be a SUBSET of
    // the exact near-dup pairs — the serving path can miss (routing +
    // ADC prefilter) but can never fabricate a neighbor
    val served = SparkEntry.queries("st_ivfpq_serve")(spark, sf).collect()
    assert(served.nonEmpty, "serve stream emitted nothing")
    served.foreach { r =>
      assert(r.getLong(0) != r.getLong(1), "self-pair emitted")
      assert(r.getDouble(2) >= 0.3 - 5e-5, s"ADC below prefilter: $r")
      assert(r.getDouble(3) >= 0.4 - 5e-5, s"exact cos below verify threshold: $r")
    }
    val brute = SparkEntry.queries("emb_near_dup_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val servedSmall = served
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 500 && b < 500 }
    servedSmall.foreach { case (a, b) =>
      assert(brute.contains((math.min(a, b), math.max(a, b))),
        s"served pair ($a,$b) not in the brute-force >=0.4 set")
    }
    // plan shape: probe projection + stream-static equi-join + filter
    // must contribute ZERO state operators — the serving path's scale
    // argument (any ingestion rate, add executors) rests on it
    import graft.streaming.QanStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val (ids, cents) = graft.operators.AnnIvf.collectCentroids(
      graft.operators.AnnIvf.refinedCentroids(corpus, cells = 16, dim = 64))
    val staticInv = graft.operators.AnnIvf.invertedFile(corpus, ids, cents)
      .select(col("cell"), col("id").as("neighbor_id"), col("v").as("cv"))
    val stream = QanStream.embeddingsStream(spark, sf)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(graft.functions.expressions.GraftFunctions
          .nearestCells(col("qv"), cents, ids, 2)).as("cell"))
      .join(staticInv, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
    val h = QanStream.runToMemoryQuery(stream.select(col("query_id"), col("neighbor_id")))
    try {
      h.query.processAllAvailable()
      val progress = h.query.lastProgress
      assert(progress.stateOperators.isEmpty,
        s"stream-static serve join must have no state operators: ${progress.json}")
    } finally h.query.stop()
  }

  test("serve verify stage broadcasts the survivors, never the corpus") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // r11's scale-killer: st_ivfpq_serve's exact verify did
    // .join(broadcast(full)) — the FULL corpus on the build side, ~500
    // GB at 100 TB. The verify stage must broadcast only the
    // batch-bounded survivor/query rows against the DISTRIBUTED corpus.
    // Pin the LIVE foreachBatch body: build a micro-batch twin (the
    // self-source union of slim survivor rows + qv rows) and run it
    // through the SAME serveVerifyStage function the query executes —
    // editing the query body cannot silently diverge from this pin.
    SparkEntry.queries("st_ivfpq_serve")(spark, sf).collect() // builds + uses the store
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val full = corpus.select(col("id").as("neighbor_id"), col("v").as("cv"))
    import spark.implicits._
    val survRows = Seq((0L, 0.51, 7L), (1L, 0.42, 9L))
      .toDF("query_id", "adc_cos", "neighbor_id")
      .withColumn("qv", lit(null).cast(ArrayType(DoubleType)))
    val queryRows = corpus.filter(col("id") < 2)
      .select(col("id").as("query_id"),
        lit(null).cast(DoubleType).as("adc_cos"),
        lit(null).cast("long").as("neighbor_id"),
        col("v").cast(ArrayType(DoubleType)).as("qv"))
    val batch = survRows.unionByName(queryRows).localCheckpoint(true)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = graft.queries.Streaming.serveVerifyStage(full, batch)
      out.collect()
      val plan = out.queryExecution.executedPlan
      // a corpus scan is a parquet file scan OR the cached form of one
      // (the serve query persists the corpus projection)
      def corpusScans(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
        case s: FileSourceScanExec => s: org.apache.spark.sql.execution.SparkPlan
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }
      val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.size == 2, s"expected two small-side broadcasts:\n$plan")
      bcasts.foreach { b =>
        assert(corpusScans(b.child).isEmpty,
          s"a corpus scan sits under a broadcast — the 100 TB killer:\n$plan")
      }
      // the corpus scan exists, on the streamed (distributed) side
      assert(corpusScans(plan).nonEmpty, plan.toString)
      // same pin for the topk twin's LIVE finish stage
      val outK = graft.queries.Streaming.serveTopkStage(full, batch)
      outK.collect()
      val planK = outK.queryExecution.executedPlan
      val bcastsK = planK.collect { case b: BroadcastExchangeExec => b }
      assert(bcastsK.size == 2, s"expected two small-side broadcasts:\n$planK")
      bcastsK.foreach { b =>
        assert(corpusScans(b.child).isEmpty,
          s"a corpus scan sits under a broadcast — the 100 TB killer:\n$planK")
      }
      assert(corpusScans(planK).nonEmpty, planK.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("topk serve from the stored index equals the batch composition; plan stateless and shuffle-free") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfPq
    import graft.streaming.QanStream
    import graft.functions.expressions.GraftFunctions
    // the serve twin loads the persisted artifact and answers every
    // arriving vector with rank <= k — which must equal the BATCH
    // composed search run over the same corpus with every vector as a
    // query (deterministic build ⇒ the stored index IS the inline one)
    val served = SparkEntry.queries("st_ivfpq_serve_topk")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(served.nonEmpty, "topk serve emitted nothing")
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val n = corpus.count()
    val allQ = corpus.select(col("id").as("query_id"), col("v").as("qv"))
    val batch = IvfPq.topK(corpus, n, dim = 64, allQ, k = 10, nprobe = 2,
        rerank = 30, m = 16, dsub = 4, kCodes = 64)
      .orderBy(col("query_id"), col("rank"))
      .collect().map(_.toString).toSeq
    assert(served == batch,
      s"loaded-index serve diverged from the batch composition (${served.size} vs ${batch.size} rows)")
    // per-query ranks are dense from 1 — top-k semantics, not pairs
    val byQuery = SparkEntry.queries("st_ivfpq_serve_topk")(spark, sf)
      .collect().groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length),
        "ranks must be dense from 1")
    }
    // the STREAMING plan (probe → LUT → stream-static ADC join) holds
    // zero state operators — the foreachBatch ranking is batch-side
    val dir = IvfPq.indexDir(sf)
    val loaded = IvfPq.loadIndex(spark, dir)
    val codedInv = broadcast(loaded.inverted.withColumnRenamed("id", "neighbor_id"))
    def candOf(src: org.apache.spark.sql.DataFrame) =
      IvfPq.probe(loaded.index,
          src.select(col("vec_id").as("query_id"),
            col("embedding").cast(ArrayType(DoubleType)).as("qv")), "qv", 2)
        .join(codedInv, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          GraftFunctions.adcCosineFromQuery(col("qv"), col("codes"),
            loaded.books, 4).as("adc_cos"))
    val h = QanStream.runToMemoryQuery(candOf(QanStream.embeddingsStream(spark, sf)))
    try {
      h.query.processAllAvailable()
      assert(h.query.lastProgress.stateOperators.isEmpty,
        s"loaded-index serve must keep zero state operators: ${h.query.lastProgress.json}")
    } finally h.query.stop()
    // shuffle-free on the static side: the batch twin of the same plan
    // (identical operators, batch source) joins by BROADCAST only —
    // no hash-partitioning exchange anywhere in the candidate stage
    val batchCand = candOf(Tables.embeddings(spark, sf))
    batchCand.collect()
    val plan = batchCand.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"candidate stage must not shuffle:\n$plan")
  }

  test("streaming index ingest: receipts audited in-store, batching-independent, ingest plan stateless") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfPq
    import graft.streaming.QanStream
    val out = SparkEntry.queries("st_index_append")(spark, sf).collect()
    assert(out.nonEmpty, "ingest stream emitted nothing")
    // every receipt must have been read back from the reloaded store
    assert(out.forall(_.getBoolean(3)),
      "a receipt was not found in the reloaded store — ingest wrote bytes the serve path cannot read")
    // exactly the delta slice, exactly once (a duplicated micro-batch
    // write would surface as extra rows here)
    val nDelta = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 10 === 7).count()
    assert(out.length == nDelta, s"${out.length} receipts for $nDelta delta rows")
    // receipts are per-row facts under a FROZEN index: a second full
    // run (fresh build + fresh stream, its own batching) is identical
    val again = SparkEntry.queries("st_index_append")(spark, sf).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "ingest receipts must be independent of micro-batch boundaries")
    // the ingest stream plan (assign + encode projections against the
    // loaded constants) holds zero state operators
    val dir = IvfPq.indexDir(sf) + "_stream_append"
    val loaded = IvfPq.loadIndex(spark, dir)
    val arriving = QanStream.embeddingsStream(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .filter(col("id") % 10 === 7)
    val coded = IvfPq.codedInvertedFile(loaded.index, arriving,
      loaded.books, loaded.dsub)
    val h = QanStream.runToMemoryQuery(coded)
    try {
      h.query.processAllAvailable()
      assert(h.query.lastProgress.stateOperators.isEmpty,
        s"index ingest must keep zero state operators: ${h.query.lastProgress.json}")
    } finally h.query.stop()
  }

  test("streaming index takedown: receipts unservable post-batch, batching-independent, delete plan stateless") {
    import org.apache.spark.sql.functions._
    import graft.operators.IvfPq
    import graft.streaming.QanStream
    val out = SparkEntry.queries("st_index_delete")(spark, sf).collect()
    assert(out.nonEmpty, "takedown stream emitted nothing")
    // takedown must be effective BEFORE any compaction: no receipt id
    // may remain servable in the reloaded live view
    assert(out.forall(!_.getBoolean(2)),
      "a deleted id is still servable — the live view missed a tombstone")
    // exactly the delete slice, exactly once
    val nDel = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 9 === 4).count()
    assert(out.length == nDel, s"${out.length} receipts for $nDel delete requests")
    // the raw store is untouched (every receipt still reports the cell
    // it occupies — physical removal is compaction's job, not the
    // stream's) and the surviving live view is the complement
    assert(out.forall(!_.isNullAt(1)), "receipt lost its store cell")
    val dir = IvfPq.indexDir(sf) + "_stream_delete"
    val loaded = IvfPq.loadIndex(spark, dir)
    val nAll = Tables.embeddings(spark, sf).count()
    assert(loaded.inverted.count() == nAll, "stream delete must not rewrite the store")
    assert(loaded.live.count() == nAll - nDel, "live view must be the complement of the takedowns")
    // receipts are per-row facts: a second full run (fresh build +
    // fresh stream, its own batching) is identical
    val again = SparkEntry.queries("st_index_delete")(spark, sf).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "takedown receipts must be independent of micro-batch boundaries")
    // the arriving-request plan is a pure projection+filter — zero
    // state operators in the streaming plan
    val arriving = QanStream.embeddingsStream(spark, sf)
      .select(col("vec_id").as("id")).filter(col("id") % 9 === 4)
    val h = QanStream.runToMemoryQuery(arriving)
    try {
      h.query.processAllAvailable()
      assert(h.query.lastProgress.stateOperators.isEmpty,
        s"takedown stream must keep zero state operators: ${h.query.lastProgress.json}")
    } finally h.query.stop()
  }

  test("streaming lexical takedown: receipts unservable post-batch, batching-independent, delete plan stateless") {
    import org.apache.spark.sql.functions._
    import graft.operators.LexIndex
    import graft.queries.Corpus
    import graft.streaming.QanStream
    val out = SparkEntry.queries("st_lex_delete")(spark, sf).collect()
    assert(out.nonEmpty, "lexical takedown stream emitted nothing")
    // takedown must be effective BEFORE any compaction: no receipt id
    // may remain servable in the reloaded live view
    assert(out.forall(!_.getBoolean(2)),
      "a deleted doc is still servable — the live view missed a tombstone")
    // exactly the delete slice, exactly once
    val nDel = Tables.documents(spark, sf)
      .filter(col("doc_id") % 9 === 4).count()
    assert(out.length == nDel, s"${out.length} receipts for $nDel delete requests")
    // the raw store is untouched (every receipt still reports its dl
    // from the raw roster — physical removal is compaction's job, not
    // the stream's) and the surviving live view is the complement
    assert(out.forall(!_.isNullAt(1)), "receipt lost its raw-roster dl")
    val dir = Corpus.lexDir(spark, sf) + "_stream_delete"
    val loaded = LexIndex.loadIndex(spark, dir)
    val nAll = Tables.documents(spark, sf).count()
    assert(loaded.dl.count() == nAll, "stream delete must not rewrite the store")
    assert(loaded.liveDl.count() == nAll - nDel,
      "live view must be the complement of the takedowns")
    // receipts are per-row facts: a second full run (fresh build +
    // fresh stream, its own batching) is identical
    val again = SparkEntry.queries("st_lex_delete")(spark, sf).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "takedown receipts must be independent of micro-batch boundaries")
    // the arriving-request plan is a pure projection+filter — zero
    // state operators in the streaming plan
    val arriving = QanStream.documentsStream(spark, sf)
      .select(col("doc_id")).filter(col("doc_id") % 9 === 4)
    val h = QanStream.runToMemoryQuery(arriving)
    try {
      h.query.processAllAvailable()
      assert(h.query.lastProgress.stateOperators.isEmpty,
        s"takedown stream must keep zero state operators: ${h.query.lastProgress.json}")
    } finally h.query.stop()
  }

  test("ood filter stream is stateless: no state store, no aggregation in the streaming plan") {
    // the calibrate-offline/apply-online split means the streaming
    // side must be a pure scan-level projection+filter — any stateful
    // operator here would mean the threshold leaked into the stream
    // as a computation instead of a frozen literal
    val df = SparkEntry.queries("st_ood_filter")(spark, sf)
    assert(df.collect().nonEmpty || true) // ran to completion
    import graft.streaming.QanStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val (ids, cents) = graft.operators.AnnIvf.collectCentroids(
      graft.operators.AnnIvf.refinedCentroids(corpus, cells = 16, dim = 64))
    val scored = QanStream.embeddingsStream(spark, sf)
      .select(col("vec_id"),
        graft.functions.expressions.GraftFunctions
          .nearestCellWithDist(col("embedding").cast(ArrayType(DoubleType)), cents, ids)
          .getField("sq").as("sq"))
      .filter(col("sq") > lit(1e9)) // any literal; plan shape is the point
    val h = QanStream.runToMemoryQuery(scored)
    try {
      h.query.processAllAvailable()
      val p = h.query.asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
      val progress = p.lastProgress
      assert(progress.stateOperators.isEmpty,
        s"stateless stream must have no state operators: ${progress.json}")
    } finally h.query.stop()
  }
}
