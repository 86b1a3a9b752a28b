package graft.streaming

import java.sql.Timestamp

import graft.operators.Governor

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Structured Streaming forms of the QAN operators.
  *
  * The reference is inherently streaming: the collector polls
  * snapshots on an interval, keeps the previous snapshot per digest in
  * memory (mysql/snapshot.go SnapshotStore), and emits deltas. Here
  * that state lives in Spark's managed group state — checkpointed,
  * partitioned by key, and unbounded in key count — instead of one
  * process's RAM.
  */
object QanStream {

  case class RawEvent(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class CounterEvent(event_id: Long, user_id: Long, event_type: String,
      ts: Timestamp, counter: BigDecimal)
  case class DeltaRow(event_id: Long, user_id: Long, event_type: String,
      delta_value: Double)
  case class CounterState(lastCounter: BigDecimal)

  /** Streaming snapshot→delta (snapshot.go:158 semantics): per
    * (instance, digest) group state holds the previous cumulative
    * counter; each micro-batch sorts its new snapshots in event-time
    * order and emits one delta per snapshot. Counter regression
    * (reset) emits the current value, exactly like the batch
    * QanOps.snapshotDelta.
    */
  def deltaStream(events: Dataset[CounterEvent]): Dataset[DeltaRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[CounterState, DeltaRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((_, _), it, state: GroupState[CounterState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var prev = state.getOption.map(_.lastCounter)
          val out = sorted.map { e =>
            val delta = prev match {
              case None => e.counter
              case Some(p) if e.counter >= p => e.counter - p
              case Some(_) => e.counter
            }
            prev = Some(e.counter)
            DeltaRow(e.event_id, e.user_id, e.event_type, delta.toDouble)
          }
          prev.foreach(p => state.update(CounterState(p)))
          out.iterator
      }
  }

  case class SnapEvent(event_id: Long, user_id: Long, event_type: String,
      ts: Timestamp, day: Timestamp, value_dec: BigDecimal)
  case class SnapState(lastCounter: BigDecimal, lastDayMs: Long)

  /** Streaming snapshot→delta straight from the raw event feed: the
    * per-(instance, digest) cumulative counter (the batch `snapshots`
    * view: a day-resetting running sum) is reconstructed inside the
    * group state, so the stream needs no batch-side global window and
    * no driver-collect feed. State per key is O(1) — the last counter
    * and its day — exactly the reference's SnapshotStore entry
    * (mysql/snapshot.go:60), but partitioned across executors.
    */
  def deltaFromRaw(events: Dataset[SnapEvent]): Dataset[DeltaRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[SnapState, DeltaRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((_, _), it, state: GroupState[SnapState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var prev = state.getOption
          val out = sorted.map { e =>
            val counter = prev match {
              case Some(SnapState(c, d)) if d == e.day.getTime => c + e.value_dec
              case _ => e.value_dec // first ever, or day rollover = reset
            }
            val delta = prev match {
              case None => counter
              case Some(SnapState(p, _)) if counter >= p => counter - p
              case Some(_) => counter // counter regressed → reset semantics
            }
            prev = Some(SnapState(counter, e.day.getTime))
            DeltaRow(e.event_id, e.user_id, e.event_type, delta.toDouble)
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  case class MultiSnapEvent(event_id: Long, user_id: Long, event_type: String,
      ts_us: Long, day_us: Long, calls_inc: Long, timer_inc: BigDecimal,
      rows_inc: Long, errors_inc: Long)
  case class MultiSnapState(dayUs: Long, tsUs: Long, calls: Long,
      timer: BigDecimal, rows: Long, errors: Long)
  case class MultiDeltaRow(event_id: Long, user_id: Long, event_type: String,
      time_period_secs: Double, d_calls: Long, d_timer: Double,
      d_rows: Long, d_errors: Long)

  /** Streaming multi-counter snapshot→delta — the full DeltaResult
    * emission the reference's collector actually produces per poll
    * (mysql/snapshot.go:103–156), as a stream: per (instance, digest)
    * the state holds the last cumulative value of each counter plus
    * its day and timestamp (O(1) per key); each event advances the
    * day-resetting cumulatives and emits one delta row with
    * per-counter reset handling, TimePeriodSecs, nothing for the
    * key's first snapshot, and a zero count-star delta skipped —
    * exactly the batch QanOps.snapshotDeltaMulti semantics, so it
    * shares qan_multi_counter_delta's oracle.
    */
  def multiDeltaFromRaw(events: Dataset[MultiSnapEvent]): Dataset[MultiDeltaRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[MultiSnapState, MultiDeltaRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((_, _), it, state: GroupState[MultiSnapState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var st = state.getOption
          val out = Seq.newBuilder[MultiDeltaRow]
          sorted.foreach { e =>
            val sameDay = st.exists(_.dayUs == e.day_us)
            val cCalls = if (sameDay) st.get.calls + e.calls_inc else e.calls_inc
            val cTimer = if (sameDay) st.get.timer + e.timer_inc else e.timer_inc
            val cRows = if (sameDay) st.get.rows + e.rows_inc else e.rows_inc
            val cErr = if (sameDay) st.get.errors + e.errors_inc else e.errors_inc
            st.foreach { p => // first snapshot per key emits nothing
              def d(c: Long, pv: Long) = if (c >= pv) c - pv else c
              val dCalls = d(cCalls, p.calls)
              if (dCalls > 0) { // digest not executed this interval → skip
                val dTimer = if (cTimer >= p.timer) cTimer - p.timer else cTimer
                out += MultiDeltaRow(e.event_id, e.user_id, e.event_type,
                  (e.ts_us - p.tsUs) / 1000000.0,
                  dCalls, dTimer.toDouble, d(cRows, p.rows), d(cErr, p.errors))
              }
            }
            st = Some(MultiSnapState(e.day_us, e.ts_us, cCalls, cTimer, cRows, cErr))
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  case class FunnelEvent(event_id: Long, user_id: Long, event_type: String,
      ts_us: Long)
  case class FunnelState(viewUs: Long, clickUs: Long, purchUs: Long)
  case class FunnelRow(user_id: Long, view_us: Long, click_us: Option[Long],
      purch_us: Option[Long], stage_reached: Int)

  /** Streaming ordered-sequence funnel: per user the state machine
    * holds at most three timestamps (first view, first click after it,
    * first purchase after that — O(1) per key, -1 = unset), advanced
    * in event-time order. Under an in-order feed (the same assumption
    * every delta stream here makes) the first qualifying event IS the
    * batch MIN, so the stream emits exactly qan_funnel's rows and
    * shares its oracle. Each batch re-emits a user's current funnel
    * row (Append); the latest row per user is the answer — the gate's
    * single-batch replay makes that exact.
    */
  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[FunnelState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          sorted.foreach { e =>
            e.event_type match {
              case "view" if st.viewUs < 0 => st = st.copy(viewUs = e.ts_us)
              case "click" if st.viewUs >= 0 && st.clickUs < 0 && e.ts_us > st.viewUs =>
                st = st.copy(clickUs = e.ts_us)
              case "purchase" if st.clickUs >= 0 && st.purchUs < 0 && e.ts_us > st.clickUs =>
                st = st.copy(purchUs = e.ts_us)
              case _ =>
            }
          }
          state.update(st)
          if (st.viewUs < 0) Iterator.empty
          else Iterator(FunnelRow(uid, st.viewUs,
            if (st.clickUs < 0) None else Some(st.clickUs),
            if (st.purchUs < 0) None else Some(st.purchUs),
            1 + (if (st.clickUs >= 0) 1 else 0) + (if (st.purchUs >= 0) 1 else 0)))
      }
  }

  case class PcEvent(event_id: Long, user_id: Long, event_type: String,
      ts_us: Long, day_us: Long, v: BigDecimal)
  case class PcState(dayUs: Long, total: BigDecimal, nCalls: Long,
      prevTotal: BigDecimal, hasPrev: Boolean)
  case class PcRow(user_id: Long, event_type: String, bucket_us: Long,
      n_calls: Long, day_value: Double, prev_value: Option[Double],
      pct_change: Option[Double], alert: Boolean)

  /** Streaming period-over-period regression alert — qan_percent_change
    * as a stream: per (instance, digest) the state holds the OPEN
    * day's running total/count plus the last CLOSED day's total (O(1)
    * per key). A day closes when the first event of a later day
    * arrives for that key; the closed day is emitted exactly once
    * with its percent change against the previous observed day — the
    * batch lag(1) semantics. The key's final day never closes (no
    * later event proves it complete), so the oracle is the batch
    * query restricted to each key's non-final days — the same
    * eviction-rule oracle shape as st_session_append. Late events for
    * an already-closed day are dropped (the alert for that day has
    * already fired — a monitoring alert is never retracted).
    *
    * Double formation replays the batch expression exactly: exact
    * DECIMAL day totals, difference in DECIMAL, one double division,
    * Spark's HALF_UP rounding.
    */
  def percentChangeStream(events: Dataset[PcEvent]): Dataset[PcRow] = {
    import events.sparkSession.implicits._
    def r(v: Double, scale: Int): Double =
      BigDecimal.decimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[PcState, PcRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((uid, et), it, state: GroupState[PcState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var st = state.getOption
          val out = Seq.newBuilder[PcRow]
          sorted.foreach { e =>
            st match {
              case None =>
                st = Some(PcState(e.day_us, e.v, 1L, BigDecimal(0), hasPrev = false))
              case Some(p) if e.day_us == p.dayUs =>
                st = Some(p.copy(total = p.total + e.v, nCalls = p.nCalls + 1))
              case Some(p) if e.day_us > p.dayUs =>
                // close the open day: batch row shape (prev = last
                // closed day's total, pct on exact decimals)
                val prevD = if (p.hasPrev) Some(r(p.prevTotal.toDouble, 4)) else None
                val pct =
                  if (p.hasPrev && p.prevTotal != 0)
                    Some(r((p.total - p.prevTotal).toDouble / p.prevTotal.toDouble, 6))
                  else None
                out += PcRow(uid, et, p.dayUs, p.nCalls, r(p.total.toDouble, 4),
                  prevD, pct, pct.exists(x => math.abs(x) > 0.5))
                st = Some(PcState(e.day_us, e.v, 1L, p.total, hasPrev = true))
              case _ => // late event for a closed day — alert already fired
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  case class EmaRow(user_id: Long, n_days: Long, fast_ema: Double, slow_ema: Double)
  case class EmaState(fastEma: Double, slowEma: Double, lastDayMs: Long, nDays: Long)

  /** Streaming governor EMAs (adaptive/governor.go): per instance the
    * state holds only the running fast/slow EMA, the last folded day
    * and the day count — O(1) per key regardless of batch count, like
    * the reference's EMA structs. Each micro-batch computes its
    * interval loads (per-day here, mirroring the collector's poll
    * interval), folds the days newer than the last folded one in
    * event-time order, and re-emits the instance's row (update-mode
    * semantics — downstream keeps the latest row per instance). Late
    * observations for already-folded days are dropped, exactly as a
    * poll-interval collector never revisits a past interval.
    */
  def governorStream(events: Dataset[RawEvent]): Dataset[EmaRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EmaState, EmaRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[EmaState]) =>
          // interval loads: per UTC day, the batch form of
          // Qan.loadPerDay (Governor.load of the error and slow shares)
          val dayLoads = it.toSeq.groupBy(_.ts.getTime / 86400000L).toSeq.sortBy(_._1)
            .map { case (day, es) =>
              val total = es.size.toDouble
              val errors = es.count(_.event_type == "error").toDouble
              val slow = es.count(_.event_type == "purchase").toDouble
              day -> Governor.load(errors / total, slow / total)
            }
          var st = state.getOption.getOrElse(EmaState(0.0, 0.0, Long.MinValue, 0L))
          dayLoads.foreach { case (day, load) =>
            if (day > st.lastDayMs) {
              st =
                if (st.nDays == 0L) EmaState(load, load, day, 1L)
                else EmaState(
                  Governor.emaStep(st.fastEma, Governor.FastAlpha, load),
                  Governor.emaStep(st.slowEma, Governor.SlowAlpha, load),
                  day, st.nDays + 1L)
            }
          }
          state.update(st)
          if (st.nDays > 0L) Iterator.single(EmaRow(uid, st.nDays, st.fastEma, st.slowEma))
          else Iterator.empty
      }
  }

  /** Streaming Druid-style rollup: same shape as the batch
    * QanOps.timeRollup, run as a streaming aggregation (complete mode
    * for bounded dims; at 100 TB with unbounded time use
    * append + watermark so state is evicted per closed window).
    */
  def rollupMinute(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("minute", col("ts")).as("bucket"), col("event_type"))
      .agg(
        count(lit(1)).as("sum_calls"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"))

  /** Schema memo for the stream sources: the file-source stream needs
    * an explicit schema, whose inference is a small but real driver
    * job (footer read) paid once PER STREAMING QUERY on an immutable
    * table. A deployment serves this from its catalog/schema registry;
    * here the per-path memo is exactly that (metadata only — never
    * rows, never results).
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def tableSchema(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType =
    schemaMemo.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)

  /** Read the events table as a file-source stream (the testdata
    * parquet stands in for an arriving snapshot feed). ts arrives as
    * TIMESTAMP(NANOS) → long nanos → truncated to micros, matching
    * graft.Tables.events.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // same un-zoned-timestamp rule as Tables.table: this reader is its
    // own choke point (a streaming-only session never touches Tables)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val schema = tableSchema(spark, s"$dir/events.parquet")
    // the testdata table is a single parquet file inside the sf dir;
    // the file-stream source wants a directory, so stream the dir with
    // a glob filter selecting just this table's file
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** File-source stream over the documents table (same single-file
    * glob trick as [[eventsStream]]) — the ingestion shape of a
    * continuously-arriving corpus.
    */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val schema = tableSchema(spark, s"$dir/documents.parquet")
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
  }

  /** File-source stream over the embeddings table (same single-file
    * glob trick as [[eventsStream]]) — the ingestion shape of vectors
    * arriving from an embedding service.
    */
  def embeddingsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val schema = tableSchema(spark, s"$dir/embeddings.parquet")
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
  }

  /** Run a streaming DataFrame to completion against a memory sink and
    * return the materialized result (test/verify scaffolding).
    */
  def runToMemory(df: DataFrame, mode: OutputMode): DataFrame = {
    val h = runToMemoryQuery(df, mode)
    h.query.processAllAvailable()
    h.query.stop()
    df.sparkSession.table(h.name)
  }

  case class MemorySink(name: String, query: org.apache.spark.sql.streaming.StreamingQuery)

  /** Run a STATELESS streaming DataFrame through a foreachBatch sink,
    * applying `finish` to each micro-batch (a BATCH plan — ranking
    * windows and sorts are legal there, unlike on the unbounded
    * stream) and returning the union of the finished batches. This is
    * the per-micro-batch bounded-top-k harness for serving queries
    * whose per-query candidate sets are wholly contained in one
    * micro-batch (stream-static joins only): per-batch ranking then
    * equals global per-query ranking under ANY batching, while the
    * streaming plan itself keeps zero state operators. Per-batch work
    * is bounded by that batch's arrivals — the same contract as a
    * production foreachBatch sink writing to a serving store.
    */
  def runForeachBatch(df: DataFrame,
      finish: DataFrame => DataFrame): DataFrame =
    runForeachBatchWithId(df, (batch, _) => finish(batch))

  /** [[runForeachBatch]] with the micro-batch id surfaced to `finish` —
    * what a replay-safe sink needs: Structured Streaming re-runs a
    * failed batch with the SAME id, so any externally-visible write in
    * the body must key its output on the id to stay idempotent
    * (IvfPq.appendBatchToIndex is the index-ingest form).
    */
  def runForeachBatchWithId(df: DataFrame,
      finish: (DataFrame, Long) => DataFrame): DataFrame = {
    val spark = df.sparkSession
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    @volatile var schema: org.apache.spark.sql.types.StructType = null
    val q = startReplay(spark) {
      df.writeStream.outputMode(OutputMode.Append())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
          val out = finish(batch.toDF(), bid)
          val rows = out.collect()
          buf.synchronized {
            if (schema == null) schema = out.schema
            buf ++= rows
          }
          ()
        }.start()
    }
    q.processAllAvailable()
    q.stop()
    val rows = buf.synchronized { buf.toSeq }
    val sch =
      if (schema != null) schema
      else finish(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema), -1L).schema
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      sch)
  }

  /** Release everything a finished memory-sink replay pins in the JVM:
    * the sink temp views (each holds EVERY emitted row — 100+ queries
    * × repeated bench runs accumulate GBs and the GC pressure slowed
    * late streaming queries ~10×) and the loaded state-store providers
    * (StateStore restarts lazily on the next streaming query). Harness
    * hygiene between independent query evaluations — never needed
    * inside one.
    */
  def releaseReplayState(spark: SparkSession): Unit = {
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("st_sink_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  /** Guards the shuffle-partition override window of [[startReplay]]:
    * the session conf is shared mutable state, so any OTHER query
    * started between set and restore would silently snapshot the
    * override. Every streaming start in this repo goes through
    * [[startReplay]], so serializing the set→start→restore critical
    * section closes the race (batch queries are unaffected — they read
    * the conf at their own start, after restore).
    */
  private val startLock = new Object

  /** The one streaming-start critical section: set `parts` shuffle
    * partitions, start the query, restore the session conf — serialized
    * so no other query started concurrently can snapshot the override.
    * Every streaming start in this repo (memory-sink replays,
    * foreachBatch serves, the polling drain) goes through here.
    *
    * Why the count is set per start: a stateful streaming operator
    * snapshots `spark.sql.shuffle.partitions` when its checkpoint is
    * created and keeps one versioned state store PER partition (a
    * stream-stream join holds four), each of which opens, writes,
    * checksums and commits its own delta file on every micro-batch,
    * however few keys it holds. Measured with `tools.QueryTrace` at
    * sf0.01 (750 keys, one batch, 4 vCPU): st_delta_stream's 8
    * partitions commit state in 101–118 ms, about 13 ms per partition
    * per batch, and qan_poll_delta's 1 partition in 3–6 ms. So the cost
    * tracks the partition count, not the key count. The memory-sink
    * and foreachBatch replays keep `parts` = 8; the polling drain
    * passes 1 (`PollingSource.drainAvailableNow`). Results and
    * cross-batch semantics are partition-count-invariant; a resumed
    * checkpoint ignores `parts`, because Spark restores the count from
    * its offset log.
    *
    * Every query started here runs on a clone of the session. With
    * Spark's per-session artifact isolation on, each clone's tasks got
    * a class loader of their own, so every replay compiled its
    * generated classes again: 11–13 compiles (94–229 ms) in each warm
    * `tools.QueryTrace` run of st_delta_stream, st_funnel_stream,
    * st_percent_change and st_rollup_stream at sf0.01. With isolation
    * off (`GraftExtensions.install`) the same runs compile nothing and
    * take 0.43–0.61 s instead of 0.78–1.02 s.
    */
  private[graft] def startReplay[T](spark: SparkSession, parts: Int = 8)(start: => T): T =
    startLock.synchronized {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, parts.toString)
      try start
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

  /** Start (but don't finish) a memory-sink query, for multi-batch
    * driving in specs.
    */
  def runToMemoryQuery(df: DataFrame, mode: OutputMode = OutputMode.Append()): MemorySink = {
    val name = s"st_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = startReplay(df.sparkSession) {
      df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    }
    MemorySink(name, q)
  }
}
