package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.PollingSource
import graft.streaming.QanStream

/** qan_monitor: a fleet collector and its dashboard (the traffic's
  * rates are coverage choices, see perfbench/gen.py).  Each loop step runs one
  * collector tick (poll a cumulative-counter snapshot into staging,
  * then drain the staged snapshots through the streaming
  * snapshot→delta operator into a parquet sink, checkpoint kept across
  * ticks), then refreshes the dashboard against the generated statement
  * log: its fixed panels (top queries and query trend) and
  * the next query of a seeded order of the Qan/Fleet entries.  The
  * panels are the same queries in every run, so their latency does not
  * depend on which rotating queries fit in the run.
  */
final class QanMonitor(ctx: Ctx) extends Workload {
  private def spark = ctx.spark
  private val seed = ctx.opt("seed").toLong
  private val eventsDir = s"${ctx.inputs}/events"
  private val queries = graft.queries.Qan.entries ++ graft.queries.Fleet.entries
  /** Every Qan/Fleet entry except qan_skew_join, which joins `orders`. */
  private val entries = queries.keys.filterNot(_ == "qan_skew_join").toSeq.sorted
  /** The seeded dashboard order (the seed is hashed first: neighbouring
    * seeds of java.util.Random start their streams alike). */
  private val dashboard: Seq[String] =
    new scala.util.Random(scala.util.hashing.MurmurHash3.mix(0x5eed, seed.hashCode)).shuffle(entries)
  private val canonDir = new File(ctx.opt("out") + ".canon")
  private val checked = mutable.Set.empty[String]
  private var ticksDone = 0
  private var queriesDone = 0

  private def tickPath(i: Long) = f"${ctx.inputs}/snapshots/tick-$i%05d.parquet"
  private val nTicks = new File(s"${ctx.inputs}/snapshots").list().count(_.endsWith(".parquet"))

  private object Fetcher extends PollingSource.SnapshotFetcher {
    override def fetch(s: SparkSession, pollIndex: Long): DataFrame =
      s.read.parquet(tickPath(pollIndex))
  }

  /** One collector: staging, streaming checkpoint and delta sink. */
  private final class Collector(root: String) {
    val staging = s"$root/staging"
    val sink = s"$root/sink"
    val ckpt = s"$root/checkpoint"
    private var stream: DataFrame = _
    def tick(i: Long): Unit = {
      ctx.tracer.span(spark, "sources.pollToStaging") {
        PollingSource.pollToStaging(spark, Fetcher, polls = 1, staging,
          startIndex = i, clock = t => 1704067200000000L + t * 10000000L)
      }
      if (stream == null) stream = deltas()
      ctx.tracer.span(spark, "streaming.drainAvailableNow") {
        PollingSource.drainAvailableNow(stream, sink, ckpt)
      }
    }
    private def deltas(): DataFrame = {
      val s = spark
      import s.implicits._
      val snap = spark.read.parquet(tickPath(0)).schema
      val staged = StructType(snap.fields ++ Seq(
        StructField("poll_index", LongType), StructField("poll_ts", LongType)))
      QanStream.deltaStream(
        PollingSource.stagedStream(spark, staging, staged)
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
            col("counter").cast(DecimalType(38, 18)).as("counter"))
          .as[QanStream.CounterEvent]).toDF()
    }
  }

  private var collector: Collector = _

  /** The warm-up runs the collector's first tick, where every digest is
    * first seen, so the timed ticks are all alike: each has counter
    * gaps, a reset and new digests. */
  override def warmUp(): Unit = {
    collector = new Collector(s"${ctx.work}/qan")
    collector.tick(0)
    ticksDone = 1
    QanMonitor.Panels.foreach(p => runQuery(p, s"panel.$p", timed = false))
    runQuery(entries.head, "query", timed = false)
  }

  override def step(i: Int): Boolean = {
    if (ticksDone >= nTicks) return false
    if (ctx.op("tick", "collector.tick")(collector.tick(ticksDone)).isDefined) ticksDone += 1
    QanMonitor.Panels.foreach(p => runQuery(p, s"panel.$p", timed = true))
    runQuery(dashboard(queriesDone % dashboard.size), "query", timed = true)
    queriesDone += 1
    true
  }

  private def runQuery(name: String, kind: String, timed: Boolean): Unit = {
    def body(): (StructType, Array[Row]) = {
      val df = queries(name)(spark, eventsDir)
      (df.schema, df.collect())
    }
    val res = if (timed) ctx.op(kind, s"query.$name")(body()) else Some(body())
    ctx.clearCaches()
    res.foreach { case (schema, rows) =>
      if (timed && checked.add(name)) Canon.write(new File(canonDir, s"$name.txt"), schema, rows)
    }
  }

  override def finish(): Unit = {
    val tick = ctx.secondsOf("tick")
    val dash = ctx.ops.filter(o => o.kind.startsWith("panel.") || o.kind == "query")
    val qs = dash.map(_.seconds).toSeq
    ctx.sheet.put("ingest_tick_p50_s", Stats.median(tick), "s")
    ctx.tailOf("ingest_tick_tail_s", tick)
    val okQ = dash.filter(_.ok).map(_.seconds)
    ctx.sheet.put("dashboard_qps", okQ.size / okQ.sum, "1/s")
    ctx.tailOf("query_tail_s", qs)
    ctx.sheet.note("dashboard", s"${checked.size} distinct queries of ${dashboard.size}; " +
      s"oracle outputs in ${canonDir.getName}")
    // ingest check: per (instance, digest), the sum of emitted deltas
    // equals the generator's own ground truth, exactly, in decimal
    ctx.check("ingest deltas == ground truth") {
      val got = spark.read.parquet(collector.sink)
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(col("delta_value").cast(DecimalType(38, 6))).as("got"))
      val want = spark.read.parquet(s"${ctx.inputs}/truth.parquet")
        .filter(col("tick") < ticksDone)
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(col("delta").cast(DecimalType(38, 6))).as("want"))
      val bad = got.join(want, Seq("user_id", "event_type"), "full_outer")
        .filter(!coalesce(col("got"), lit(0)).eqNullSafe(coalesce(col("want"), lit(0))))
      val n = bad.count()
      val keys = got.count()
      ctx.sheet.note("ingest", s"$ticksDone ticks, $keys (instance, digest) keys, $n mismatched")
      if (ticksDone == 0) Some("no tick completed")
      else if (n > 0) Some(s"$n of $keys keys differ, e.g. ${bad.limit(3).collect().mkString("; ")}")
      else None
    }
    // the generator's restart and digest-churn rates are coverage
    // choices: report how many of this run's ticks (after the first,
    // where every digest is new) had a counter reset and a new digest
    val kinds = spark.read.parquet(s"${ctx.inputs}/truth.parquet")
      .filter(col("tick") > 0 && col("tick") < ticksDone)
      .groupBy(col("kind")).agg(countDistinct(col("tick"))).collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    for ((kind, name) <- Seq("reset" -> "ticks_with_reset_share", "first" -> "ticks_with_new_digest_share"))
      ctx.sheet.put(name, kinds.getOrElse(kind, 0.0) / math.max(ticksDone - 1, 1), "ratio")
    // the oracle comparison of the dashboard outputs runs in run.py;
    // it needs each checked query's oracle SQL
    val sqls = graft.SparkEntry.oracleSql
    canonDir.mkdirs()
    val pw = new PrintWriter(new File(canonDir, "oracle_sql.tsv"), "UTF-8")
    try checked.toSeq.sorted.foreach { n =>
      pw.println(n + "\t" + sqls(n).replace("\\", "\\\\").replace("\n", "\\n").replace("\t", "\\t"))
    } finally pw.close()
    if (ctx.tracer.enabled) Layers.streaming(ctx, collector.staging, collector.ckpt, ticksDone)
  }
}

object QanMonitor {
  /** The dashboard's fixed panels: the reference notebook's top-queries
    * table and its per-digest trend. */
  val Panels = Seq("qan_top_queries", "qan_query_trend")
}

/** Canonical rows for the oracle comparison, the rule scripts/check.py
  * applies: columns sorted by name, one cell encoding per value, rows
  * sorted.  The Python side (perfbench/oracle.py) encodes DuckDB's
  * rows the same way.  Doubles compare by their exact bits.
  */
object Canon {
  def cell(v: Any): String = v match {
    case null => "\\N"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: Boolean => b.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case t: java.sql.Timestamp => "T" + micros(t.toInstant)
    case t: java.time.Instant => "T" + micros(t)
    case t: java.time.LocalDateTime => "T" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case s: String => s.replace("\\", "\\\\").replace("\n", "\\n").replace("\u001f", "\\u001f")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("x", "", "")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }
  private def dbl(d: Double): String =
    if (d.isNaN) "NaN" else "d" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), (i.getNano / 1000).toLong)

  def write(f: File, schema: StructType, rows: Array[Row]): Unit = {
    f.getParentFile.mkdirs()
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u001f")).sorted
    val pw = new PrintWriter(f, "UTF-8")
    try {
      pw.println(order.map(schema.fieldNames(_)).mkString("\u001f"))
      lines.foreach(pw.println)
    } finally pw.close()
  }
}
