package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed (or traced) run of one workload, in one JVM.
  *
  *   graft.perfbench.Main --workload W --inputs DIR --work DIR --out FILE
  *     --seconds S --trace 0|1 --cores N --seed N
  *
  * The inputs come from perfbench/gen.py; `run.py` drives this main,
  * compares the dashboard outputs with their DuckDB oracle and prints
  * the result line.  Set-up (session, extensions, one untimed warm-up of
  * every op type) is timed from process start; then the workload's
  * closed loop (one client thread) runs for S seconds; then its output
  * checks run, untimed.  A traced run loops twice: S seconds untraced
  * (no listeners, the plain local filesystem), then S seconds traced;
  * its tracing overhead compares the two phases' `step_rel`, and its
  * metrics describe the traced phase.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val tracer = new Tracer(opt("trace") == "1")
    val ctx = new Ctx(opt("inputs"), opt("work"), opt("cores").toInt, tracer, opt)
    val workload: Workload = opt("workload") match {
      case "qan_monitor" => new QanMonitor(ctx)
      case "corpus_lifecycle" => new CorpusLifecycle(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    // set-up: process start to the first timed op (JVM start, session,
    // extensions, one untimed warm-up of every op type)
    ctx.spark = Main.session(ctx.cores, ctx.work)
    graft.plans.GraftExtensions.install(ctx.spark)
    workload.warmUp()
    ctx.control(timed = false)
    ctx.control(timed = false)
    ctx.clearCaches()
    ctx.sheet.put("setup_s", (System.currentTimeMillis() - Jvm.startMs) / 1e3, "s")
    var step = 0
    /** The closed loop for S seconds; a step that has started runs to
      * its end.  The control job is timed before every op (in
      * [[Ctx.op]]) and three times after the last step. */
    def loop(): Unit = {
      val deadline = System.nanoTime() + (opt("seconds").toDouble * 1e9).toLong
      while (System.nanoTime() < deadline && workload.step(step)) step += 1
      (1 to 3).foreach(_ => ctx.control(timed = true))
    }
    val loopStart = System.nanoTime()
    loop()
    if (tracer.enabled) {
      val untraced = ctx.stepRel()
      ctx.ops.clear()
      ctx.controlS.clear()
      tracer.register(ctx.spark)
      loop()
      Thread.sleep(500) // let the listener bus deliver the last events
      ctx.sheet.put("bench.trace_overhead_frac", ctx.stepRel() / untraced - 1, "ratio")
    }
    val checkStart = System.nanoTime()
    try workload.finish()
    catch { case NonFatal(e) => ctx.fail(s"checks: $e") }
    ctx.opMetrics()
    if (tracer.enabled) Layers.report(ctx)
    ctx.sheet.note("phases", f"loop ${(checkStart - loopStart) / 1e9}%.1f s, " +
      f"checks ${(System.nanoTime() - checkStart) / 1e9}%.1f s, $step steps")
    ctx.sheet.put("peak_rss_mb", Jvm.peakRssMb, "MB")
    ctx.write(opt("out"))
    ctx.spark.stop()
  }

  /** The session settings graft.Bench runs under. */
  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
}

/** A workload: warm-up, one loop step, and its checks. */
trait Workload {
  /** One untimed op of every type. */
  def warmUp(): Unit
  /** One step of the closed loop; false when the inputs are used up. */
  def step(i: Int): Boolean
  /** Output checks and workload metrics, after the loop. */
  def finish(): Unit
}

/** A timed op; `span` is the index of its root span when traced. */
final case class Op(kind: String, name: String, seconds: Double, ok: Boolean, span: Int)

object Ctx {
  /** Op kinds a user reads through, and op kinds that write (a kind
    * ending in '.' stands for every kind it prefixes). */
  val ReadKinds = Seq("panel.", "serve_lex", "serve_vec")
  val WriteKinds = Seq("tick", "append_lex", "append_vec", "delete_lex", "delete_vec")
}

/** Shared state of one run. */
final class Ctx(val inputs: String, val work: String, val cores: Int,
    val tracer: Tracer, val opt: Map[String, String]) {
  var spark: SparkSession = _
  val sheet = new Sheet
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  /** False while a workload runs loop steps as set-up: ops then run
    * untimed and unrecorded, and a failure ends the run. */
  var timed = true

  def fail(msg: String): Unit = { failures += msg; System.err.println(s"[perfbench] FAIL $msg") }

  /** A timed op: a root span with its own op id, preceded by a timed
    * run of the control job.  A failure is recorded and counts as +inf
    * for every latency percentile. */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    if (!timed) return Some(body)
    control(timed = true)
    attempted += 1
    tracer.active = tracer.tracing
    val id = tracer.newOp()
    val span = tracer.spans.size
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(spark, name, id)(body)
      ops += Op(kind, name, (System.nanoTime() - t0) / 1e9, ok = true, span)
      Some(r)
    } catch {
      case NonFatal(e) =>
        ops += Op(kind, name, Double.PositiveInfinity, ok = false, span)
        fail(s"$name: $e")
        None
    } finally tracer.active = false
  }

  /** A check: counted as attempted, and as failed when it returns an
    * error message. */
  def check(name: String)(body: => Option[String]): Unit = {
    attempted += 1
    try body.foreach(m => fail(s"$name: $m"))
    catch { case NonFatal(e) => fail(s"$name: $e") }
  }

  /** Release what the previous op persisted (as graft.Bench does
    * between queries), outside any timed window. */
  def clearCaches(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def secondsOf(kinds: String*): Seq[Double] =
    ops.filter(o => kinds.contains(o.kind)).map(_.seconds).toSeq

  /** The end-to-end metrics every workload reports. */
  def opMetrics(): Unit = {
    val finite = ops.filter(_.ok).map(_.seconds)
    sheet.put("ops_per_s", finite.size / finite.sum, "1/s")
    val readS = perKind(Ctx.ReadKinds)
    val writeS = perKind(Ctx.WriteKinds)
    sheet.put("read_s", readS, "s")
    sheet.put("write_s", writeS, "s")
    // the same, in units of the control job timed between ops
    val c = Stats.median(controlS.toSeq)
    sheet.put("control_s", c, "s")
    sheet.put("read_rel", readS / c, "ratio")
    sheet.put("write_rel", writeS / c, "ratio")
    sheet.put("step_rel", stepRel(), "ratio")
    sheet.put("error_rate", if (attempted == 0) 0.0 else failures.size.toDouble / attempted, "ratio")
  }

  /** One loop step in units of the control job: the median time of
    * every op kind a step repeats, summed.  The rotating dashboard query
    * is a different query each step, so it is left out. */
  def stepRel(): Double =
    perKind(ops.map(_.kind).distinct.filterNot(_ == "query").toSeq) / Stats.median(controlS.toSeq)

  /** The median time of each op kind present, summed: one read (or
    * write) of every kind.  A failed op counts as +inf. */
  def perKind(kinds: Seq[String]): Double =
    ops.groupBy(_.kind).toSeq
      .filter { case (k, _) => kinds.exists(p => k == p || (p.endsWith(".") && k.startsWith(p))) }
      .map { case (_, os) => Stats.median(os.map(_.seconds).toSeq) }.sum

  /** Wall times of the control job: one before each timed op and three
    * after the last step. */
  val controlS = mutable.ArrayBuffer.empty[Double]

  /** The control job: a fixed aggregation with a shuffle over generated
    * rows, through Spark alone (no graft code), like the untouched
    * control queries graft.Bench normalizes by.  It runs between ops,
    * so it samples the host's speed all through the loop, and a change
    * to graft cannot move it. */
  def control(timed: Boolean): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    val t0 = System.nanoTime()
    spark.range(0L, 2000000L, 1L, cores).groupBy(col("id") % 1000)
      .agg(sum(col("id"))).collect()
    if (timed) controlS += (System.nanoTime() - t0) / 1e9
  }

  def tailOf(name: String, xs: Seq[Double]): Unit = {
    val (v, p, n) = Stats.tail(xs)
    sheet.put(name, v, "s")
    sheet.note(name, f"p$p%.1f of n=$n")
  }

  def write(path: String): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val metrics = sheet.values.map { case (k, (v, u)) =>
      s"${q(k)}: {\"value\": ${num(v)}, \"unit\": ${q(u)}}" }.mkString(", ")
    val notes = sheet.notes.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")
    val pw = new PrintWriter(new File(path), "UTF-8")
    try pw.println(s"""{"attempted": $attempted, "failed": ${failures.size}, """ +
      s""""failures": ${failures.map(q).mkString("[", ", ", "]")}, """ +
      s""""metrics": {$metrics}, "notes": {$notes}, "ops": [""" +
      ops.map(o => s"[${q(o.kind)}, ${q(o.name)}, ${num(o.seconds)}]").mkString(", ") + "]}")
    finally pw.close()
  }
}
