package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.GraftSession

/** Per-query cost attribution through the runner Bench times. For each
  * selected query: one untimed warm-up, then `SPARK_GRAFT_RUNS` runs
  * through the noop sink, each cleared and collected before it starts.
  * Every run prints
  *  - every Spark job it launched — the gap before it (driver-side
  *    work: planning, fs listings, renames, collects), wall clock, task
  *    count, description, and the stage names of jobs over 0.5 s — and
  *    a `SUMMARY wall in_jobs driver_gaps n_jobs` line;
  *  - the JVM counters that move with it: GC-time delta, old-gen
  *    occupancy before→after, code-cache size, and the generated
  *    classes Janino compiled (`codegen_compiles`, `codegen_ms`). Wall
  *    tracking the GC delta on an unchanged plan is allocation/GC
  *    variance, not cost; a warm run that still compiles means a
  *    codegen cache miss (a new class loader or a new literal in the
  *    generated code);
  *  - for a streaming query, its micro-batch progress summed over every
  *    stream it ran: batches with input, addBatch, state-store commit,
  *    the most state partitions any stateful operator ran with (each
  *    partition is one store committed per batch), and the largest
  *    state (rows, MB).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> SPARK_GRAFT_ONLY=doc_lex_compact_tiered \
  *        runMain graft.tools.QueryTrace
  */
object QueryTrace {
  private final case class Job(id: Int, start: Long, var end: Long, tasks: Int,
    desc: String, stages: String)

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession(GraftSession.cpus)
    val jobs = ArrayBuffer[Job]()
    val progress = ArrayBuffer[StreamingQueryProgress]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += Job(js.jobId, js.time, -1L, js.stageInfos.map(_.numTasks).sum,
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(js.stageInfos.lastOption.map(_.name.take(90)))
            .getOrElse("?").replace('\n', ' '),
          js.stageInfos.map(_.name.take(60)).mkString(" | "))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == je.jobId).foreach(_.end = je.time)
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val failed = GraftSession.eachQuery(spark, GraftSession.selected(), "querytrace") {
      (name, fn) =>
        GraftSession.run(spark, fn, sfDir) // warm-up, untimed
        for (r <- 1 to GraftSession.runs) {
          GraftSession.clearState(spark)
          System.gc()
          Bridge.drainListenerBus(spark)
          jobs.synchronized(jobs.clear())
          progress.synchronized(progress.clear())
          val (gc0, old0, cg0) = (GraftSession.gcSec, GraftSession.oldGenMb, codegen)
          val t0 = System.currentTimeMillis()
          GraftSession.run(spark, fn, sfDir)
          val wall = (System.currentTimeMillis() - t0) / 1e3
          val (gc1, old1, cg1) = (GraftSession.gcSec, GraftSession.oldGenMb, codegen)
          Bridge.drainListenerBus(spark)
          val tag = s"[querytrace] $name run=$r"
          printJobs(tag, t0, wall, jobs.synchronized(jobs.toVector).sortBy(_.start))
          println(f"$tag gc_delta=${gc1 - gc0}%6.2fs oldgen=${old0}%7.1f->${old1}%7.1fMB " +
            f"codecache=${GraftSession.codeCacheMb}%6.1fMB " +
            f"codegen_compiles=${cg1._1 - cg0._1} codegen_ms=${(cg1._2 - cg0._2) / 1e6}%.0f")
          printStreams(tag, progress.synchronized(progress.toVector))
        }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Janino compiles so far in this JVM, planning and tasks alike
    * (local mode): Spark's `CodegenMetrics` compilation-time count, and
    * `CodeGenerator.compileTime`, the exact nanosecond sum of the same
    * compiles. The histogram's own snapshot is a 1,028-sample decaying
    * reservoir of whole milliseconds, so its sum stops being additive
    * once the JVM has compiled more classes than that. */
  private def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** One line per job in start order, then the SUMMARY. A gap is the
    * time from the latest job end seen so far to this job's start; the
    * tail after the last job end counts as a driver gap too. */
  private def printJobs(tag: String, t0: Long, wall: Double, jobs: Seq[Job]): Unit = {
    println(f"$tag wall=${wall}%.2fs jobs=${jobs.size}")
    var prevEnd = t0
    var jobSec = 0.0
    var gapSec = 0.0
    jobs.foreach { j =>
      val gap = (j.start - prevEnd) / 1e3
      val dur = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
      if (gap > 0) gapSec += gap
      if (dur > 0) jobSec += dur
      println(f"$tag   gap=${gap}%6.3fs job=${j.id}%4d " +
        f"dur=${dur}%7.3fs tasks=${j.tasks}%4d  ${j.desc.take(90)}")
      if (dur > 0.5) println(s"$tag     stages: ${j.stages}")
      prevEnd = math.max(prevEnd, if (j.end > 0) j.end else j.start)
    }
    val tail = (t0 + (wall * 1000).toLong - prevEnd) / 1e3
    println(f"$tag SUMMARY wall=${wall}%.2fs in_jobs=${jobSec}%.2fs " +
      f"driver_gaps=${gapSec + math.max(0, tail)}%.2fs n_jobs=${jobs.size}")
  }

  private def printStreams(tag: String, progress: Seq[StreamingQueryProgress]): Unit =
    if (progress.nonEmpty) {
      val batches = progress.filter(_.numInputRows > 0)
      val addBatch = batches.map(p =>
        Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)).sum
      val state = batches.flatMap(_.stateOperators)
      val stateRows = if (state.isEmpty) 0L else state.map(_.numRowsTotal).max
      val stateMem = if (state.isEmpty) 0L else state.map(_.memoryUsedBytes).max
      val stateParts = if (state.isEmpty) 0L else state.map(_.numShufflePartitions).max
      println(f"$tag stream queries=${progress.map(_.runId).distinct.size} " +
        f"batches=${batches.size} addBatch=${addBatch}ms " +
        f"state_commit=${state.map(_.commitTimeMs).sum}ms state_parts=$stateParts " +
        f"state_rows=$stateRows state_mb=${stateMem / 1e6}%.1f")
    }
}
