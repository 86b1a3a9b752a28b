package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracing of one benchmark run.
  *
  * Spans are recorded by the benchmark around each call it makes into a
  * graft layer, while a timed op runs; Spark jobs become child spans
  * through the job group the tracer sets for the innermost open span.
  * Three listeners registered on the benchmark's own session (a
  * SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener) collect the counters; events are attributed
  * to an op by job group and time, so work between ops (the control
  * job, the benchmark's bookkeeping) belongs to no op.  Everything stays
  * in memory until the run ends.
  *
  * Times are wall-clock milliseconds (doubles), the clock Spark stamps
  * its job events with.
  */
final class Tracer(val enabled: Boolean) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Int, parent: Int, op: Int, name: String,
      start: Double, var end: Double = Double.NaN)
  final case class Job(id: Int, group: Option[Int], start: Double,
      var end: Double = Double.NaN, stages: Seq[Int])
  final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inputBytes = 0L; var inputRecords = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var opId = 0
  /** True once the traced phase of a traced run has started: the
    * listeners are registered and the counting filesystem is in place. */
  @volatile var tracing: Boolean = false
  /** Whether spans are being recorded now: while a timed op of the
    * traced phase runs. */
  @volatile var active: Boolean = false

  val jobs = mutable.Map.empty[Int, Job]
  val stages = mutable.Map.empty[Int, StageAgg]
  /** (start of analysis, analysis + optimization + planning), ms, per
    * query execution */
  val planMs = mutable.ArrayBuffer.empty[(Double, Double)]
  /** observe() metrics seen on successful executions, by name prefix */
  val observed = mutable.ArrayBuffer.empty[(String, Map[String, Any])]
  val progress = mutable.ArrayBuffer.empty[
    org.apache.spark.sql.streaming.StreamingQueryProgress]

  def newOp(): Int = { opId += 1; opId }

  /** Run `body` inside a span named `name`. */
  def span[T](spark: SparkSession, name: String, op: Int = opId)(body: => T): T = {
    if (!active) return body
    val sc = spark.sparkContext
    val parent = open.headOption
    val s = Span(spans.size, parent.map(_.id).getOrElse(-1), op, name, nowMs)
    spans.synchronized(spans += s)
    open.push(s)
    sc.setJobGroup(s"bench-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.end = nowMs
      open.pop()
      parent match {
        case Some(p) => sc.setJobGroup(s"bench-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def innermostAt(t: Double): Option[Int] = spans.synchronized {
    spans.reverseIterator.find(s => s.start <= t && (s.end.isNaN || s.end >= t))
      .map(_.id)
  }

  /** Start the traced phase: count filesystem calls at the Hadoop
    * boundary (cached filesystems are dropped, so every later lookup
    * gets the counting one) and register the listeners. */
  def register(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.hadoopConfiguration.set("fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    org.apache.hadoop.fs.FileSystem.closeAll()
    tracing = true
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // a pooled thread may carry the group of a span that has since
        // closed; such jobs go to the innermost span open at job start
        val t = e.time.toDouble
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("bench-")).map(_.stripPrefix("bench-").toInt)
          .filter(id => spans.synchronized {
            val s = spans(id); s.end.isNaN || s.end >= t })
          .orElse(innermostAt(t))
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId, g, e.time.toDouble, stages = e.stageIds)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) stages.synchronized {
          val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.runMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRecords += m.inputMetrics.recordsRead
          a.durations += e.taskInfo.duration
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
        if (ph.nonEmpty) planMs.synchronized {
          planMs += ((ph.map(_.startTimeMs).min.toDouble,
            ph.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
        }
        qe.observedMetrics.foreach { case (name, row) =>
          observed.synchronized {
            observed += name -> row.schema.fieldNames.map(f => f -> row.getAs[Any](f)).toMap
          }
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += e.progress)
    })
  }

  // ------------------------------------------------------- derived views

  def jobsOf(spanIds: Set[Int]): Seq[Job] =
    jobs.values.filter(_.group.exists(spanIds.contains)).toSeq

  /** The span and all spans under it. */
  def subtree(id: Int): Set[Int] = {
    val out = mutable.Set(id)
    var grew = true
    while (grew) {
      val next = spans.filter(s => out.contains(s.parent)).map(_.id).toSet
      grew = !next.subsetOf(out)
      out ++= next
    }
    out.toSet
  }

  /** Length of the union of intervals, ms. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => !x._2.isNaN).sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  def stageAggOf(spanIds: Set[Int]): Seq[(Int, StageAgg)] = {
    val st = jobsOf(spanIds).flatMap(_.stages).toSet
    stages.synchronized(stages.filter(kv => st.contains(kv._1)).toSeq)
  }
}

/** Filesystem I/O snapshot: byte counts from the Hadoop FileSystem
  * statistics (all schemes summed), metadata and data calls from
  * [[CountingLocalFileSystem]] (zero until the traced phase). */
final case class FsStats(readOps: Long, writeOps: Long, bytesRead: Long,
    bytesWritten: Long) {
  def -(o: FsStats): FsStats = FsStats(readOps - o.readOps,
    writeOps - o.writeOps, bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}
object FsStats {
  @annotation.nowarn("cat=deprecation")
  def now(): FsStats = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    FsStats(CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get,
      all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

/** The local filesystem, counting the calls made through it: reads are
  * opens, listings and status lookups; writes are creates, renames,
  * deletes and directory creations. */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  import CountingLocalFileSystem.{reads, writes}
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission) }
}
object CountingLocalFileSystem {
  val reads = new java.util.concurrent.atomic.AtomicLong
  val writes = new java.util.concurrent.atomic.AtomicLong
}

/** JVM-level counters from the MXBeans and /proc. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("CodeCache"))
    .map(_.getUsage.getUsed).sum / 1048576.0
  def loadedClasses: Double =
    ManagementFactory.getClassLoadingMXBean.getLoadedClassCount.toDouble
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  /** Peak resident set size of this process (VmHWM), MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
  def startMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

}
