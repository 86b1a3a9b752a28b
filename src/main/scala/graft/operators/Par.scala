package graft.operators

/** Overlap INDEPENDENT Spark actions from a bounded driver pool
  * (optimization guide §2.6: actions are only sequential because the
  * driver calls them sequentially; scheduling independent jobs
  * together lets the next job's tasks back-fill executors freed by
  * the current job's tail — and at delta scale, where each job is a
  * handful of tasks, it collapses the serialized per-job scheduling
  * latency that otherwise IS the cost). Used for the independent
  * table writes of one store publish and for independent store
  * builds inside one composite lifecycle query. Exceptions propagate
  * to the caller (first failure wins, the pool is drained).
  */
object Par {

  /** Widen a CPU-heavy stage's input when the upstream layout would
    * starve it of parallelism — a single small-file scan (one parquet
    * file = one task regardless of cores) or a byte-coalesced tiny
    * shuffle/cache (AQE sizes partitions by bytes; per-row compute
    * cost is invisible to it). Applies an explicit round-robin
    * repartition to `defaultParallelism` ONLY when the estimated
    * input is small enough that the extra exchange is trivial
    * (bytes < parallelism × `graft.compute.widenTargetBytes`,
    * default 64 MB — i.e. the upstream could not have fanned out to
    * a partition per core at the advisory size anyway); above the
    * gate, and for sources with no size estimate, this is the
    * identity — a 100 TB scan already fans out and must NOT be
    * reshuffled for parallelism (guide §2.5 input-starvation remedy,
    * gated so it can never become an at-scale shuffle).
    */
  def widen(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    if (df.isStreaming) return df // no batch plan to size; see widenStream
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= BigInt(Long.MaxValue) / 4) return df // no estimate
    val target = BigInt(spark.conf
      .get("graft.compute.widenTargetBytes", (64L << 20).toString).toLong)
    // FLOOR: below ~minChunk per core the exchange + per-task scheduling
    // cost exceeds any per-row compute win (measured: widening a
    // delta-append's tokenization to 32 tasks was a net loss; widening
    // the corpus-sized passes a net win) — tiny inputs keep their
    // upstream layout. Scales with core count, so the rule is the same
    // at any deployment size; at 100 TB widen is identity via the big
    // gate anyway.
    val minChunk = BigInt(spark.conf
      .get("graft.compute.widenMinChunkBytes", (4L << 10).toString).toLong)
    if (bytes < minChunk.max(1) * cores) df
    else if (bytes >= target.max(1) * cores) df
    else df.repartition(cores)
  }

  /** [[widen]] for STREAMING inputs, where no size estimate exists at
    * plan time: an unconditional round-robin repartition to
    * defaultParallelism applied per micro-batch, placed BEFORE a
    * CPU-per-row stage so the arrival batch's compute fans out
    * instead of pipelining into the source scan's task count (a
    * single-file replay source is ONE task per batch). Production
    * shape: total cores is the right fan-out for per-arrival
    * enrichment compute at any scale — arrival batches are bounded by
    * the trigger, not by corpus size, and the exchange carries one
    * bounded batch.
    */
  def widenStream(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // a batch caller falls back to the bytes-gated path — widenStream's
    // unconditional exchange is only safe because arrival batches are
    // trigger-bounded, which no batch plan guarantees
    if (!df.isStreaming) widen(df)
    else df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Driver thread-pool width for one overlapped-job group: bounded so
    * a caller handing N segments can never spawn N driver threads.
    */
  private val MaxJobThreads = 8

  def jobs(work: (() => Unit)*): Unit = runJobs(work)

  /** [[jobs]] with the pool's drain wait as a parameter, so a spec can
    * force the stuck-pool path without waiting a minute.
    */
  private[graft] def runJobs(work: Seq[() => Unit], drainWaitMs: Long = 60000L): Unit = {
    if (work.size <= 1) { work.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(work.size, MaxJobThreads))
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val fs = work.map(w => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = {
        running.incrementAndGet()
        try w() finally running.decrementAndGet(): Unit
      }
    }))
    // First failure wins — but the pool is DRAINED before rethrowing:
    // cancel the siblings, stop the pool, and wait for every thread to
    // exit, so a failed store publish leaves no still-running sibling
    // write racing a caller's retry (which may re-list staging dirs).
    // The ExecutionException wrapper is unwrapped so callers (and test
    // seams) see the original cause. A worker that outlives the wait
    // (it ignored the interrupt) is an error of its own: the caller
    // must not go on while it still writes.
    var failure: Throwable = null
    fs.foreach { f =>
      if (failure == null) {
        try { f.get(); () }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            failure = Option(e.getCause).getOrElse(e)
            fs.foreach(_.cancel(true): Unit)
          case e: InterruptedException =>
            failure = e
            fs.foreach(_.cancel(true): Unit)
        }
      }
    }
    pool.shutdownNow()
    if (!pool.awaitTermination(drainWaitMs, java.util.concurrent.TimeUnit.MILLISECONDS)) {
      val stuck = new IllegalStateException(
        s"Par.jobs: ${running.get} worker(s) still running ${drainWaitMs} ms after cancellation")
      if (failure == null) throw stuck
      failure.addSuppressed(stuck)
    }
    if (failure != null) throw failure
  }

  /** Run `body` while `build` — a value-producing Spark-action chain
    * — runs on a daemon driver thread started IMMEDIATELY; `body` gets
    * a blocking, memoizing getter for the build's value. The streaming
    * form of [[two]]: a store bootstrap build is independent of the
    * stream-start machinery (MicroBatchExecution init, source listing,
    * batch-0 planning — none of which read the store), so the serve
    * and ingest queries start their stream inside `body` while the
    * build runs, and the foreachBatch body awaits the getter before
    * touching the store. Structured: the build is ALWAYS awaited
    * before this returns or rethrows, so it never outlives its caller
    * (a failed stream's build would otherwise keep writing a store the
    * next query resets). A body failure stays primary, with a build
    * failure attached as suppressed; a build failure propagates
    * unwrapped from the getter, and from here if the body never asked.
    */
  def overlapped[T, R](build: () => T)(body: (() => T) => R): R = {
    val fut = new java.util.concurrent.FutureTask[T](
      new java.util.concurrent.Callable[T] { def call(): T = build() })
    val t = new Thread(fut, "graft-async-build")
    t.setDaemon(true)
    t.start()
    def await(): T = {
      t.join()
      try fut.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    }
    val r =
      try body(() => await())
      catch {
        case e: Throwable =>
          try { await(); () }
          catch { case b: Throwable => if (b ne e) e.addSuppressed(b) }
          throw e
      }
    await()
    r
  }

  /** Two INDEPENDENT value-producing Spark-action chains overlapped —
    * the [[jobs]] contract (drain-before-rethrow, unwrapped cause) for
    * callers that need the results (e.g. training the IVF index and
    * the PQ codebooks concurrently: two independent scans of the same
    * persisted corpus, guide §2.6).
    */
  def two[A, B](a: () => A, b: () => B): (A, B) = {
    var ra: Option[A] = None
    var rb: Option[B] = None
    jobs(() => { ra = Some(a()) }, () => { rb = Some(b()) })
    (ra.get, rb.get)
  }
}
