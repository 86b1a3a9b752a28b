package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.expressions.ExprKernels
import graft.operators.Dedup

/** Per-layer metrics of a traced run, derived from the tracer's spans,
  * jobs, stage aggregates and listener events.  Layers a workload
  * bypasses are left out here; run.py reports them as 0.
  */
object Layers {
  import Stats.{mean, median}

  /** The layers every workload exercises: queries (driver),
    * operators (stages) and jvm, over the ops of the traced phase. */
  def report(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val m = ctx.sheet
    val traced = ctx.ops.filter(_.ok)
    case class PerOp(jobs: Int, gapS: Double, tasks: Double, cpuS: Double,
        util: Double, shW: Double, shR: Double, spill: Double, gcS: Double,
        skew: Double, input: Double)
    val per = traced.map { o =>
      val root = t.spans(o.span)
      val sub = t.subtree(root.id)
      val jobs = t.jobsOf(sub)
      val wallMs = root.end - root.start
      val gap = wallMs - t.covered(jobs.map(j => (math.max(j.start, root.start),
        math.min(j.end, root.end))).filter(x => x._2 > x._1))
      val st = t.stageAggOf(sub).map(_._2)
      val cpuS = st.map(_.cpuNs).sum / 1e9
      val longest = st.sortBy(-_.runMs).headOption
      val skew = longest.map { a =>
        val d = a.durations.map(_.toDouble).toSeq
        if (d.isEmpty || median(d) <= 0) 1.0 else d.max / median(d)
      }.getOrElse(Double.NaN)
      PerOp(jobs.size, gap / 1e3, st.map(_.tasks).sum.toDouble, cpuS,
        cpuS / (wallMs / 1e3 * ctx.cores), st.map(_.shuffleWrite).sum.toDouble,
        st.map(_.shuffleRead).sum.toDouble, st.map(_.spill).sum.toDouble,
        st.map(_.gcMs).sum / 1e3, skew, st.map(_.inputBytes).sum.toDouble)
    }.toSeq
    val roots = traced.map(o => t.spans(o.span))
    val planMs = t.planMs.filter { case (at, _) => roots.exists(r => r.start <= at && at <= r.end) }
    m.put("queries.plan_ms", median(planMs.map(_._2).toSeq), "ms")
    m.put("queries.jobs_per_op", mean(per.map(_.jobs.toDouble)), "count")
    m.put("queries.driver_gap_s", median(per.map(_.gapS)), "s")
    m.put("operators.tasks", median(per.map(_.tasks)), "count")
    m.put("operators.executor_cpu_s", median(per.map(_.cpuS)), "s")
    m.put("operators.cpu_util", median(per.map(_.util)), "ratio")
    m.put("operators.shuffle_write_bytes", median(per.map(_.shW)), "B")
    m.put("operators.shuffle_read_bytes", median(per.map(_.shR)), "B")
    m.put("operators.spill_bytes", median(per.map(_.spill)), "B")
    m.put("operators.task_gc_s", median(per.map(_.gcS)), "s")
    m.put("operators.task_skew", median(per.map(_.skew).filterNot(_.isNaN)), "ratio")
    m.put("operators.input_bytes", median(per.map(_.input)), "B")
    m.put("jvm.gc_s", Jvm.gcSeconds, "s")
    m.put("jvm.code_cache_mb", Jvm.codeCacheMb, "MB")
    m.put("jvm.loaded_classes", Jvm.loadedClasses, "count")
    m.put("jvm.heap_after_gc_mb", Jvm.heapAfterGcMb, "MB")
  }

  /** sources and streaming, from the collector's spans and the
    * StreamingQueryProgress events of its drains. */
  def streaming(ctx: Ctx, staging: String, ckpt: String, ticks: Int): Unit = {
    val t = ctx.tracer
    val m = ctx.sheet
    val polls = t.spans.filter(_.name == "sources.pollToStaging").filter(!_.end.isNaN).toSeq
    val drains = t.spans.filter(_.name == "streaming.drainAvailableNow").filter(!_.end.isNaN).toSeq
    m.put("sources.stage_s", median(polls.map(s => (s.end - s.start) / 1e3)), "s")
    m.put("sources.jobs_per_poll", mean(polls.map(s => t.jobsOf(Set(s.id)).size.toDouble)), "count")
    val staged = IndexLifecycle.listFiles(new File(staging)).filter(_.getName.endsWith(".parquet"))
    m.put("sources.staged_files_per_poll", staged.size.toDouble / math.max(ticks, 1), "count")
    val rows = ctx.spark.read.parquet(staging).count()
    m.put("sources.staged_bytes_per_row", staged.map(_.length).sum.toDouble / math.max(rows, 1), "B")
    def at(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val byDrain = drains.map(d => d -> t.progress.toSeq.filter(p => at(p) >= d.start - 1 && at(p) <= d.end))
    val prog = byDrain.flatMap(_._2)
    m.put("streaming.drain_s", median(drains.map(d => (d.end - d.start) / 1e3)), "s")
    m.put("streaming.start_stop_s", median(byDrain.map { case (d, ps) =>
      ((d.end - d.start) - ps.map(dur(_, "triggerExecution")).sum) / 1e3 }), "s")
    for ((name, key) <- Seq("trigger_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
        "planning_ms" -> "queryPlanning", "latest_offset_ms" -> "latestOffset",
        "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets"))
      m.put(s"streaming.$name", median(prog.map(dur(_, key))), "ms")
    m.put("streaming.batches_per_tick", mean(byDrain.map(_._2.size.toDouble)), "count")
    val states = prog.flatMap(_.stateOperators.headOption)
    m.put("streaming.state_rows", states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
    m.put("streaming.state_bytes", states.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "B")
    m.put("streaming.state_commit_ms", median(states.map(_.commitTimeMs.toDouble)), "ms")
    m.put("streaming.checkpoint_files", IndexLifecycle.listFiles(new File(ckpt)).size.toDouble, "count")
  }

  private def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** operators (the LSH waste ratio) and expressions (kernel cost per
    * input unit) on the dedup corpus. */
  def dedup(ctx: Ctx, docs: DataFrame, verified: Int, text: Map[Long, String],
      planted: Array[(Long, Long)]): Unit = {
    val t = ctx.tracer
    val m = ctx.sheet
    val spark = ctx.spark
    t.active = true // spans for the calls below, outside any timed op
    val cands = t.span(spark, "operators.lshCandidateCount") {
      Dedup.lshCandidateCount(docs, "doc_id", "text")
    }
    m.put("operators.lsh_candidates", cands.toDouble, "count")
    m.put("operators.lsh_verified", verified.toDouble, "count")
    m.put("operators.lsh_useful_ratio", verified.toDouble / math.max(cands, 1L), "ratio")
    val capped = t.observed.filter(_._1.startsWith("graft_minhash_lsh"))
      .map(_._2.get("capped_bucket_rows").map(_.toString.toDouble).getOrElse(0.0))
    m.put("operators.lsh_capped_rows", capped.lastOption.getOrElse(0.0), "count")
    val withClass = ctx.spark.read.parquet(s"${ctx.inputs}/docs.parquet")
    for (cls <- Seq("c300", "c3k", "c9k")) {
      val slice = withClass.filter(col("len_class") === cls).select(col("doc_id"), col("text"))
      val chars = slice.agg(sum(length(col("text")))).first().getLong(0).toDouble
      val before = t.spans.size
      t.span(spark, s"expressions.signatures.$cls")(Dedup.lshCandidateCount(slice, "doc_id", "text"))
      Thread.sleep(300) // task-end events are delivered asynchronously
      val cpuNs = t.stageAggOf(t.subtree(before)).map(_._2.cpuNs).sum.toDouble
      m.put(s"expressions.sig_cpu_ns_per_char.$cls", cpuNs / chars, "ns")
    }
    t.active = false
    // single-thread kernel costs, straight into ExprKernels
    val sample = text.toSeq.sortBy(_._1).map(_._2).take(200)
    val grams = sample.map { s =>
      val g = CorpusDedup.shingles(s).toArray.sorted // set order is irrelevant to the kernel
      new GenericArrayData(g.map(x => UTF8String.fromString(x): Any))
    }
    val nGrams = grams.map(_.numElements().toLong).sum
    m.put("expressions.gram_hashes_ns_per_gram",
      timeNs(grams.foreach(ExprKernels.gramHashes)) / nGrams, "ns")
    val hashes = grams.map(ExprKernels.gramHashes)
    m.put("expressions.minhash_sig_ns_per_doc",
      timeNs(hashes.foreach(h => ExprKernels.minhashSignature(h, Dedup.DefaultK))) / hashes.size, "ns")
    val pairs = planted.toSeq.map { case (a, b) =>
      def h(id: Long) = ExprKernels.gramHashes(new GenericArrayData(
        CorpusDedup.shingles(text(id)).toArray.map(x => UTF8String.fromString(x): Any)))
      (h(a), h(b))
    }
    if (pairs.nonEmpty)
      m.put("expressions.intersect_ns_per_pair",
        timeNs(pairs.foreach { case (a, b) => ExprKernels.sortedIntersectCount(a, b) }) / pairs.size, "ns")
  }

  /** Median ns of one evaluation of `body`, after JIT warm-up. */
  private def timeNs(body: => Unit): Double = {
    val warmEnd = System.nanoTime() + 200000000L
    while (System.nanoTime() < warmEnd) body
    median((1 to 15).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble })
  }

  /** store: filesystem I/O per mutation, store shape after each op,
    * and serve-side load time, bytes and rows examined. */
  def store(ctx: Ctx, il: IndexLifecycle): Unit = {
    val t = ctx.tracer
    val m = ctx.sheet
    for (s <- Seq("lex", "vec")) {
      val mut = il.mutationIo.filter(x => x._1 == s && x._2 != "compact").toSeq
      m.put(s"store.read_ops.$s", median(mut.map(_._3.readOps.toDouble)), "count")
      m.put(s"store.write_ops.$s", median(mut.map(_._3.writeOps.toDouble)), "count")
      m.put(s"store.bytes_written.$s", median(mut.map(_._3.bytesWritten.toDouble)), "B")
      m.put(s"store.write_amp.$s", mut.map(_._3.bytesWritten.toDouble).sum / mut.map(_._4).sum, "ratio")
      // the mean over the states after each mutation (append, delete,
      // compact): what serving finds between rounds and at their peak
      val sh = il.shapes.filter(_._1 == s).toSeq
      m.put(s"store.live_files.$s", mean(sh.map(_._2.toDouble)), "count")
      m.put(s"store.segments.$s", mean(sh.map(_._3.toDouble)), "count")
      m.put(s"store.tombstones.$s", mean(sh.map(_._4.toDouble)), "count")
      val comp = il.mutationIo.filter(x => x._1 == s && x._2 == "compact").toSeq
      m.put(s"store.compact_bytes_rewritten.$s", median(comp.map(_._3.bytesWritten.toDouble)), "B")
      m.put(s"store.load_s.$s", median(t.spans.filter(x => x.name == s"store.$s.load" && !x.end.isNaN)
        .map(x => (x.end - x.start) / 1e3).toSeq), "s")
      val serves = il.serveIo.filter(_._1 == s).toSeq
      m.put(s"store.serve_bytes_read.$s", median(serves.map(_._2.bytesRead.toDouble)), "B")
      m.put(s"store.rows_examined_per_result.$s", median(serves.map { case (_, _, span, n) =>
        t.stageAggOf(t.subtree(span)).map(_._2.inputRecords).sum.toDouble / math.max(n, 1) }), "count")
    }
    m.put("store.vec_recall_at_10", m.values("vec_recall_at_10")._1, "ratio")
  }
}
