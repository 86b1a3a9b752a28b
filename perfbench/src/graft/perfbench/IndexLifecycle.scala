package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.expressions.GraftFunctions
import graft.operators.{IvfPq, LexIndex}

/** index_lifecycle: writes beside reads on both persisted stores.
  * Build a lexical (LexIndex) and a vector (IvfPq) store, then loop:
  * serve a BM25 batch, serve an IVF-PQ top-k batch, append a delta to
  * each store, tombstone a batch in each store, and compact each
  * store.
  */
final class IndexLifecycle(ctx: Ctx) extends Workload {
  import IndexLifecycle._
  private def spark = ctx.spark

  private def corpus = spark.read.parquet(s"${ctx.inputs}/corpus.parquet")
  private def docsOf(df: DataFrame) = df.select(col("doc_id"), col("text"))
  private def vecsOf(df: DataFrame) = df.select(col("doc_id").as("id"),
    col("embedding").cast(ArrayType(DoubleType)).as("v"))
  private def roundOf(r: Int) = corpus.filter(col("round") === r)

  private var lexDir: String = _
  private var vecDir: String = _
  private var halves: (IvfPq.Index, Array[Array[Array[Double]]]) = _
  /** ids appended so far (base included) and ids tombstoned so far */
  private val live = mutable.Set.empty[Long]
  private val deleted = mutable.Set.empty[Long]
  private var round = 0
  /** The last IVF-PQ batch served: round, results, ids live then. */
  private var lastVecServe: (Int, Array[Row], Set[Long]) = _
  private var nRounds = 0
  val shapes = mutable.ArrayBuffer.empty[(String, Int, Int, Int)] // store, files, segments, tombstones
  val mutationIo = mutable.ArrayBuffer.empty[(String, String, FsStats, Double)] // store, kind, io, user bytes
  val serveIo = mutable.ArrayBuffer.empty[(String, FsStats, Int, Int)] // store, io, op span, results

  private def build(base: DataFrame, lex: String, vec: String): Unit = {
    ctx.tracer.span(spark, "store.lex.build")(LexIndex.buildIndex(docsOf(base), lex))
    val v = vecsOf(base).persist()
    val n = v.count()
    halves = ctx.tracer.span(spark, "store.vec.build") {
      IvfPq.buildIndex(v, n, dim = 64, m = PqM, dsub = PqDsub, kCodes = PqK, dir = vec)
    }
    v.unpersist()
  }

  private def serveLex(dir: String, queries: DataFrame): Array[Row] = {
    val loaded = ctx.tracer.span(spark, "store.lex.load")(LexIndex.loadIndex(spark, dir))
    LexIndex.bm25FromIndex(loaded, queries.select(col("doc_id"), col("text")), QTerms)
      .filter(col("rank") <= K).collect()
  }

  /** The st_ivfpq_serve_topk composition, batch form: probe → ADC over
    * the live coded file → exact re-rank of the ADC pool. */
  private def serveVec(dir: String, queries: DataFrame): Array[Row] = {
    val loaded = ctx.tracer.span(spark, "store.vec.load")(IvfPq.loadIndex(spark, dir))
    val qv = queries.select(col("doc_id").as("query_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("qv"))
    val cand = IvfPq.probe(loaded.index, qv, "qv", Nprobe)
      .join(broadcast(loaded.live.withColumnRenamed("id", "neighbor_id")), Seq("cell"))
      .select(col("query_id"),
        GraftFunctions.adcCosineFromQuery(col("qv"), col("codes"), loaded.books, PqDsub).as("adc_cos"),
        col("neighbor_id"), lit(null).cast(ArrayType(DoubleType)).as("qv"))
    val queryRows = qv.select(col("query_id"), lit(null).cast(DoubleType).as("adc_cos"),
      lit(null).cast(LongType).as("neighbor_id"), col("qv"))
    val full = vecsOf(corpus).select(col("id").as("neighbor_id"), col("v").as("cv"))
    graft.queries.Streaming.serveTopkStage(full, cand.unionByName(queryRows), K).collect()
  }

  private def append(r: Int, lex: String, vec: String): Unit = {
    val delta = roundOf(r)
    mutation("lex", "append", textBytes(delta)) {
      LexIndex.appendToIndex(docsOf(delta), lex)
    }
    mutation("vec", "append", delta.count() * 64 * 4.0) {
      IvfPq.appendToIndex(halves._1, halves._2, PqDsub, vecsOf(delta), vec, "")
    }
  }

  private def delete(ids: DataFrame, n: Int, lex: String, vec: String): Unit = {
    mutation("lex", "delete", n * 8.0)(LexIndex.deleteFromIndex(ids, lex))
    mutation("vec", "delete", n * 8.0)(IvfPq.deleteFromIndex(ids.select(col("doc_id").as("id")), vec))
  }

  private def textBytes(df: DataFrame): Double =
    df.select(sum(octet_length(col("text")))).first().getLong(0).toDouble

  /** A timed mutation on one store, with its filesystem I/O. */
  private def mutation(store: String, kind: String, userBytes: => Double)(body: => Unit): Unit = {
    val ub = if (ctx.tracer.tracing) userBytes else 0.0
    val before = FsStats.now()
    val ok = ctx.op(s"${kind}_$store", s"store.$store.$kind")(body).isDefined
    if (ok && ctx.tracer.tracing && ctx.timed) mutationIo += ((store, kind, FsStats.now() - before, ub))
  }

  /** The shape of both stores as they are on disk: data files,
    * committed segments, and the rows of the pending tombstone table. */
  private def shape(): Unit = if (ctx.tracer.tracing && ctx.timed) {
    def files(d: String) = listFiles(new File(d)).count(f => !f.getName.startsWith("."))
    def entries(d: String) = Option(new File(d).list()).map(_.length).getOrElse(0)
    def tombstones(d: String) = {
      val parts = listFiles(new File(s"$d/tombstones")).filter(_.getName.endsWith(".parquet"))
      if (parts.isEmpty) 0 else spark.read.parquet(parts.map(_.getPath): _*).count().toInt
    }
    shapes += (("lex", files(lexDir), 1 + entries(s"$lexDir/_segments"), tombstones(lexDir)))
    shapes += (("vec", files(vecDir), 1 + entries(s"$vecDir/_append_commits"), tombstones(vecDir)))
  }

  /** Set-up: build the base stores (timed on their own as
    * index_build_s), then run round 0 untimed as the warm-up of every
    * op type; the timed loop starts at round 1. */
  override def warmUp(): Unit = {
    lexDir = s"${ctx.work}/stores/lex"
    vecDir = s"${ctx.work}/stores/vec"
    val base = corpus.filter(col("round") === -1)
    nRounds = corpus.agg(max(col("round"))).first().getInt(0) + 1
    live ++= base.select(col("doc_id")).collect().map(_.getLong(0))
    val t0 = System.nanoTime()
    build(base, lexDir, vecDir)
    ctx.sheet.put("index_build_s", (System.nanoTime() - t0) / 1e9, "s")
    val timed = ctx.timed
    ctx.timed = false
    try step(0) finally ctx.timed = timed
  }

  override def step(i: Int): Boolean = {
    if (round >= nRounds) return false
    val r = round
    val q = spark.read.parquet(s"${ctx.inputs}/queries.parquet").filter(col("round") === r)
    for ((store, serve) <- Seq[(String, (String, DataFrame) => Array[Row])](
        "lex" -> ((d, x) => serveLex(d, x)), "vec" -> ((d, x) => serveVec(d, x)))) {
      val dir = if (store == "lex") lexDir else vecDir
      val before = FsStats.now()
      val spanAt = ctx.tracer.spans.size
      ctx.op(s"serve_$store", s"store.$store.serve")(serve(dir, q)).foreach { rows =>
        if (store == "vec") lastVecServe = (r, rows, live.toSet)
        if (ctx.tracer.tracing && ctx.timed)
          serveIo += ((store, FsStats.now() - before, spanAt, rows.length))
        val idCol = if (store == "lex") "doc_id" else "neighbor_id"
        val hit = rows.map(_.getAs[Long](idCol)).filter(deleted.contains)
        ctx.check(s"round $r $store serve returns no tombstoned id") {
          if (hit.isEmpty) None else Some(s"served tombstoned ids ${hit.take(5).mkString(",")}")
        }
      }
    }
    append(r, lexDir, vecDir)
    shape()
    live ++= roundOf(r).select(col("doc_id")).collect().map(_.getLong(0))
    val dels = spark.read.parquet(s"${ctx.inputs}/deletes.parquet").filter(col("round") === r)
      .select(col("doc_id"))
    val delIds = dels.collect().map(_.getLong(0))
    delete(dels, delIds.length, lexDir, vecDir)
    deleted ++= delIds
    live --= delIds
    shape()
    mutation("lex", "compact", 0.0)(LexIndex.compactIndex(spark, lexDir))
    mutation("vec", "compact", 0.0)(IvfPq.compactIndex(spark, vecDir))
    shape()
    ctx.clearCaches()
    round += 1
    true
  }

  override def finish(): Unit = {
    val m = ctx.sheet
    m.put("lex_serve_p50_s", Stats.median(ctx.secondsOf("serve_lex")), "s")
    m.put("vec_serve_p50_s", Stats.median(ctx.secondsOf("serve_vec")), "s")
    ctx.tailOf("serve_tail_s", ctx.secondsOf("serve_lex", "serve_vec"))
    val mut = ctx.ops.filter(o => Ctx.WriteKinds.contains(o.kind) && o.ok).map(_.seconds)
    m.put("mutations_per_s", mut.size / mut.sum, "1/s")
    m.put("compact_p50_s", Stats.median(ctx.secondsOf("compact_lex", "compact_vec")), "s")
    val liveDf = corpus.filter(col("doc_id").isin(live.toSeq: _*))
    val userBytes = textBytes(liveDf) + live.size * 64 * 4.0
    val stores = dirBytes(new File(lexDir)) + dirBytes(new File(vecDir))
    m.put("store_space_amp", stores / userBytes, "ratio")
    m.note("index", s"$round rounds, ${live.size} live ids, ${deleted.size} tombstoned")
    // the lexical store, compacted, must equal a fresh build over the
    // live documents, table by table
    ctx.check("lexical store == fresh build over live docs") {
      LexIndex.compactIndex(spark, lexDir)
      val fresh = s"${ctx.work}/stores/lex-fresh"
      LexIndex.buildIndex(docsOf(liveDf), fresh)
      val (a, b) = (LexIndex.loadIndex(spark, lexDir), LexIndex.loadIndex(spark, fresh))
      val diffs = Seq("postings" -> ((l: LexIndex.Loaded) => l.livePostings),
          "df" -> ((l: LexIndex.Loaded) => l.df), "dl" -> ((l: LexIndex.Loaded) => l.liveDl),
          "totals" -> ((l: LexIndex.Loaded) => l.totals))
        .filter { case (_, f) => checksum(f(a)) != checksum(f(b)) }.map(_._1)
      if (diffs.isEmpty) None else Some(s"tables differ: ${diffs.mkString(", ")}")
    }
    val recall = vecRecall()
    m.put("vec_recall_at_10", recall, "ratio")
    ctx.check(s"vector recall@10 >= $RecallFloor") {
      if (recall >= RecallFloor) None else Some(f"recall@10 $recall%.3f below the floor $RecallFloor")
    }
    if (ctx.tracer.enabled) Layers.store(ctx, this)
  }

  /** Recall@10 of the last served IVF-PQ batch against exact cosine
    * top-k over the vectors live when it was served. */
  private def vecRecall(): Double = {
    val (r, rows, liveThen) = lastVecServe
    val q = spark.read.parquet(s"${ctx.inputs}/queries.parquet").filter(col("round") === r)
    val liveDf = corpus.filter(col("doc_id").isin(liveThen.toSeq: _*))
    val served = rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val vs = vecsOf(liveDf).collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val qs = q.select(col("doc_id"), col("embedding").cast(ArrayType(DoubleType))).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val per = qs.map { case (id, v) =>
      val exact = vs.map { case (j, w) => (j, cos(v, w)) }.sortBy(x => (-x._2, x._1)).take(K).map(_._1).toSet
      (served.getOrElse(id, Set.empty[Long]) intersect exact).size.toDouble / K
    }
    Stats.mean(per.toSeq)
  }
}

object IndexLifecycle {
  // the stored-serve constants of the vector and lexical serve queries
  val PqM = 16; val PqDsub = 4; val PqK = 64
  val Nprobe = 2; val K = 10; val QTerms = 20
  /** The floor for IVF-PQ recall@10 against exact top-10: HEAD measures
    * 0.44-0.58 on this corpus at nprobe 2; below 0.3 the serve path has
    * lost neighbours it used to find. */
  val RecallFloor = 0.3

  def listFiles(f: File): Seq[File] =
    Option(f.listFiles()).toSeq.flatten.flatMap(c => if (c.isDirectory) listFiles(c) else Seq(c))
  def dirBytes(f: File): Double = listFiles(f).map(_.length.toDouble).sum

  /** Order-independent table checksum: row count and the sum of the
    * rows' 64-bit hashes. */
  def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.sorted.map(col): _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).first()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}
