package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** corpus_dedup: near-duplicate removal over a generated corpus of
  * mixed document lengths.  One op is one pass: the rep-level MinHash
  * pairs, then cluster labels, written to the noop sink.
  */
final class CorpusDedup(ctx: Ctx) extends Workload {
  private def spark = ctx.spark
  private def docs: DataFrame = spark.read.parquet(s"${ctx.inputs}/docs.parquet")
    .select(col("doc_id"), col("text"))

  private def pass(df: DataFrame): (DataFrame, DataFrame) =
    ctx.tracer.span(spark, "operators.minhashNearDupRepPairs") {
      Dedup.minhashNearDupRepPairs(df, "doc_id", "text")
    }

  private def labels(repPairs: DataFrame, mem: DataFrame): DataFrame =
    Dedup.clusterLabelsFromReps(repPairs, mem)

  /** The warm-up pass runs over the whole corpus, and its outputs are
    * the ones the checks read (the pipeline is deterministic, so every
    * timed pass emits the same pairs and labels). */
  private var repPairs: Array[(Long, Long)] = _
  private var label: Map[Long, Long] = _

  override def warmUp(): Unit = {
    val (pairsDf, mem) = pass(docs)
    val p = pairsDf.persist()
    repPairs = p.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    label = labels(p, mem).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  override def step(i: Int): Boolean = {
    ctx.op("pass", "dedup.pass") {
      val (p, m) = pass(docs)
      ctx.tracer.span(spark, "operators.clusterLabelsFromReps") {
        labels(p, m).write.format("noop").mode("overwrite").save()
      }
    }
    ctx.clearCaches()
    true
  }

  override def finish(): Unit = {
    val n = docs.count()
    val passes = ctx.ops.filter(o => o.kind == "pass" && o.ok).map(_.seconds).toSeq
    ctx.sheet.put("dedup_docs_per_s", n / Stats.median(passes), "docs/s")
    val text = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val tau = Dedup.DefaultTau
    ctx.check("rep pairs have true 3-gram Jaccard >= tau") {
      val bad = repPairs.filter { case (a, b) => CorpusDedup.jaccard(text(a), text(b)) < tau }
      ctx.sheet.note("rep_pairs", s"${repPairs.length} emitted, ${bad.length} below tau")
      if (bad.isEmpty) None else Some(s"${bad.length} pairs below $tau: ${bad.take(3).mkString(", ")}")
    }
    val planted = spark.read.parquet(s"${ctx.inputs}/planted.parquet")
      .filter(col("jaccard") >= tau).collect().map(r => (r.getLong(0), r.getLong(1)))
    val found = planted.count { case (a, b) => label(a) == label(b) }
    ctx.sheet.put("dedup_recall", found.toDouble / planted.length, "ratio")
    ctx.sheet.note("dedup_recall", s"$found of ${planted.length} planted pairs with Jaccard >= $tau")
    ctx.check("every document labelled") {
      if (label.size == text.size) None else Some(s"${label.size} labels for ${text.size} docs")
    }
    if (ctx.tracer.enabled) Layers.dedup(ctx, docs, repPairs.length, text, planted)
  }
}

object CorpusDedup {
  /** Character 3-gram set over code points (the Spark pipeline's
    * grams; a text shorter than 3 is its own gram). */
  def shingles(t: String, n: Int = 3): Set[String] = {
    val cps = t.codePoints().toArray
    if (cps.length < n) Set(t)
    else (0 to cps.length - n).iterator.map(i => new String(cps, i, n)).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.count(y.contains)
    inter.toDouble / (x.size + y.size - inter)
  }
}
