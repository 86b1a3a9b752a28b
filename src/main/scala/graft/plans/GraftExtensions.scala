package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions.expressions._

/** Session extension entry points.
  *
  * Cluster deployment: set
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) and every session
  * gets the custom planner strategy plus the SQL-callable functions.
  * For an already-running session (e.g. the one `graft.GraftSession`
  * builds), the companion's `install(spark)` registers the same pieces
  * at runtime, and also puts graft's `file:` filesystem
  * (`graft.sources.LocalFs`) under the session's Hadoop conf and turns
  * off per-session artifact isolation. The extension route cannot do
  * either: such a deployment sets
  * `spark.sql.artifact.isolation.enabled=false` itself and, if it keeps
  * checkpoints on local disk, `spark.hadoop.fs.file.impl` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` (README).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectOptimizerRule(_ => TopKRewriteRule)
    GraftExtensions.functionBuilders.foreach { case (name, builder) =>
      e.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            "graft.functions.expressions", name),
          builder))
    }
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

  // scalar config args (k, window, mask) must be SQL literals — they
  // parameterize the generated code, not the per-row evaluation
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  // wrong-arity SQL calls should name the function and expected count,
  // not surface a raw IndexOutOfBoundsException from es(i)
  private def arity(fn: String, es: Seq[Expression], allowed: Int*): Unit =
    if (!allowed.contains(es.length)) throw new IllegalArgumentException(
      s"$fn expects ${allowed.mkString(" or ")} argument(s), got ${es.length}")

  val functionBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> (es => { arity("simhash64", es, 1); SimHash64(es.head) }),
    "poly_fingerprint" -> (es => { arity("poly_fingerprint", es, 1); PolyFingerprint(es.head) }),
    "hamming64" -> (es => { arity("hamming64", es, 2); HammingDistance64(es(0), es(1)) }),
    "cosine_similarity" -> (es => { arity("cosine_similarity", es, 2); CosineSimilarity(es(0), es(1)) }),
    "l1_distance" -> (es => { arity("l1_distance", es, 2); L1Distance(es(0), es(1)) }),
    "gram_hashes" -> (es => { arity("gram_hashes", es, 1); GramHashes(es.head) }),
    "sorted_intersect_count" -> (es => { arity("sorted_intersect_count", es, 2); SortedIntersectCount(es(0), es(1)) }),
    "minhash_signature" -> (es => { arity("minhash_signature", es, 2); MinHashSignature(es(0), intLit(es(1), "k")) }),
    "signature_overlap" -> (es => { arity("signature_overlap", es, 2); SignatureOverlap(es(0), es(1)) }),
    "chunk_fingerprints" -> (es => {
      arity("chunk_fingerprints", es, 1, 3)
      if (es.length == 1) ChunkFingerprints(es.head, 8, 31L)
      else ChunkFingerprints(es(0), intLit(es(1), "window"), longLit(es(2), "mask"))
    }),
    "winnow_fingerprints" -> (es => {
      arity("winnow_fingerprints", es, 1, 3)
      if (es.length == 1) WinnowFingerprints(es.head, 8, 16)
      else WinnowFingerprints(es(0), intLit(es(1), "k"), intLit(es(2), "w"))
    }),
    "char_entropy" -> (es => { arity("char_entropy", es, 1); CharEntropy(es.head) }),
    // aggregate: the analyzer wraps the bare AggregateFunction (same
    // treatment as bloom_agg below)
    "misra_gries" -> (es => {
      arity("misra_gries", es, 1, 2)
      if (es.length == 1) MisraGries(es.head, 200)
      else MisraGries(es(0), intLit(es(1), "k"))
    }),
    "word_grams" -> (es => {
      arity("word_grams", es, 1, 2)
      if (es.length == 1) WordGrams(es.head, 5)
      else WordGrams(es(0), intLit(es(1), "n"))
    }),
    // Spark's internal bloom pair, surfaced as SQL (the analyzer wraps
    // the bare AggregateFunction returned here into an AggregateExpression)
    "bloom_agg" -> (es => {
      arity("bloom_agg", es, 1, 3)
      if (es.length == 1)
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(es.head)
      else
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          es(0), es(1), es(2))
    }),
    "bloom_contains" -> (es => {
      arity("bloom_contains", es, 2)
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))
    }))

  /** Runtime registration on an existing session (idempotent).
    *
    * Also turns off Spark's per-session artifact isolation, so that
    * batch and streaming tasks run under the application's one class
    * loader. With isolation on, every session's jobs carry that
    * session's artifact UUID and executors give each UUID its own
    * `ExecutorClassLoader`; every streaming query runs on a clone of
    * the session with a fresh UUID, and `CodeGenerator`'s cache is
    * keyed by (class loader, code). So each collector drain and each
    * `st_*` replay compiled all of its generated classes again and ran
    * them under a cold JIT (README, "One class loader per application",
    * has the measured cost). graft adds no jar, file or artifact to a
    * session, so isolation separated nothing. Clones copy the conf, so
    * every query started after this call runs unisolated.
    */
  def install(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.artifact.isolation.enabled", "false")
    graft.sources.LocalFs.install(spark.sparkContext.hadoopConfiguration)
    TopK.install(spark)
    if (!spark.experimental.extraOptimizations.contains(TopKRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKRewriteRule
    functionBuilders.foreach { case (name, builder) =>
      org.apache.spark.sql.graft.Bridge.registerFunction(spark, name, builder)
    }
  }
}
