package graft

import org.apache.spark.sql.functions._

/** Degenerate-input regressions: empty / single-word documents and
  * NaN vectors must not crash or diverge from the oracle's drop rule.
  */
class EdgeCaseSpec extends SparkSpec {

  /** sf0.001 documents with two degenerate rows appended: an empty
    * doc and a single-word doc (the testdata corpus has neither).
    */
  private lazy val edgeDir: String = {
    val dir = tmpDir("edge_docs")
    val base = Tables.documents(spark, sf)
    val extra = spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(900001L, "", "en", "edge", 0L),
        org.apache.spark.sql.Row(900002L, "hello", "en", "edge", 5L)),
      base.schema)
    base.unionByName(extra).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the unchanged embeddings table rides along: cross-table doc
    // queries (doc_hybrid_rrf) must be total too — and the degenerate
    // docs have NO embedding row, exercising the lexical-only fusion
    Tables.embeddings(spark, sf).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("doc_repetition_stats drops bigram-less docs instead of emitting nulls") {
    val out = SparkEntry.queries("doc_repetition_stats")(spark, edgeDir)
    val edge = out.filter(col("doc_id") >= 900000L).collect()
    assert(edge.isEmpty, s"degenerate docs should be dropped, got ${edge.mkString(",")}")
    // the rest of the corpus is unaffected and null-free
    assert(out.filter(col("top_bigram").isNull || col("top_bigram_frac").isNull).count() === 0)
    assert(out.count() === Tables.documents(spark, sf).count())
  }

  test("mm_frame_sample skips empty payloads instead of throwing on sequence(0,-1)") {
    val out = SparkEntry.queries("mm_frame_sample")(spark, edgeDir)
    assert(out.filter(col("doc_id") === 900001L).count() === 0)
    // the one-word doc still yields its single frame
    assert(out.filter(col("doc_id") === 900002L).count() === 1)
  }

  test("every documents-table query survives a degenerate corpus") {
    // the sweep: empty and single-word docs must never crash an
    // operator — correctness vs the oracle is the driver gate's job,
    // this asserts total functions over degenerate input
    val docQueries = SparkEntry.queries.keys.filter(n =>
      n.startsWith("doc_") || n.startsWith("mm_")).toSeq.sorted
    val failures = docQueries.flatMap { name =>
      try { SparkEntry.queries(name)(spark, edgeDir).collect(); None }
      catch { case e: Throwable => Some(s"$name: ${e.toString.take(200)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every embeddings-table query survives zero, NaN and empty vectors") {
    val dir = tmpDir("edge_emb")
    val base = Tables.embeddings(spark, sf)
    def vec(f: Int => Float): java.util.List[java.lang.Float] = {
      val l = new java.util.ArrayList[java.lang.Float](64)
      (0 until 64).foreach(i => l.add(f(i)): Unit)
      l
    }
    val extra = spark.createDataFrame(java.util.List.of(
        // zero vector: zero norm → cosine 0/0 hazards
        org.apache.spark.sql.Row(900001L, vec(_ => 0.0f), 0),
        // NaN coordinates: every distance/dot is NaN
        org.apache.spark.sql.Row(900002L, vec(_ => Float.NaN), 0),
        // empty array: no coordinates at all
        org.apache.spark.sql.Row(900003L, new java.util.ArrayList[java.lang.Float](), 0)),
      base.schema)
    base.unionByName(extra).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val embQueries = SparkEntry.queries.keys.filter(_.startsWith("emb_")).toSeq.sorted
    val failures = embQueries.flatMap { name =>
      try { SparkEntry.queries(name)(spark, dir).collect(); None }
      catch { case e: Throwable => Some(s"$name: ${e.toString.take(200)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("nearest-cell kernels rank NaN vectors deterministically, no crash") {
    import graft.functions.expressions.GraftFunctions
    val cents = Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(2.0, 2.0))
    val ids = Array(10, 11, 12)
    val df = spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(1L, java.util.List.of(Double.NaN, 0.5)),
        // exact binary fractions → a true distance tie between cells
        // 10 and 12 (2.125 each), resolved to the earlier cell
        org.apache.spark.sql.Row(2L, java.util.List.of(1.25, 0.75))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))))
    val got = df.select(col("id"),
        GraftFunctions.nearestCell(col("v"), cents, ids).as("cell"),
        GraftFunctions.nearestCells(col("v"), cents, ids, 2).as("cells"))
      .orderBy(col("id")).collect()
    // all-NaN distances: earliest cell wins under Double.compare
    assert(got(0).getInt(1) === 10)
    assert(got(0).getSeq[Int](2) === Seq(10, 11))
    // well-formed vector: unchanged argmin semantics
    assert(got(1).getInt(1) === 11)
    assert(got(1).getSeq[Int](2) === Seq(11, 10))
  }
}
