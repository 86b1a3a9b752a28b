package graft

/** Zero-row total-function sweep: every batch query must run to
  * completion (typically to an empty result) on schema-correct but
  * EMPTY tables. At 100 TB this is the "selective filter upstream
  * matched nothing" / "new partition not yet populated" case — a
  * pipeline stage that crashes on an empty input kills the whole job
  * for a state of the world that is routine, not exceptional.
  * Streaming + polling entries are excluded: their harnesses block on
  * data availability by design and are exercised by StreamingSpec /
  * PollingSpec with explicit feeds.
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = tmpDir("empty")
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    names.foreach { n =>
      Tables.table(spark, sf, n).limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    // events goes through its loader so ts is already micros-typed
    Tables.events(spark, sf).limit(0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("two-level IVF operators are total over zero-row and single-vector corpora") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
    import graft.operators.{AnnIvf, IvfPq}
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", ArrayType(DoubleType))))
    def corpusOf(rows: Row*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val vec = Seq.tabulate(64)(i => 0.01 * (i + 1))
    // zero-row corpus: the index degenerates to no cells; assignment
    // and search produce zero rows, never a task crash (construction
    // validates length mismatch only — emptiness is a per-row concern
    // and no row ever evaluates)
    val empty = corpusOf()
    val idx0 = AnnIvf.twoLevelIndex(empty, cells = 16, dim = 64, 0L)
    assert(idx0.coarseIds.isEmpty)
    assert(IvfPq.assign(idx0, empty).count() == 0L)
    val q = corpusOf(Row(99L, vec))
      .select(col("id").as("query_id"), col("v").as("qv"))
    assert(IvfPq.flatTopK(idx0, empty, q, k = 5, nprobe = 2).count() == 0L,
      "queries against a zero-row corpus find nothing")
    // single-vector corpora, BOTH hash-sample fates: id=0 lands IN the
    // 60% training sample; id=1 hashes OUT, leaving the sample empty —
    // the corpus-fallback (twoLevelIndex) must still build one real
    // cell; before it, the probe-0 inner join silently dropped the
    // vector (the r9 bug class at its smallest reproduction)
    for (id <- Seq(0L, 1L)) {
      val one = corpusOf(Row(id, vec))
      val idx = AnnIvf.twoLevelIndex(one, cells = 16, dim = 64, 1L)
      assert(idx.coarseIds.nonEmpty, s"id=$id: index must have a cell")
      val inv = IvfPq.assign(idx, one).collect()
      assert(inv.length == 1, s"id=$id must be assigned, not silently dropped")
      val hits = IvfPq.flatTopK(idx, one, q, k = 5, nprobe = 2).collect()
      assert(hits.length == 1 && hits.head.getLong(2) == id,
        s"id=$id must be findable end-to-end")
    }
    // the index builder + assignment is total over the same corpora,
    // both shapes
    assert(IvfPq.assign(IvfPq.indexAuto(empty, 0L, dim = 64), empty).count() == 0L)
    assert(IvfPq.assign(IvfPq.indexAuto(empty, 0L, dim = 64, oneLevelMax = -1L),
      empty).count() == 0L)
  }

  test("every batch query is total over zero-row tables") {
    val batch = SparkEntry.queries.keys
      .filterNot(n => n.startsWith("st_") || n == "qan_poll_delta")
      .toSeq.sorted
    val failures = batch.flatMap { name =>
      try { SparkEntry.queries(name)(spark, emptyDir).collect(); None }
      catch { case e: Throwable => Some(s"$name: ${e.toString.take(200)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
