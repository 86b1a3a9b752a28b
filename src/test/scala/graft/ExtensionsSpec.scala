package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.GraftExtensions
import graft.sources.OtelLogs

class ExtensionsSpec extends SparkSpec {

  // first in the suite, so no `install` call in this file has run yet
  test("the spec session carries GraftSession's pinned confs and extensions") {
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.driver.maxResultSize" -> "4g",
      "spark.ui.enabled" -> "false"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.sparkContext.master == "local[4]")
    val sh = spark.sql("SELECT simhash64('a b c')").collect()(0).getLong(0)
    assert(sh == spark.range(1).select(
      graft.functions.expressions.GraftFunctions.simhash64(lit("a b c"))).head.getLong(0))
  }

  test("runtime-installed SQL functions evaluate through spark.sql") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT simhash64('a b c') AS sh,
                poly_fingerprint('abc') AS pf,
                hamming64(255, 15) AS hd,
                cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cs""")
      .collect()(0)
    assert(r.getLong(2) == 4L)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
    assert(r.getLong(1) == graft.functions.expressions.PolyHash.ofBytes("abc".getBytes("UTF-8")))
    // literal-parameterized builders: k / window / mask come in as SQL
    // literals and must round-trip through the registered functions
    val r2 = spark.sql(
      """SELECT minhash_signature(gram_hashes(array('abc', 'bcd')), 8) AS sig,
                signature_overlap(array(1L, 2L), array(1L, 3L)) AS ov,
                chunk_fingerprints('the quick brown fox jumps over the lazy dog', 8, 31) AS cf"""
    ).collect()(0)
    assert(r2.getSeq[Long](0).length == 8)
    assert(r2.getLong(1) == 1L)
    assert(r2.getSeq[Long](2).nonEmpty)
    // round-5 additions: winnowing selection and char entropy
    val r3 = spark.sql(
      """SELECT winnow_fingerprints('the quick brown fox jumps over the lazy dog', 8, 16) AS wf,
                char_entropy('aaaa') AS flat,
                char_entropy('abcdefghabcdefgh') AS uniform""")
      .collect()(0)
    assert(r3.getSeq[Long](0).nonEmpty, "a 44-char doc has at least one fingerprint")
    assert(r3.getDouble(1) === 0.0)
    assert(math.abs(r3.getDouble(2) - 3.0) < 1e-12, "8 chars × 2 → exactly 3 bits")
    // round-6 addition: compiled word n-grams (default n=5, explicit n)
    val r4 = spark.sql(
      """SELECT word_grams('a b c d e f') AS g5,
                word_grams('a b c', 2) AS g2,
                word_grams('a b c') AS short""").collect()(0)
    assert(r4.getSeq[String](0) == Seq("a b c d e", "b c d e f"))
    assert(r4.getSeq[String](1) == Seq("a b", "b c"))
    assert(r4.getSeq[String](2).isEmpty, "<n tokens must yield empty, not throw")
    // n <= 0 must error at construction, not silently emit empty grams
    intercept[Exception](spark.sql("SELECT word_grams('a b c', 0)").collect())
    // round-7 addition: the Misra–Gries sketch aggregate through SQL —
    // analyzer must wrap the bare AggregateFunction (bloom_agg path);
    // 7 distinct values under k=10 means the sketch is exact here
    val r5 = spark.sql(
      """SELECT misra_gries(t, 10) AS sk
         FROM (SELECT concat('v', cast(id % 7 AS STRING)) AS t
               FROM range(0, 700))""").collect()(0)
    val sk = r5.getStruct(0)
    assert(sk.getLong(0) == 700L)
    assert(sk.getSeq[String](1).toSet == (0 until 7).map(i => s"v$i").toSet)
    intercept[Exception](spark.sql("SELECT misra_gries('x', 0)").collect())
  }

  test("withExtensions sessions get the functions and strategy declaratively") {
    // a cloned session picks up nothing automatically — apply the
    // extensions object to prove the injection path works
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(exts)
    // builders are registered; smoke one of them
    assert(GraftExtensions.functionBuilders.map(_._1).contains("simhash64"))
  }

  test("batch tasks, replays and collector drains all run under one class loader") {
    // Spark gives each session's artifact UUID its own executor class
    // loader, and every streaming query runs on a session clone with a
    // fresh UUID; install turns isolation off, so generated code
    // compiles once per JVM instead of once per query
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.sources.PollingSource
    import graft.streaming.QanStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    ExtensionsSpec.loaders.clear()
    val seen: Long => Long = ExtensionsSpec.seen
    assert(spark.range(8).as[Long].map(seen).collect().length == 8)
    (1 to 2).foreach { _ =>
      val ms = MemoryStream[Long]
      ms.addData(1L, 2L, 3L)
      assert(QanStream.runToMemory(ms.toDS().map(seen).toDF("v"), OutputMode.Append())
        .count() == 3)
    }
    object OneRow extends PollingSource.SnapshotFetcher {
      override def fetch(s: SparkSession, pollIndex: Long): DataFrame =
        s.range(1).toDF("v")
    }
    val staging = tmpDir("loader_staging", create = true)
    val (outDir, checkpoint) = (tmpDir("loader_out"), tmpDir("loader_ckpt"))
    (0L to 1L).foreach { i =>
      PollingSource.pollToStaging(spark, OneRow, polls = 1, stagingDir = staging,
        startIndex = i)
      val staged = PollingSource.stagedStream(spark, staging,
        spark.read.parquet(staging).schema)
      PollingSource.drainAvailableNow(
        staged.select(col("poll_index")).as[Long].map(seen).toDF("poll_index"),
        outDir, checkpoint)
    }
    assert(spark.read.parquet(outDir).as[Long].collect().sorted.toSeq == Seq(0L, 1L))
    assert(ExtensionsSpec.loaders.size == 1,
      s"tasks ran under ${ExtensionsSpec.loaders.size} class loaders: ${ExtensionsSpec.loaders}")
  }

  test("otel log export round-trips through the JSON sink/source") {
    val out = SparkEntry.queries("qan_otel_export")(spark, sf)
    val dir = tmpDir("otel_logs", create = true)
    OtelLogs.writeJson(out, dir)
    val back = OtelLogs.readJson(spark, dir)
    assert(back.count() == out.count())
    assert(back.columns.sorted.toSeq == out.columns.sorted.toSeq)
    // all exported deltas are positive, per collector.go:230
    assert(back.filter(col("delta_value") <= 0).count() == 0)
  }
}

object ExtensionsSpec {
  /** The context class loaders the spec's tasks ran under. */
  val loaders: java.util.Set[ClassLoader] = java.util.concurrent.ConcurrentHashMap.newKeySet()

  def seen(x: Long): Long = {
    loaders.add(Thread.currentThread.getContextClassLoader)
    x
  }
}
