package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.PollingSource
import graft.streaming.QanStream

/** The reference's collector loop (poll a cumulative-counter
  * statements table → stage → delta) against a stub fetcher: the
  * sandbox has no live database, so the injectable-fetch seam is the
  * tested surface, with the JDBC fetcher as the production
  * implementation of the same trait.
  */
class PollingSpec extends SparkSpec {

  /** Cumulative counters over polls; q2 resets at poll 2 (restart). */
  private object StubFetcher extends PollingSource.SnapshotFetcher {
    override def fetch(s: SparkSession, pollIndex: Long): DataFrame = {
      import s.implicits._
      Seq(
        ("q1", 10L * (pollIndex + 1)),
        ("q2", if (pollIndex < 2) 100L * (pollIndex + 1) else 5L))
        .toDF("digest", "counter")
    }
  }

  private def counterEvents(staged: DataFrame) = {
    import spark.implicits._
    staged.select(
        col("poll_index").as("event_id"),
        lit(1L).as("user_id"),
        col("digest").as("event_type"),
        timestamp_micros(col("poll_ts")).as("ts"),
        col("counter").cast(DecimalType(38, 18)).as("counter"))
      .as[QanStream.CounterEvent]
  }

  test("poll → stage → AvailableNow drain → deltas, with state across drains") {
    val staging = tmpDir("poll_staging", create = true)
    val checkpoint = tmpDir("poll_ckpt", create = true)
    val clock: Long => Long = i => i * 30_000_000L // 30s per poll, in micros

    val staged = PollingSource.pollToStaging(spark, StubFetcher,
      polls = 3, stagingDir = staging, clock = clock)
    assert(staged == Seq(2L, 2L, 2L))

    val outDir = tmpDir("poll_out", create = true)
    val schema = spark.read.parquet(staging).schema
    def drain(): Map[(String, Long), Double] = {
      val stream = PollingSource.stagedStream(spark, staging, schema)
      PollingSource.drainAvailableNow(
        QanStream.deltaStream(counterEvents(stream)).toDF(), outDir, checkpoint)
      spark.read.parquet(outDir).collect()
        .map(r => (r.getString(2), r.getLong(0)) -> r.getDouble(3)).toMap
    }

    // first poll counts fully; growth is diffed; q2's reset at poll 2
    // emits the current value (CalculateDeltas semantics)
    assert(drain() == Map(
      ("q1", 0L) -> 10.0, ("q1", 1L) -> 10.0, ("q1", 2L) -> 10.0,
      ("q2", 0L) -> 100.0, ("q2", 1L) -> 100.0, ("q2", 2L) -> 5.0))

    // a later poll tick: stage one more snapshot, drain with the SAME
    // checkpoint — only the new file is read, and the delta continues
    // from the checkpointed per-digest state (the reference's
    // SnapshotStore surviving across ticks)
    object Poll3 extends PollingSource.SnapshotFetcher {
      override def fetch(s: SparkSession, i: Long): DataFrame = {
        import s.implicits._
        Seq(("q1", 40L), ("q2", 25L)).toDF("digest", "counter")
      }
    }
    PollingSource.pollToStaging(spark, Poll3, polls = 1, stagingDir = staging,
      startIndex = 3L, clock = _ => 3 * 30_000_000L)
    val d2 = drain()
    assert(d2 == Map(
      ("q1", 0L) -> 10.0, ("q1", 1L) -> 10.0, ("q1", 2L) -> 10.0,
      ("q2", 0L) -> 100.0, ("q2", 1L) -> 100.0, ("q2", 2L) -> 5.0,
      ("q1", 3L) -> 10.0, ("q2", 3L) -> 20.0),
      s"expected continuation from checkpointed counters, got $d2")
  }

  /** The numeric partition dirs of stateful operator 0. */
  private def statePartitionDirs(checkpoint: String): Int =
    Option(new java.io.File(s"$checkpoint/state/0").listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.forall(_.isDigit))

  test("each poll runs its fetch once and returns the rows it staged") {
    // a live source changes between two queries of it: call n returns
    // n - 1 rows (the first poll sees an empty table), so a second fetch
    // to count would disagree with the write
    object Drifting extends PollingSource.SnapshotFetcher {
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      override def fetch(s: SparkSession, i: Long): DataFrame = {
        val n = calls.incrementAndGet()
        s.range(n - 1L).select(col("id").cast("string").as("digest"),
          col("id").as("counter"))
      }
    }
    val staging = tmpDir("poll_once", create = true)
    val counts = PollingSource.pollToStaging(spark, Drifting, polls = 3,
      stagingDir = staging, clock = _ => 0L)
    assert(Drifting.calls.get == 3, "one fetch per poll")
    val written = spark.read.parquet(staging).groupBy("poll_index").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == (0L to 2L).map(written.getOrElse(_, 0L)))
    assert(counts == Seq(0L, 1L, 2L))
  }

  test("a fresh drain keeps one state store; a resumed 8-partition checkpoint keeps 8") {
    val clock: Long => Long = i => i * 30_000_000L
    def run(resume8: Boolean): (Map[(String, Long), Double], Int) = {
      val staging = tmpDir("poll_parts_staging", create = true)
      val checkpoint = tmpDir("poll_parts_ckpt", create = true)
      val outDir = tmpDir("poll_parts_out", create = true)
      PollingSource.pollToStaging(spark, StubFetcher, polls = 3, stagingDir = staging,
        clock = clock)
      val schema = spark.read.parquet(staging).schema
      def deltas() = QanStream.deltaStream(
        counterEvents(PollingSource.stagedStream(spark, staging, schema))).toDF()
      if (resume8) {
        // the checkpoint an 8-partition drain created: started directly,
        // the way every drain was started before drains took one partition
        val key = "spark.sql.shuffle.partitions"
        val prev = spark.conf.get(key)
        spark.conf.set(key, "8")
        val q = try deltas().writeStream.outputMode("append").format("parquet")
            .option("path", outDir).option("checkpointLocation", checkpoint)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          finally spark.conf.set(key, prev)
        q.awaitTermination()
      } else PollingSource.drainAvailableNow(deltas(), outDir, checkpoint)
      object Poll3 extends PollingSource.SnapshotFetcher {
        override def fetch(s: SparkSession, i: Long): DataFrame = {
          import s.implicits._
          Seq(("q1", 40L), ("q2", 25L)).toDF("digest", "counter")
        }
      }
      PollingSource.pollToStaging(spark, Poll3, polls = 1, stagingDir = staging,
        startIndex = 3L, clock = _ => 3 * 30_000_000L)
      PollingSource.drainAvailableNow(deltas(), outDir, checkpoint)
      val got = spark.read.parquet(outDir).collect()
        .map(r => (r.getString(2), r.getLong(0)) -> r.getDouble(3)).toMap
      (got, statePartitionDirs(checkpoint))
    }
    val continued = Map(
      ("q1", 0L) -> 10.0, ("q1", 1L) -> 10.0, ("q1", 2L) -> 10.0,
      ("q2", 0L) -> 100.0, ("q2", 1L) -> 100.0, ("q2", 2L) -> 5.0,
      ("q1", 3L) -> 10.0, ("q2", 3L) -> 20.0)
    assert(run(resume8 = false) == (continued, 1))
    assert(run(resume8 = true) == (continued, 8))
  }

  test("a drain checkpoint survives a swap between the stock and graft's file: filesystem") {
    // one staged file per poll: q1 grows by 10, q2 resets at poll 2
    object OneFile extends PollingSource.SnapshotFetcher {
      override def fetch(s: SparkSession, i: Long): DataFrame = {
        import s.implicits._
        Seq(("q1", 10L * (i + 1)), ("q2", Seq(100L, 200L, 5L, 25L)(i.toInt)))
          .toDF("digest", "counter").coalesce(1)
      }
    }
    val truth = Map(("q1", 0L) -> 10.0, ("q1", 1L) -> 10.0, ("q1", 2L) -> 10.0,
      ("q1", 3L) -> 10.0, ("q2", 0L) -> 100.0, ("q2", 1L) -> 100.0, ("q2", 2L) -> 5.0,
      ("q2", 3L) -> 20.0)
    val conf = spark.sparkContext.hadoopConfiguration
    def twoThenTwo(before: () => Unit, after: () => Unit): Unit = {
      val staging = tmpDir("poll_swap_staging", create = true)
      val checkpoint = tmpDir("poll_swap_ckpt", create = true)
      val outDir = tmpDir("poll_swap_out", create = true)
      before()
      (0 until 4).foreach { i =>
        if (i == 2) after()
        PollingSource.pollToStaging(spark, OneFile, polls = 1, stagingDir = staging,
          startIndex = i.toLong, clock = j => j * 30_000_000L)
        val schema = spark.read.parquet(staging).schema
        PollingSource.drainAvailableNow(QanStream.deltaStream(counterEvents(
          PollingSource.stagedStream(spark, staging, schema))).toDF(), outDir, checkpoint)
      }
      // batch n's source-log entry names the one file poll n staged
      val entries = (0 until 4).map { n =>
        val lines = Files.readAllLines(java.nio.file.Paths.get(s"$checkpoint/sources/0/$n"))
        lines.size - 1
      }
      assert(entries == Seq(1, 1, 1, 1))
      assert(!new java.io.File(s"$checkpoint/sources/0/4").exists)
      val got = spark.read.parquet(outDir).collect()
        .map(r => (r.getString(2), r.getLong(0)) -> r.getDouble(3)).toMap
      assert(got == truth)
      assert(got.groupMapReduce(_._1._1)(_._2)(_ + _) == Map("q1" -> 40.0, "q2" -> 225.0))
    }
    try {
      twoThenTwo(() => LocalFsSpec.useStock(conf), () => graft.plans.GraftExtensions.install(spark))
      twoThenTwo(() => graft.plans.GraftExtensions.install(spark), () => LocalFsSpec.useStock(conf))
    } finally graft.sources.LocalFs.install(conf)
  }

  test("jdbc fetcher builds a partitioned production read") {
    // no live DB in the sandbox: assert the option plumbing, not the scan
    val f = PollingSource.JdbcFetcher(
      url = "jdbc:postgresql://localhost:5432/qan", table = "pg_stat_statements",
      user = "u", password = "p",
      partitionColumn = Some("queryid"), lowerBound = 0L, upperBound = 1L << 20,
      numPartitions = 8)
    // constructing the reader must not touch the network; load() would
    assert(f.numPartitions == 8 && f.partitionColumn.contains("queryid"))
  }
}
