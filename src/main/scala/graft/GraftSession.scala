package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place graft builds a SparkSession, plus the per-query
  * pieces every harness shares: Bench, Verify, the specs and the
  * `graft.tools` mains.
  *
  * Environment (the only knobs):
  *  - `SPARK_GRAFT_SF_DIR`: scale-factor dir for Bench and the tools
  *    (default: the sf0.1 testdata);
  *  - `SPARK_GRAFT_CPUS`: local cores (default: every core the JVM sees);
  *  - `SPARK_GRAFT_ONLY`: comma-separated query-name filter;
  *  - `SPARK_GRAFT_RUNS`: timed runs per query (default 3).
  *
  * A conf A/B goes through Spark's own `-Dspark.*` JVM properties,
  * which SparkConf loads; the settings pinned below win over them.
  */
object GraftSession {
  type Query = (SparkSession, String) => DataFrame

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  // repetitions per query; the reported time is the median (odd count
  // recommended). Default 3 — single-run timings proved order-
  // dependent (JVM/JIT/block-manager noise swamped sub-second queries)
  def runs: Int = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt

  /** A `local[cores]` session with graft's extensions installed. */
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Let AQE size post-shuffle partitions by DATA VOLUME instead of
      // the core-count constant above, INCLUDING under persisted plans
      // (guide §2.2/§2.4 — partitioning must be scale-adaptive, not
      // tuned to either local mode or the cluster): cached-plan output
      // partitioning is pinned unless
      // canChangeCachedPlanOutputPartitioning=true, so every stage
      // under a store build's persist kept the full 32-partition
      // fan-out on KB-sized data. Scale-neutral byte rule: a
      // sandbox-sized aggregate lands in a handful of tasks, a 100 TB
      // shuffle still fans out to thousands of partitions.
      // (CPU-per-row stages that byte-sizing would starve widen
      // themselves explicitly — operators.Par.widen, bytes-gated.)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      // declared up front (Tables.table re-sets it as a no-op): the
      // generator's un-zoned TIMESTAMP(MICROS) must read as
      // session-zoned TIMESTAMP, not TIMESTAMP_NTZ
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // streaming queries materialize through a memory sink; at the
      // 100× tiling a single micro-batch's sink ingest can exceed the
      // 1 GiB default and fail a query that is otherwise healthy —
      // a harness limit, not an operator cost
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the TopK rewrite rule and the SQL functions, exactly as a cluster
    // deployment (spark.sql.extensions=graft.plans.GraftExtensions) has
    // them, plus graft's file: filesystem (graft.sources.LocalFs)
    graft.plans.GraftExtensions.install(spark)
    spark
  }

  /** SparkEntry.queries narrowed by `SPARK_GRAFT_ONLY`, SORTED BY NAME.
    * SparkEntry.queries is a HashMap: its iteration order is hash-trie
    * order, stable for a fixed key set but RESHUFFLED by every key
    * addition — so each round's new operators silently moved every
    * query to a different slot (= different wall-clock offset into the
    * run), which made round-over-round per-query deltas unreadable
    * whenever anything time-localized (external load, GC adjacency)
    * touched part of the window. Sorted order pins each query's slot.
    */
  def selected(): Seq[(String, Query)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
  }

  /** Materialize through the noop sink, not count(): under a count
    * Catalyst prunes projection-only work (string funcs, hashes,
    * fingerprints would never execute), so count() times little more
    * than the scan for those queries. The noop sink evaluates every
    * output row and discards it — the honest per-operator cost.
    */
  def run(spark: SparkSession, fn: Query, dir: String): Unit =
    fn(spark, dir).write.format("noop").mode("overwrite").save()

  /** Operators persist/localCheckpoint intermediates that outlive the
    * query (minhash base, CC labels), and finished streaming replays
    * pin their sink views and state stores; drop them between queries
    * — BLOCKING, so eviction I/O from query i never bleeds into query
    * i+1's timed window.
    */
  def clearState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    graft.streaming.QanStream.releaseReplayState(spark)
  }

  /** Applies `body` to each query in turn and clears session state
    * after each. A query that throws is logged as
    * `[tag] <name> failed: <message>` and the loop goes on; returns the
    * names that threw, in order.
    */
  def eachQuery(spark: SparkSession, queries: Seq[(String, Query)], tag: String)(
      body: (String, Query) => Unit): Seq[String] =
    queries.flatMap { case (name, fn) =>
      val failed = try { body(name, fn); None } catch {
        case e: Throwable =>
          System.err.println(s"[$tag] $name failed: ${e.getMessage}")
          Some(name)
      }
      clearState(spark)
      failed
    }

  // JVM counters that move with a query's cost. An r7-vs-r6 audit
  // showed 5-7x tight-band cost shifts on byte-identical code+data
  // that vanished when the same queries ran isolated — cumulative
  // in-run JVM state, not the plans. Printed per query they turn
  // "query X got slower" into "the code cache crossed its limit at
  // slot N" or "wall tracks the GC delta" without a re-run.
  private def poolMb(name: String => Boolean): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => name(p.getName)).map(_.getUsage.getUsed).sum / 1e6
  def codeCacheMb: Double = poolMb(_.startsWith("CodeHeap"))
  def oldGenMb: Double = poolMb(n => n.contains("Old") || n.contains("Tenured"))
  def gcSec: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  def loadedClasses: Long = ManagementFactory.getClassLoadingMXBean.getLoadedClassCount.toLong
}
