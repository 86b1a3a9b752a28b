package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Governor, SkewJoin}

class GovernorSpec extends SparkSpec {

  test("governor: thresholds drive backoff and recovery like governor.go") {
    val g = new Governor(baseIntervalSec = 1.0)
    assert(g.rawIntervalSec == 1.0)
    // sustained critical load → max backoff
    (1 to 20).foreach(_ => g.processLoad(0.95))
    assert(g.rawIntervalSec == 60.0, s"fast=${g.fastValue}")
    // recovery → back to base
    (1 to 30).foreach(_ => g.processLoad(0.1))
    assert(g.rawIntervalSec == 1.0)
    // high (not critical) load → exponential, capped, above base
    (1 to 30).foreach(_ => g.processLoad(0.8))
    assert(g.rawIntervalSec > 1.0 && g.rawIntervalSec < 60.0)
  }

  test("governor: EMA recurrence matches the distributed qan_ewma operator") {
    val loads = Seq(0.1, 0.5, 0.9, 0.3, 0.7)
    val g = new Governor()
    loads.foreach(g.processLoad)
    val expectedFast = loads.tail.foldLeft(loads.head)((acc, x) => acc + 0.3 * (x - acc))
    val expectedSlow = loads.tail.foldLeft(loads.head)((acc, x) => acc + 0.05 * (x - acc))
    assert(g.fastValue == expectedFast)
    assert(g.slowValue == expectedSlow)
  }

  test("governor: jitter stays within ±5% and at/above the minimum") {
    val g = new Governor(baseIntervalSec = 1.0, jitterPercent = 0.1)
    val samples = (1 to 100).map(_ => g.nextIntervalSec())
    assert(samples.forall(s => s >= 0.5 && math.abs(s - 1.0) <= 0.05 + 1e-9))
    assert(samples.distinct.size > 1, "jitter must vary")
  }

  test("governor: state persists across instances, stale state ignored") {
    val dir = tmpDir("gov", create = true)
    val g1 = new Governor(stateDir = Some(dir))
    (1 to 20).foreach(_ => g1.processLoad(0.95))
    g1.saveState()
    val g2 = new Governor(stateDir = Some(dir))
    assert(g2.rawIntervalSec == 60.0)
    assert(math.abs(g2.fastValue - g1.fastValue) < 1e-9)
    // stale (>1h old) state must not restore
    g1.saveState(nowMs = System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    val g3 = new Governor(stateDir = Some(dir))
    assert(g3.rawIntervalSec == 1.0 && g3.fastValue == 0.0)
    // reset deletes state
    g2.reset()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, Governor.StateFileName)))
  }

  test("two-phase skew join: only hot keys replicate, result exact") {
    import spark.implicits._
    // one genuinely hot key (1000 rows) among 20 cold keys (1 row each)
    val left = ((1 to 1000).map(i => (1L, i.toLong)) ++
      (2L to 21L).map(k => (k, 0L))).toDF("k", "lv")
    // build side: 3 rows for the hot key, 2 per cold key
    val right = ((1 to 3).map(i => (1L, s"h$i")) ++
      (2L to 21L).flatMap(k => Seq((k, "a"), (k, "b")))).toDF("k", "rv")
    val hot = SkewJoin.hotKeys(left, "k", hotFactor = 4.0)
      .collect().map(_.getLong(0)).toSet
    assert(hot == Set(1L), s"hot-key detection picked $hot")
    // replication ∝ hot build rows (3×buckets), NOT buckets × |build| (43×buckets)
    val replicated = SkewJoin.replicatedBuildRows(left, right, "k", buckets = 8)
    assert(replicated == 3L * 8, s"replicated $replicated rows")
    val plain = left.join(right, Seq("k"))
      .collect().map(_.toString).sorted.toSeq
    val salted = SkewJoin.saltedInner(left, right, "k", buckets = 8)
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
  }

  test("salted skew join equals the plain join") {
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(spark, sf).select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")
    val cols = Seq("o_custkey", "o_orderkey", "o_totalprice", "c_name").map(col)
    val plain = o.join(c, Seq("o_custkey")).select(cols: _*)
      .collect().map(_.toString).sorted.toSeq
    val salted = SkewJoin.saltedInner(o, c, "o_custkey", buckets = 8)
      .select(cols: _*)
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
  }
}
