package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.operators.{AnnPq, IvfPq}

/** Distributed index build (train-once → shard-encode → file-level
  * merge): merged == monolithic bit for bit in BOTH regimes,
  * mismatched trained halves refused, shard tombstones survive the
  * merge.
  */
class MergeSpec extends SparkSpec {

  private def corpus(): DataFrame =
    Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))

  private def tmp(tag: String): String =
    s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_merge_${tag}_" +
      java.util.UUID.randomUUID.toString.take(8)

  private def storeRows(dir: String): Set[(Long, Seq[Int], Int)] =
    IvfPq.loadIndex(spark, dir).inverted.collect()
      .map(r => (r.getLong(1), r.getSeq[Int](2).toList: Seq[Int], r.getInt(0)))
      .toSet

  private def buildMerged(oneLevelMax: Long, tag: String): (String, String) = {
    val c = corpus().persist()
    val n = c.count()
    val index = IvfPq.indexAuto(c, n, dim = 64, oneLevelMax = oneLevelMax)
    val books = AnnPq.collectCodebooks(
      AnnPq.refinedCodebooks(c, 16, 4, 64), 16)
    val (dirA, dirB, dirM, dirMono) =
      (tmp(s"${tag}_a"), tmp(s"${tag}_b"), tmp(s"${tag}_m"), tmp(s"${tag}_mono"))
    IvfPq.encodeShard(index, books, 4, c.filter(col("id") % 2 === 0), dirA)
    IvfPq.encodeShard(index, books, 4, c.filter(col("id") % 2 === 1), dirB)
    IvfPq.mergeIndexes(spark, Seq(dirA, dirB), dirM)
    IvfPq.buildIndex(c, n, dim = 64, m = 16, dsub = 4, kCodes = 64,
      dir = dirMono, oneLevelMax = oneLevelMax)
    c.unpersist()
    (dirM, dirMono)
  }

  test("merged shards == monolithic build, one-level regime") {
    val (m, mono) = buildMerged(graft.operators.AnnIvf.OneLevelMaxVectors, "one")
    assert(storeRows(m) == storeRows(mono))
    assert(storeRows(m).nonEmpty)
  }

  test("merged shards == monolithic build, FORCED two-level regime") {
    val (m, mono) = buildMerged(-1L, "two")
    // the merged store must load as two-level (trained halves carried)
    IvfPq.loadIndex(spark, m).index match {
      case IvfPq.TwoLevelIndexW(_, _) => ()
      case other => fail(s"merged store loaded as $other")
    }
    assert(storeRows(m) == storeRows(mono))
    assert(storeRows(m).nonEmpty)
  }

  test("mismatched trained halves are refused") {
    val c = corpus().persist()
    val n = c.count()
    val books = AnnPq.collectCodebooks(
      AnnPq.refinedCodebooks(c, 16, 4, 64), 16)
    val idxFull = IvfPq.indexAuto(c, n, dim = 64)
    // a DIFFERENT training corpus → different centroids
    val half = c.filter(col("id") % 2 === 0)
    val idxHalf = IvfPq.indexAuto(half, half.count(), dim = 64)
    val (dirA, dirB) = (tmp("mm_a"), tmp("mm_b"))
    IvfPq.encodeShard(idxFull, books, 4, c.filter(col("id") % 2 === 0), dirA)
    IvfPq.encodeShard(idxHalf, books, 4, c.filter(col("id") % 2 === 1), dirB)
    val e = intercept[IllegalArgumentException] {
      IvfPq.mergeIndexes(spark, Seq(dirA, dirB), tmp("mm_m"))
    }
    assert(e.getMessage.contains("trained table"))
    c.unpersist()
  }

  test("pending shard tombstones survive the merge") {
    val c = corpus().persist()
    val n = c.count()
    val index = IvfPq.indexAuto(c, n, dim = 64)
    val books = AnnPq.collectCodebooks(
      AnnPq.refinedCodebooks(c, 16, 4, 64), 16)
    val (dirA, dirB, dirM) = (tmp("tb_a"), tmp("tb_b"), tmp("tb_m"))
    IvfPq.encodeShard(index, books, 4, c.filter(col("id") % 2 === 0), dirA)
    IvfPq.encodeShard(index, books, 4, c.filter(col("id") % 2 === 1), dirB)
    // a delete lands against shard A before the merge
    val victim = c.filter(col("id") % 2 === 0).select(col("id")).limit(1)
    val victimId = victim.collect().head.getLong(0)
    IvfPq.deleteFromIndex(victim, dirA)
    IvfPq.mergeIndexes(spark, Seq(dirA, dirB), dirM)
    val merged = IvfPq.loadIndex(spark, dirM)
    assert(merged.inverted.filter(col("id") === victimId).count() == 1,
      "raw store keeps the row until compaction")
    assert(merged.live.filter(col("id") === victimId).count() == 0,
      "the shard's pending tombstone must gate the merged live view")
    c.unpersist()
  }

  test("merge is shard-count invariant: merge(4) == merge(2) == monolithic") {
    val c = corpus().persist()
    val n = c.count()
    val index = IvfPq.indexAuto(c, n, dim = 64)
    val books = AnnPq.collectCodebooks(
      AnnPq.refinedCodebooks(c, 16, 4, 64), 16)
    val dirs4 = (0 until 4).map { i =>
      val d = tmp(s"n4_$i")
      IvfPq.encodeShard(index, books, 4, c.filter(col("id") % 4 === i), d)
      d
    }
    val dirs2 = (0 until 2).map { i =>
      val d = tmp(s"n2_$i")
      IvfPq.encodeShard(index, books, 4, c.filter(col("id") % 2 === i), d)
      d
    }
    val (m4, m2, mono) = (tmp("n4_m"), tmp("n2_m"), tmp("n_mono"))
    IvfPq.mergeIndexes(spark, dirs4, m4)
    IvfPq.mergeIndexes(spark, dirs2, m2)
    IvfPq.buildIndex(c, n, dim = 64, m = 16, dsub = 4, kCodes = 64, dir = mono)
    val expect = storeRows(mono)
    assert(expect.nonEmpty)
    assert(storeRows(m4) == expect, "4-shard merge diverges from monolithic")
    assert(storeRows(m2) == expect, "2-shard merge diverges from monolithic")
    c.unpersist()
  }

  test("SERVING from a merged store == the monolithic-store serve (shared serve stages)") {
    // mergeIndexes output is proven bit-equal to the monolithic build,
    // and lifecycle ops run against it — close the loop: the ONLINE
    // serve (the same hybridFeed + serveTopkStage functions
    // st_ivfpq_serve_topk / st_hybrid_serve execute per micro-batch)
    // consumes a MERGED store and answers identically to the
    // monolithic one.
    val (m, mono) = buildMerged(graft.operators.AnnIvf.OneLevelMaxVectors, "serve")
    val c = corpus()
    val full = c.select(col("id").as("neighbor_id"), col("v").as("cv"))
    val reqs = c.filter(col("id") < 5)
      .select(col("id").as("query_id"), lit("").as("text"), col("v").as("qv"))
    def served(dir: String): Seq[String] = {
      val loaded = IvfPq.loadIndex(spark, dir)
      val feed = graft.queries.Streaming.hybridFeed(loaded, reqs)
        .filter(col("token").isNull).drop("token")
        .localCheckpoint(true)
      graft.queries.Streaming.serveTopkStage(full, feed)
        .collect().map(_.toString).sorted.toSeq
    }
    val fromMerged = served(m)
    assert(fromMerged.nonEmpty)
    assert(fromMerged == served(mono),
      "online serve from the merged store diverged from the monolithic store")
  }

  test("online HYBRID serve from MERGED stores (both modalities) == monolithic") {
    import graft.operators.LexIndex
    // the full RAG serving path (st_hybrid_serve's live stages) with
    // BOTH persisted retrievers loaded from mergeIndexes outputs —
    // the distributed-build-to-online-serve loop closed end to end
    val docs = Tables.documents(spark, sf)
    val (la, lb, lm, lmono) =
      (tmp("hs_la"), tmp("hs_lb"), tmp("hs_lm"), tmp("hs_lmono"))
    LexIndex.buildIndex(docs.filter(col("doc_id") % 2 === 0), la)
    LexIndex.buildIndex(docs.filter(col("doc_id") % 2 === 1), lb)
    LexIndex.mergeIndexes(spark, Seq(la, lb), lm)
    LexIndex.buildIndex(docs, lmono)
    val (vm, vmono) = buildMerged(graft.operators.AnnIvf.OneLevelMaxVectors, "hs")
    val c = corpus()
    val full = c.select(col("id").as("neighbor_id"), col("v").as("cv"))
    val reqs = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text"))
      .join(c.filter(col("id") < 5)
        .select(col("id").as("query_id"), col("v").as("qv")), Seq("query_id"))
    def served(lexDir: String, vecDir: String): Seq[String] = {
      val lex = LexIndex.loadIndex(spark, lexDir)
      val feed = graft.queries.Streaming
        .hybridFeed(IvfPq.loadIndex(spark, vecDir), reqs)
        .localCheckpoint(true)
      graft.queries.Streaming.hybridServeStage(lex, full, feed)
        .collect().map(_.toString).sorted.toSeq
    }
    val fromMerged = served(lm, vm)
    assert(fromMerged.nonEmpty)
    assert(fromMerged == served(lmono, vmono),
      "hybrid serve from merged stores diverged from the monolithic stores")
  }

  test("merged store supports the full lifecycle: append + delete + compact") {
    val c = corpus().persist()
    val n = c.count()
    // train on the FULL corpus (the distributed-build contract), hold
    // out id%10==9 as the post-merge ingest delta
    val base = c.filter(col("id") % 10 =!= 9)
    val delta = c.filter(col("id") % 10 === 9)
    val index = IvfPq.indexAuto(c, n, dim = 64)
    val books = AnnPq.collectCodebooks(
      AnnPq.refinedCodebooks(c, 16, 4, 64), 16)
    val (dirA, dirB, dirM, dirMono) =
      (tmp("lc_a"), tmp("lc_b"), tmp("lc_m"), tmp("lc_mono"))
    IvfPq.encodeShard(index, books, 4, base.filter(col("id") % 2 === 0), dirA)
    IvfPq.encodeShard(index, books, 4, base.filter(col("id") % 2 === 1), dirB)
    IvfPq.mergeIndexes(spark, Seq(dirA, dirB), dirM)
    // append the delta, then delete id%7==3 — both against the MERGED
    // store (until now only built stores got lifecycle ops)
    IvfPq.appendToIndex(IvfPq.loadIndex(spark, dirM), delta, dirM)
    IvfPq.deleteFromIndex(c.filter(col("id") % 7 === 3).select(col("id")), dirM)
    // reference: monolithic encode of the full corpus under the same
    // frozen halves, minus the deleted ids
    IvfPq.buildIndex(c, n, dim = 64, m = 16, dsub = 4, kCodes = 64,
      dir = dirMono)
    val expect = storeRows(dirMono).filterNot { case (id, _, _) => id % 7 == 3 }
    def liveRows(dir: String): Set[(Long, Seq[Int], Int)] =
      IvfPq.loadIndex(spark, dir).live.select(col("cell"), col("id"), col("codes"))
        .collect()
        .map(r => (r.getLong(1), r.getSeq[Int](2).toList: Seq[Int], r.getInt(0)))
        .toSet
    assert(liveRows(dirM) == expect,
      "merged+appended live view diverges from monolithic-minus-deleted")
    // compaction physically removes the tombstoned rows, bit-preserving
    // the rest — the raw store equals the live view afterwards
    IvfPq.compactIndex(spark, dirM)
    assert(storeRows(dirM) == expect,
      "post-compaction merged store diverges from monolithic-minus-deleted")
    c.unpersist()
  }

  test("a shard carrying streaming-ingest receipts is refused by merge") {
    val c = corpus().persist()
    val n = c.count()
    val index = IvfPq.indexAuto(c, n, dim = 64)
    val books = AnnPq.collectCodebooks(
      AnnPq.refinedCodebooks(c, 16, 4, 64), 16)
    val (dirA, dirB) = (tmp("rc_a"), tmp("rc_b"))
    IvfPq.encodeShard(index, books, 4, c.filter(col("id") % 2 === 0), dirA)
    IvfPq.encodeShard(index, books, 4, c.filter(col("id") % 2 === 1), dirB)
    // a streaming batch lands against shard A: its ingest receipt makes
    // it a serving store — batchIds are per-stream, so merging the
    // receipt is meaningless and dropping it breaks exactly-once
    IvfPq.appendBatchToIndex(IvfPq.loadIndex(spark, dirA),
      c.filter(col("id") % 2 === 0).limit(3), dirA, batchId = 0L)
    val e = intercept[IllegalArgumentException] {
      IvfPq.mergeIndexes(spark, Seq(dirA, dirB), tmp("rc_m"))
    }
    assert(e.getMessage.contains("ingest receipts"))
    c.unpersist()
  }
}
