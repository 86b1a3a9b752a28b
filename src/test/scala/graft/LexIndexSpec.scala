package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{LexIndex, SegmentStore}

/** Persisted lexical index LIFECYCLE (doc_lex_append / doc_lex_delete
  * / st_lex_append): append ≡ build(base ∪ delta) table for table,
  * tombstones gate serving immediately, compaction == build(surviving)
  * across its crash window, streaming ingest idempotent under batch
  * replay — the IvfPq lifecycle discipline on the text side.
  */
class LexIndexSpec extends SparkSpec {

  private def tmp(tag: String): String =
    tmpDir(s"lexlc_$tag")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** All four canonical store views, row-normalized. */
  private def storeRows(dir: String): Seq[Seq[String]] = {
    val l = LexIndex.loadIndex(spark, dir)
    Seq(rows(l.postings), rows(l.df), rows(l.dl), rows(l.totals))
  }

  test("append == build(base U delta) table for table; serving equality from the appended store") {
    val docs = Tables.documents(spark, sf)
    val isDelta = col("doc_id") % 10 === 7
    val (inc, mono) = (tmp("app_inc"), tmp("app_mono"))
    LexIndex.buildIndex(docs.filter(!isDelta), inc)
    LexIndex.appendToIndex(docs.filter(isDelta), inc)
    LexIndex.buildIndex(docs, mono)
    assert(storeRows(inc) == storeRows(mono),
      "appended store diverges from the monolithic build")
    assert(storeRows(inc).head.nonEmpty)
    // the serve path answers identically from the appended store
    val q = docs.filter(col("doc_id") < 5).select(col("doc_id"), col("text"))
    val served = rows(LexIndex.bm25FromIndex(LexIndex.loadIndex(spark, inc), q, 20))
    assert(served.nonEmpty)
    assert(served == rows(
      LexIndex.bm25FromIndex(LexIndex.loadIndex(spark, mono), q, 20)),
      "serving from the appended store diverges from the monolithic store")
  }

  test("delete gates serving immediately; compact == build(surviving); applied tombstones cleared") {
    val docs = Tables.documents(spark, sf)
    val isDel = col("doc_id") % 9 === 4
    val (dir, mono) = (tmp("del"), tmp("del_mono"))
    LexIndex.buildIndex(docs, dir)
    LexIndex.deleteFromIndex(docs.filter(isDel).select(col("doc_id")), dir)
    val delIds = docs.filter(isDel).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty)
    val l = LexIndex.loadIndex(spark, dir)
    // raw store untouched; live view is the complement
    assert(l.postings.filter(col("doc_id").isInCollection(delIds)).count() > 0,
      "delete must not rewrite the store")
    assert(l.livePostings.filter(col("doc_id").isInCollection(delIds)).count() == 0,
      "live view must drop tombstoned docs")
    // a deleted doc is unservable as a CANDIDATE the moment the
    // delete lands (before any compaction)
    val q = docs.filter(col("doc_id") < 5).select(col("doc_id"), col("text"))
    val served = LexIndex.bm25FromIndex(l, q, 20).collect()
    assert(served.nonEmpty)
    assert(!served.exists(r => delIds.contains(r.getLong(1))),
      "a tombstoned doc was served")
    LexIndex.compactIndex(spark, dir)
    LexIndex.buildIndex(docs.filter(!isDel), mono)
    assert(storeRows(dir) == storeRows(mono),
      "compacted store diverges from build(surviving)")
    assert(LexIndex.tombstonesOf(spark, dir).count() == 0,
      "applied tombstones must be cleared")
  }

  test("compaction crash window: staged-but-unpublished resumes; tombstones never cleared unapplied") {
    val docs = Tables.documents(spark, sf)
    val isDel = col("doc_id") % 9 === 4
    val (dir, mono) = (tmp("crash"), tmp("crash_mono"))
    LexIndex.buildIndex(docs, dir)
    LexIndex.deleteFromIndex(docs.filter(isDel).select(col("doc_id")), dir)
    val nAll = LexIndex.loadIndex(spark, dir).postings.count()
    // crash point: the rewrite is staged, the manifest swap does not land
    LexIndex.compactIndex(spark, dir, failAfterStage = true)
    val mid = LexIndex.loadIndex(spark, dir)
    assert(mid.postings.count() == nAll,
      "a crashed compaction must leave the old store intact")
    assert(LexIndex.tombstonesOf(spark, dir).count() > 0,
      "pending tombstones must survive the crash")
    val delIds = docs.filter(isDel).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(mid.livePostings
        .filter(col("doc_id").isInCollection(delIds)).count() == 0,
      "tombstones must keep gating the old store across the crash")
    // the next compaction call starts over from the old version and
    // retires the tombstones in the same manifest version that drops
    // their rows
    LexIndex.compactIndex(spark, dir)
    LexIndex.buildIndex(docs.filter(!isDel), mono)
    assert(storeRows(dir) == storeRows(mono),
      "the compaction after a crash diverges from build(surviving)")
    assert(LexIndex.tombstonesOf(spark, dir).count() == 0,
      "applied tombstones must be cleared")
    LexIndex.compactIndex(spark, dir)
    assert(storeRows(dir) == storeRows(mono),
      "a compaction with nothing to apply must be a no-op")
  }

  test("shard merge == monolithic build; serving equality; unsafe shards refused") {
    val docs = Tables.documents(spark, sf)
    val (a, b, m, mono) =
      (tmp("sm_a"), tmp("sm_b"), tmp("sm_m"), tmp("sm_mono"))
    LexIndex.buildIndex(docs.filter(col("doc_id") % 2 === 0), a)
    LexIndex.buildIndex(docs.filter(col("doc_id") % 2 === 1), b)
    LexIndex.mergeIndexes(spark, Seq(a, b), m)
    LexIndex.buildIndex(docs, mono)
    assert(storeRows(m) == storeRows(mono),
      "file-level merge diverges from the monolithic build")
    assert(storeRows(m).head.nonEmpty)
    // serving from the merged store == serving from the monolithic one
    val q = docs.filter(col("doc_id") < 5).select(col("doc_id"), col("text"))
    assert(
      rows(LexIndex.bm25FromIndex(LexIndex.loadIndex(spark, m), q, 20)) ==
        rows(LexIndex.bm25FromIndex(LexIndex.loadIndex(spark, mono), q, 20)),
      "serving from the merged store diverges")
    // a pending shard tombstone survives the merge and gates serving
    val victim = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id")).limit(1)
    val victimId = victim.collect().head.getLong(0)
    LexIndex.deleteFromIndex(victim, a)
    val m2 = tmp("sm_m2")
    LexIndex.mergeIndexes(spark, Seq(a, b), m2)
    val lm2 = LexIndex.loadIndex(spark, m2)
    assert(lm2.postings.filter(col("doc_id") === victimId).count() > 0,
      "raw merged store keeps the rows until compaction")
    assert(lm2.livePostings.filter(col("doc_id") === victimId).count() == 0,
      "the shard's pending tombstone must gate the merged live view")
    // refusal: an ingest receipt marks a shard as a serving store
    LexIndex.appendBatchToIndex(
      docs.filter(lit(false)).select(col("doc_id"), col("text")), a, 0L)
    val e1 = intercept[IllegalArgumentException] {
      LexIndex.mergeIndexes(spark, Seq(a, b), tmp("sm_ref1"))
    }
    assert(e1.getMessage.contains("ingest receipts"))
  }

  test("batch append crash windows: a torn append is whole-segment-invisible and rolls back") {
    val docs = Tables.documents(spark, sf)
    val isDelta = col("doc_id") % 10 === 7
    val (dir, mono) = (tmp("appcrash"), tmp("appcrash_mono"))
    LexIndex.buildIndex(docs.filter(!isDelta), dir)
    val baseRows = storeRows(dir)
    val delta = docs.filter(isDelta).select(col("doc_id"), col("text"))
    // crash between table writes: staging partial, nothing published
    LexIndex.appendToIndex(delta, dir, failAfter = "stage-partial")
    assert(storeRows(dir) == baseRows,
      "a crash between staged table writes must leave the store unchanged")
    // crash after staging completes, before any publish
    LexIndex.appendToIndex(delta, dir, failAfter = "staged")
    assert(storeRows(dir) == baseRows,
      "a staged-but-unpublished append must be invisible")
    // THE torn window: postings published, df/dl/totals not, no marker
    // — the files are on disk but loadIndex must see NONE of the
    // segment (whole segment or none, never torn statistics)
    LexIndex.appendToIndex(delta, dir, failAfter = "publish-partial")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val postFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/postings"))
      .map(_.getPath.getName).filter(_.startsWith("seg-"))
    assert(postFiles.nonEmpty,
      "the crash seam must leave partially-published segment files on disk")
    assert(storeRows(dir) == baseRows,
      "a torn multi-table publish leaked partial segment statistics")
    // serving equally blind to the torn segment
    val q = docs.filter(col("doc_id") < 5).select(col("doc_id"), col("text"))
    LexIndex.buildIndex(docs.filter(!isDelta), mono)
    assert(rows(LexIndex.bm25FromIndex(LexIndex.loadIndex(spark, dir), q, 20)) ==
      rows(LexIndex.bm25FromIndex(LexIndex.loadIndex(spark, mono), q, 20)),
      "serving must not see a torn append")
    // the next append call rolls the torn attempt back and lands clean
    LexIndex.appendToIndex(delta, dir)
    LexIndex.buildIndex(docs, mono)
    assert(storeRows(dir) == storeRows(mono),
      "post-rollback append diverges from build(base ∪ delta)")
  }

  test("tiered compaction: rewrites only tombstoned segments, untouched files byte-identical, crash resume") {
    val docs = Tables.documents(spark, sf)
    val isD1 = col("doc_id") % 10 === 7
    val isD2 = col("doc_id") % 10 === 8
    val isDel = col("doc_id") % 20 === 7 // strictly inside delta 1
    val (dir, mono) = (tmp("tiered"), tmp("tiered_mono"))
    LexIndex.buildIndex(docs.filter(!isD1 && !isD2), dir)
    LexIndex.appendToIndex(docs.filter(isD1), dir) // seg a1
    LexIndex.appendToIndex(docs.filter(isD2), dir) // seg a2
    LexIndex.deleteFromIndex(docs.filter(isDel).select(col("doc_id")), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def untouchedBytes(): Map[String, Seq[Byte]] =
      Seq("postings", "df", "dl", "totals").flatMap { t =>
        LexIndex.liveFiles(spark, dir, t)
          .filter(p => Set("base", "seg-a2")(LexIndex.segmentOf(p.getName)))
          .map { p =>
            val in = fs.open(p)
            val bytes = org.apache.commons.io.IOUtils.toByteArray(in).toSeq
            in.close(); (p.toString, bytes)
          }
      }.toMap
    val before = untouchedBytes()
    assert(before.nonEmpty)
    // crash window first: the rewrite is staged, the swap does not land
    LexIndex.compactIndex(spark, dir, failAfterStage = true)
    val nAll = docs.count()
    assert(LexIndex.loadIndex(spark, dir).dl.count() == nAll,
      "a crashed compaction must leave the old store intact")
    assert(LexIndex.tombstonesOf(spark, dir).count() > 0,
      "pending tombstones must survive the crash")
    // the next call starts over
    LexIndex.compactIndex(spark, dir)
    LexIndex.buildIndex(docs.filter(!isDel), mono)
    assert(storeRows(dir) == storeRows(mono),
      "tiered compaction diverges from build(surviving)")
    // the rewrite touched ONLY segment a1: base and a2 files are
    // byte-identical, a1's files are gone, the new segment is c1
    assert(untouchedBytes() == before,
      "an untouched segment's file changed across the compaction")
    val segsAfter = LexIndex.segmentsOf(spark, dir, "postings").keySet
    assert(!segsAfter.contains("seg-a1"), "the tombstoned segment must be dropped")
    assert(segsAfter.contains("seg-c1"), "survivors must land as the new segment")
    // the new segment holds EXACTLY delta-1's survivors
    val rewritten = LexIndex.segmentTable(spark, dir, "postings", "seg-c1")
    val expect = LexIndex.postings(docs.filter(isD1 && !isDel))
    assert(rows(rewritten) == rows(expect),
      "rewrite unit must be exactly the touched segment's survivors")
    // the swap retired the applied tombstones with their rows; a
    // further compaction finds nothing to rewrite
    assert(LexIndex.tombstonesOf(spark, dir).count() == 0)
    LexIndex.compactIndex(spark, dir)
    assert(storeRows(dir) == storeRows(mono),
      "a compaction with nothing to apply must be a no-op")
    assert(untouchedBytes() == before,
      "the no-op compaction must not rewrite anything")
  }

  test("tiered compaction across the merge boundary: only the tombstoned shard's slice is rewritten") {
    val docs = Tables.documents(spark, sf)
    val inShard0 = col("doc_id") % 2 === 0
    val isDel = col("doc_id") % 4 === 0 // strictly inside shard 0
    val (s0, s1, dir, mono) =
      (tmp("xmerge_s0"), tmp("xmerge_s1"), tmp("xmerge"), tmp("xmerge_mono"))
    LexIndex.buildIndex(docs.filter(inShard0), s0)
    LexIndex.buildIndex(docs.filter(!inShard0), s1)
    LexIndex.mergeIndexes(spark, Seq(s0, s1), dir)
    LexIndex.deleteFromIndex(docs.filter(isDel).select(col("doc_id")), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // shard 1's slice of the merged store must come through compaction
    // byte-identical — the delete predicate never touches its docs
    def shard1Bytes(): Map[String, Seq[Byte]] =
      Seq("postings", "df", "dl", "totals").flatMap { t =>
        LexIndex.liveFiles(spark, dir, t)
          .filter(_.getName.startsWith("shard1-"))
          .map { p =>
            val in = fs.open(p)
            val bytes = org.apache.commons.io.IOUtils.toByteArray(in).toSeq
            in.close(); (p.toString, bytes)
          }
      }.toMap
    val before = shard1Bytes()
    assert(before.nonEmpty)
    LexIndex.compactIndex(spark, dir)
    assert(shard1Bytes() == before,
      "an untombstoned shard's merged files changed across the compaction")
    assert(!LexIndex.liveFiles(spark, dir, "postings")
        .exists(_.getName.startsWith("shard0-")),
      "the tombstoned shard's slice must be folded into the new segment")
    LexIndex.buildIndex(docs.filter(!isDel), mono)
    assert(storeRows(dir) == storeRows(mono),
      "cross-merge tiered compaction diverges from build(surviving)")
  }

  test("compaction refuses an unfenced ingest store; the fence folds the stream's segments and clears receipts") {
    val docs = Tables.documents(spark, sf)
    val isDelta = col("doc_id") % 10 === 7
    val isDel = col("doc_id") % 9 === 4
    val (dir, mono) = (tmp("fence"), tmp("fence_mono"))
    LexIndex.buildIndex(docs.filter(!isDelta), dir)
    LexIndex.appendBatchToIndex(
      docs.filter(isDelta).select(col("doc_id"), col("text")), dir, 0L)
    LexIndex.deleteFromIndex(docs.filter(isDel).select(col("doc_id")), dir)
    // unfenced: refused — the store's stream may still be landing
    // batches
    val e = intercept[IllegalArgumentException] {
      LexIndex.compactIndex(spark, dir)
    }
    assert(e.getMessage.contains("ingest receipts"))
    // fenced: the stream's segments fold into the rewrite, receipts
    // clear, and the result is build(surviving)
    LexIndex.compactIndex(spark, dir, ingestFenced = true)
    LexIndex.buildIndex(docs.filter(!isDel), mono)
    assert(storeRows(dir) == storeRows(mono),
      "fenced compaction diverges from build(surviving)")
    assert(SegmentStore.open(spark, dir).batches.isEmpty,
      "the fence must clear the stream's receipts")
    assert(!LexIndex.segmentsOf(spark, dir, "postings").keySet
        .exists(_.startsWith("ingest-")),
      "no ingest segment may survive a fenced compaction")
  }

  test("streaming ingest replay-safe: committed no-op, pre-marker crash republished, equals batch build") {
    val docs = Tables.documents(spark, sf)
    val isDelta = col("doc_id") % 10 === 7
    val (dir, mono) = (tmp("ingest"), tmp("ingest_mono"))
    LexIndex.buildIndex(docs.filter(!isDelta), dir)
    val base = storeRows(dir)
    val delta = docs.filter(isDelta).select(col("doc_id"), col("text"))
    // crash after the postings publish, before the commit: invisible
    SegmentStore.ingestBatch(spark, dir, LexIndex.layout, 0L,
      failAfter = "publish-partial")(LexIndex.writeTables(delta, _, ""))
    assert(storeRows(dir) == base, "a torn ingest batch leaked rows")
    // its replay re-publishes the SAME deterministic file names —
    // multiplicity 1, never 2
    LexIndex.appendBatchToIndex(delta, dir, 0L)
    val once = storeRows(dir)
    assert(once != base)
    // committed batch replayed -> short-circuited no-op
    LexIndex.appendBatchToIndex(delta, dir, 0L)
    assert(storeRows(dir) == once, "a committed batch was re-applied")
    // the ingested store IS the monolithic build
    LexIndex.buildIndex(docs, mono)
    assert(once == storeRows(mono))
  }
}
