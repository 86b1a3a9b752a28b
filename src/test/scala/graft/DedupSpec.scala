package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.expressions.{GraftFunctions, PolyHash}
import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("minhash LSH finds the exact-jaccard pairs (high recall) and only verified pairs (perfect precision)") {
    // brute-force truth on the capped range the oracle query uses
    val truth = SparkEntry.queries("doc_ngram_jaccard_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.minhashNearDupPairs(
        Tables.documents(spark, sf).filter(col("doc_id") < 200), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact by construction (candidates are verified)
    assert(got.subsetOf(truth), s"unverified pairs leaked: ${got -- truth}")
    // recall: 36 hashes / 6 bands of 6 → P(collide | j≥0.8) ≈ 1-(1-0.8^6)^6 ≈ 0.84
    if (truth.nonEmpty) {
      val recall = got.intersect(truth).size.toDouble / truth.size
      assert(recall >= 0.6, s"recall $recall too low (truth=${truth.size}, got=${got.size})")
    }
  }

  test("boilerplate cluster: 1k identical docs produce zero LSH candidates, not O(m²)") {
    import spark.implicits._
    // an exact-duplicate cluster (the boilerplate failure mode of web
    // corpora) must be collapsed by the pre-pass BEFORE banding: 1000
    // identical docs + 3 distinct ones must yield at most C(4,2)=6
    // candidate rep pairs — not ~500k
    val docs = ((1L to 1000L).map(i => (i, "identical boilerplate header text repeated across the crawl")) ++
      Seq((2001L, "a unique document about distributed query planning"),
        (2002L, "another unique document about columnar file formats"),
        (2003L, "a third unique document about stream processing state")))
      .toDF("doc_id", "text")
    val candidates = Dedup.lshCandidateCount(docs, "doc_id", "text")
    assert(candidates <= 6, s"candidate count $candidates not bounded by distinct-text pairs")
    // and the verified OUTPUT still contains every within-cluster pair
    // at jaccard 1.0 (expansion restores what the pre-pass collapsed)
    val pairs = Dedup.minhashNearDupPairs(docs.filter(col("doc_id") <= 50 || col("doc_id") > 2000),
      "doc_id", "text")
    assert(pairs.filter(col("jaccard") === 1.0).count() == 50L * 49 / 2)
  }

  test("oversized band buckets are dropped by the occupancy cap") {
    import spark.implicits._
    // 40 NEAR-identical (not exact) docs: distinct texts survive the
    // pre-pass, all land in the same band buckets; cap 10 drops those
    // buckets so the candidate join stays bounded
    val docs = (1L to 40L)
      .map(i => (i, s"shared boilerplate body that dominates the shingle set entirely $i"))
      .toDF("doc_id", "text")
    val capped = Dedup.lshCandidateCount(docs, "doc_id", "text", bucketCap = 10)
    val uncapped = Dedup.lshCandidateCount(docs, "doc_id", "text", bucketCap = 1000)
    // uncapped: all 40 docs collide → C(40,2)=780 candidates; capped:
    // only stragglers in sub-cap buckets survive (a handful at most)
    assert(uncapped == 780L, s"expected the full clique uncapped, got $uncapped")
    assert(capped <= uncapped / 10,
      s"cap barely reduced the candidate join (capped=$capped uncapped=$uncapped)")
  }

  test("simhash: identical text → identical fingerprint; token-permuted text → equal; distinct text → distinct") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "dog lazy the over jumps fox brown quick the"), // same token multiset
      (4L, "completely different content about spark engines")
    ).toDF("id", "text").withColumn("fp", GraftFunctions.simhash64(col("text")))
    val fps = df.select("id", "fp").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) == fps(3L), "simhash must be order-invariant over tokens")
    assert(fps(1L) != fps(4L))
  }

  test("simhash near-dup pairing: guaranteed recall inside radius 3, rejects distant docs") {
    import spark.implicits._
    // token-permuted duplicate → hamming 0, inside the radius-3
    // pigeonhole guarantee (4 chunks, ≤3 differing bits ⇒ ≥1 chunk equal)
    val df = Seq(
      (1L, "spark query engine with adaptive execution and columnar storage layout"),
      (2L, "columnar storage layout with adaptive execution and spark query engine"),
      (3L, "postgres write ahead log replication internals deep dive tutorial")
    ).toDF("id", "text")
    val pairs = Dedup.simhashNearDupPairs(df, "id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
    assert(!pairs.contains((2L, 3L)))
  }

  test("poly fingerprint: deterministic, text-sensitive, matches reference implementation") {
    import spark.implicits._
    val df = Seq((1L, "abc"), (2L, "abd"), (3L, "abc")).toDF("id", "text")
      .withColumn("fp", GraftFunctions.polyFingerprint(col("text")))
    val fps = df.select("id", "fp").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(3L))
    assert(fps(1L) != fps(2L))
    assert(fps(1L) == PolyHash.ofBytes("abc".getBytes("UTF-8")))
  }

  test("hamming64 expression") {
    import spark.implicits._
    val got = Seq((0L, 0L), (1L, 0L), (-1L, 0L), (0xffL, 0x0fL))
      .toDF("a", "b")
      .select(GraftFunctions.hamming64(col("a"), col("b")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 64L, 4L))
  }

  test("connected components match a union-find ground truth (both regimes)") {
    import spark.implicits._
    val ids = (1L to 10L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (1L, 3L))
      .toDF("a_id", "b_id")
    // union-find truth: {1,2,3}→1, {5,6}→5, {8,9,10}→8, singletons self
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 8L, 10L -> 8L)
    // small-graph regime: driver union-find + broadcast label join
    val got = Dedup.connectedComponents(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // large-graph regime: forced distributed min-label propagation —
    // must produce identical labels and schema
    val gotLoop = Dedup.connectedComponents(ids, pairs, driverEdgeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotLoop == expected)
  }

  test("connected components: a run short of its fixpoint throws instead of returning upper bounds") {
    import spark.implicits._
    // path 1-2-3-4: label 1 needs three rounds to reach node 4
    val ids = (1L to 4L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(ids, pairs, maxIterations = 1, driverEdgeCap = 0L))
    assert(e.getMessage.contains("labels still changed after 1 rounds"))
    // one round short of the fixpoint still throws
    intercept[IllegalStateException](
      Dedup.connectedComponents(ids, pairs, maxIterations = 2, driverEdgeCap = 0L))
  }

  test("connected components: labels that settle at round maxIterations are returned") {
    import spark.implicits._
    def labels(ids: DataFrame, pairs: DataFrame, rounds: Int): Map[Long, Long] =
      Dedup.connectedComponents(ids, pairs, maxIterations = rounds, driverEdgeCap = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // path 1-2-3-4 settles at round 3
    val ids = (1L to 4L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id")
    assert(labels(ids, pairs, 3) == (1L to 4L).map(_ -> 1L).toMap)
    // no edges: the labels are settled from round 1
    val none = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(labels(ids, none, 1) == (1L to 4L).map(n => n -> n).toMap)
  }

  test("dedup clusters cover every document exactly once") {
    val out = SparkEntry.queries("doc_dedup_clusters")(spark, sf)
    val total = out.agg(sum("cluster_size")).collect()(0).getLong(0)
    assert(total == Tables.documents(spark, sf).count())
    // representatives are cluster minima → unique
    assert(out.select("representative_id").distinct.count() == out.count())
  }

  test("leakage-safe split covers the corpus and agrees with doc_hash_split on totals") {
    val out = SparkEntry.queries("doc_leakage_safe_split")(spark, sf).collect()
    assert(out.map(_.getString(0)).sorted.toSeq == Seq("test", "train", "val"))
    // every document lands in exactly one split
    val nDocs = out.map(r => r.getLong(r.fieldIndex("n_docs"))).sum
    assert(nDocs == Tables.documents(spark, sf).count())
    // the cluster-keyed rule cannot leak by construction: a cluster's
    // docs all inherit ONE split, so docs_in_dup_clusters per split is
    // a multiple of nothing to check — but the naive-rule audit must
    // never exceed that split's cluster count
    out.foreach { r =>
      assert(r.getLong(r.fieldIndex("naive_leaky_clusters"))
        <= r.getLong(r.fieldIndex("n_clusters")))
    }
  }

  test("content-defined chunks: shift-resistant — shared passage fingerprints identically") {
    import spark.implicits._
    import graft.functions.expressions.GraftFunctions
    val shared = "The quick brown fox jumps over the lazy dog while the band plays on. " * 4
    val df = Seq(
      (1L, shared),
      (2L, "An unrelated new introduction paragraph comes first here. " + shared),
      (3L, "Entirely different content with no overlap at all in any window of it."))
      .toDF("id", "text")
      .select(col("id"), GraftFunctions.chunkFingerprints(col("text")).as("fps"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // boundaries re-synchronize after doc 2's inserted prefix, so the
    // shared passage's interior chunks coincide despite the offset
    val overlap12 = fps(1L).intersect(fps(2L)).size
    assert(overlap12 > 0, s"no shared chunks across shifted copies: ${fps(1L)} vs ${fps(2L)}")
    assert(fps(1L).intersect(fps(3L)).isEmpty)
    // determinism
    val again = Seq((1L, shared)).toDF("id", "text")
      .select(GraftFunctions.chunkFingerprints(col("text"))).collect()(0).getSeq[Long](0).toSet
    assert(again == fps(1L))
  }

  test("pipeline filter: every doc decided exactly once, kept set consistent with gates") {
    val out = SparkEntry.queries("doc_pipeline_filter")(spark, sf).collect()
    assert(out.length == Tables.documents(spark, sf).count())
    val byReason = out.groupBy(_.getString(4)).view.mapValues(_.length).toMap
    assert(byReason.keySet.subsetOf(Set("lang", "quality", "exact_dup", "near_dup", "kept")))
    // kept rows pass both scalar gates; keep flag == (reason == kept)
    out.foreach { r =>
      assert(r.getBoolean(3) == (r.getString(4) == "kept"))
      if (r.getBoolean(3)) assert(r.getDouble(2) >= 0.5)
    }
    assert(byReason.getOrElse("kept", 0) > 0 && byReason.getOrElse("lang", 0) > 0)
  }

  test("exact dedup keeps one representative per content key") {
    val out = SparkEntry.queries("doc_exact_dedup")(spark, sf)
    val total = out.agg(sum("n_dups")).collect()(0).getLong(0)
    val docs = Tables.documents(spark, sf).count()
    assert(total == docs, "every doc must be accounted for exactly once")
  }

  test("lsh recall eval: bands cover [0.8, 1.0], recall formula holds, pipeline finds the near-dups") {
    val out = SparkEntry.queries("doc_lsh_recall")(spark, sf).collect()
    assert(out.nonEmpty, "the fixture corpus has ground-truth near-dup pairs under id 500")
    out.foreach { r =>
      val (band, nExact, nFound) = (r.getDouble(0), r.getLong(1), r.getLong(2))
      assert(band >= 0.8 - 1e-9 && band <= 1.0 + 1e-9, s"band $band outside threshold range")
      assert(nFound <= nExact, "can't find more than exist")
      assert(math.abs(r.getDouble(3) - nFound.toDouble / nExact) < 1e-6)
    }
    // overall recall on this corpus's high-similarity pairs is high
    // (banding probability at s>=0.8 with r=6,b=6 is >0.97)
    val total = out.map(_.getLong(1)).sum.toDouble
    val found = out.map(_.getLong(2)).sum.toDouble
    assert(found / total > 0.9, s"overall recall ${found / total} too low")
  }

  test("dup-cluster stats agree with the cluster table and partition the corpus") {
    val stats = SparkEntry.queries("doc_dup_cluster_stats")(spark, sf).collect()
    val clusters = SparkEntry.queries("doc_dedup_clusters")(spark, sf).collect()
    val docs = Tables.documents(spark, sf).count()
    // histogram covers every doc exactly once
    assert(stats.map(_.getLong(2)).sum === docs)
    assert(stats.map(r => r.getLong(2) - r.getLong(3)).sum === clusters.length,
      "clusters = docs - dups")
    // per-size cluster counts match a recount of the cluster table
    val recount = clusters.groupBy(_.getLong(1)).view.mapValues(_.length).toMap
    stats.foreach { r =>
      assert(recount(r.getLong(0)) === r.getLong(1),
        s"size ${r.getLong(0)} cluster count mismatch")
      assert(r.getLong(3) === r.getLong(2) - r.getLong(1), "dup_docs = docs - clusters")
      if (r.getLong(0) == 1)
        assert(r.getLong(4) === 0L, "singletons carry no duplicated chars")
      else assert(r.getLong(4) > 0L)
    }
  }
}
