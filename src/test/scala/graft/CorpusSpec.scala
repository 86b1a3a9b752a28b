package graft

import org.apache.spark.sql.functions._

import graft.functions.expressions.GraftFunctions

/** Corpus-curation operators: source reputation, TF-IDF key terms,
  * containment pairs.
  */
class CorpusSpec extends SparkSpec {

  test("containment: a doc fully inside another scores 1.0 where jaccard stays low") {
    import spark.implicits._
    val short = "the quick brown fox jumps over the lazy dog near the river bank"
    val long = short + " and then a very long unrelated tail about completely different " +
      "topics stretching the gram set far beyond the original sentence body"
    val df = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
      .select(col("doc_id"),
        GraftFunctions.gramHashes(
          expr("transform(sequence(1, greatest(length(text)-2, 1)), i -> substring(text, i, 3))")).as("grams"))
    val a = df.filter(col("doc_id") === 1).select(col("grams").as("ag"))
    val b = df.filter(col("doc_id") === 2).select(col("grams").as("bg"))
    val r = a.crossJoin(b)
      .select(
        (GraftFunctions.sortedIntersectCount(col("ag"), col("bg")).cast("double") /
          size(col("ag")).cast("double")).as("containment"),
        (GraftFunctions.sortedIntersectCount(col("ag"), col("bg")).cast("double") /
          (size(col("ag")) + size(col("bg")) -
            GraftFunctions.sortedIntersectCount(col("ag"), col("bg"))).cast("double")).as("jaccard"))
      .head()
    assert(r.getDouble(0) == 1.0, s"containment ${r.getDouble(0)}")
    assert(r.getDouble(1) < 0.7, s"jaccard ${r.getDouble(1)} unexpectedly high")
  }

  test("containment pairs: directed, thresholded, shared grams bounded by |A|") {
    val out = SparkEntry.queries("doc_containment_pairs")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nShared = r.getLong(2); val nA = r.getLong(3); val c = r.getDouble(4)
      assert(r.getLong(0) != r.getLong(1))
      assert(nShared <= nA, s"shared $nShared > |A| $nA")
      assert(c >= 0.9 && c <= 1.0, s"containment $c out of range")
      assert(math.abs(c - nShared.toDouble / nA) < 1e-12)
    }
  }

  test("tfidf: dense ranks per doc, integer score consistent with tf/df/N") {
    val out = SparkEntry.queries("doc_tfidf_topk")(spark, sf).collect()
    val n = Tables.documents(spark, sf).count()
    val byDoc = out.groupBy(_.getLong(0))
    byDoc.foreach { case (doc, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length).toSeq,
        s"ranks not dense for doc $doc")
      rows.foreach { r =>
        val tf = r.getLong(3); val df = r.getLong(4); val score = r.getLong(5)
        assert(df >= 1 && df <= n)
        assert(score == tf * (1000000L * n / df), s"score mismatch for doc $doc")
      }
    }
  }

  test("source reputation: formula holds, all docs of a source agree") {
    val out = SparkEntry.queries("doc_source_reputation")(spark, sf).collect()
    assert(out.length == Tables.documents(spark, sf).count())
    val bySource = out.groupBy(_.getString(1))
    bySource.foreach { case (src, rows) =>
      assert(rows.map(_.getLong(2)).distinct.length == 1, s"n_docs disagree for $src")
      assert(rows.head.getLong(2) == rows.length, s"n_docs wrong for $src")
      val r = rows.head
      val (q, dup, en, rep) = (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      // rep is the 6dp-rounded combination of the (already 6dp-rounded)
      // components — compare against the unrounded formula within a
      // half-ulp of the rounding grid to stay engine-robust
      assert(math.abs(rep - (q * 0.5 + (1.0 - dup) * 0.3 + en * 0.2)) < 1e-6,
        s"reputation formula broken for $src")
      assert(rows.forall(_.getBoolean(7) == (rep >= 0.5)))
    }
  }

  test("bpe pairs: top pair statistics match a driver-side brute-force recount") {
    val out = SparkEntry.queries("doc_bpe_pairs")(spark, sf).collect()
    assert(out.length === 20)
    assert(out.map(_.getInt(0)).toSeq == (1 to 20), "ranks dense")
    val counts = out.map(_.getLong(2))
    assert(counts.toSeq == counts.sorted.reverse.toSeq, "sorted by weighted count")
    // brute force: vocabulary pair counting in plain Scala
    val vocab = Tables.documents(spark, sf)
      .select(lower(trim(col("text"))).as("t")).collect()
      .flatMap(_.getString(0).split("\\s+"))
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
      .filter(_._1.length >= 2)
    val brute = vocab.toSeq.flatMap { case (w, wf) =>
      w.sliding(2).map(p => (p, wf)).toSeq
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    out.take(3).foreach { r =>
      assert(brute(r.getString(1)) === r.getLong(2),
        s"pair ${r.getString(1)} weighted count mismatch")
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("segment dedup: a 3x boilerplate segment is removed everywhere, reassembly is byte-exact") {
    val dir = tmpDir("segdedup")
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    def uniq(p: String) = (1 to 10).map(i => s"$p$i").mkString(" ")
    val rows = Seq(
      (1L, s"${uniq("u")} $boiler"), (2L, s"${uniq("v")} $boiler"),
      (3L, s"${uniq("w")} $boiler"), (4L, "x1 x2 x3"))
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("doc_segment_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    Seq(1L -> "u", 2L -> "v", 3L -> "w").foreach { case (id, p) =>
      val r = out(id)
      assert(r.getLong(1) === 2 && r.getLong(2) === 1, s"doc $id segment counts")
      assert(r.getString(3) === md5hex(uniq(p)), s"doc $id reassembly")
    }
    assert(out(4L).getLong(1) === 1 && out(4L).getLong(2) === 0)
    assert(out(4L).getString(3) === md5hex("x1 x2 x3"))
  }

  test("mixture apply: realized sample lands on the plan's budget, hash rule reproducible") {
    val out = SparkEntry.queries("doc_mixture_apply")(spark, sf).collect()
    out.foreach { r =>
      val (tokens, budget, ratePmy) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (nDocs, nKept, keptTokens) = (r.getLong(4), r.getLong(5), r.getLong(6))
      assert(ratePmy >= 0 && ratePmy <= 10000)
      assert(nKept <= nDocs && keptTokens <= tokens)
      // the salted-hash rule realizes the budget up to sampling noise:
      // the EXPECTED kept fraction is rate_pmy/10⁴; allow generous
      // slack for a small-corpus binomial (but catch off-by-10× bugs)
      val expected = ratePmy.toDouble / 10000.0
      assert(math.abs(r.getDouble(7) - expected) < 0.12,
        s"${r.getString(0)}: realized ${r.getDouble(7)} vs expected $expected")
      // budget itself is within one plan-arithmetic floor of tokens*rate
      assert(budget <= tokens)
    }
    // determinism: a second run produces identical rows
    val again = SparkEntry.queries("doc_mixture_apply")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(again == out.map(_.toString).toSeq)
  }

  test("mixture plan: integer-exact plan hits the target proportions with one binding stratum") {
    val out = SparkEntry.queries("doc_mixture_plan")(spark, sf).collect()
    assert(math.abs(out.map(_.getDouble(4)).sum - 1.0) < 1e-9, "target shares must sum to 1")
    assert(out.count(_.getBoolean(7)) >= 1, "some stratum must bind")
    val totalKept = out.map(_.getLong(5)).sum.toDouble
    out.foreach { r =>
      val (tokens, kept, rate) = (r.getLong(2), r.getLong(5), r.getDouble(6))
      assert(kept <= tokens, s"${r.getString(0)} keeps more than it has")
      assert(rate <= 1.0 + 1e-9)
      if (r.getBoolean(7))
        assert(rate > 0.999, s"binding stratum ${r.getString(0)} should keep ~all tokens")
      // realized mix share lands on the target (floor dust only)
      assert(math.abs(kept / totalKept - r.getDouble(4)) < 1e-3,
        s"${r.getString(0)} realized share off target")
    }
  }

  test("winnowing: planted shared passage detected, unrelated docs are not") {
    import spark.implicits._
    val passage = "for the quarter ended june soybean futures settled higher on " +
      "strong export demand while traders awaited the weekly crop report"
    val docs = Seq(
      (1L, s"alpha preamble text one. $passage trailing notes alpha."),
      (2L, s"totally different beta opening here! $passage other tail."),
      (3L, "no shared content at all: zebras graze quietly beside the museum " +
        "fountain while jugglers rehearse a completely original routine."))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        GraftFunctions.winnowFingerprints(col("text"), 8, 16).as("fps"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(docs(1).intersect(docs(2)).size >= 3,
      "a 120-char shared passage must yield several shared fingerprints")
    assert(docs(1).intersect(docs(3)).isEmpty && docs(2).intersect(docs(3)).isEmpty,
      "unrelated docs must not collide")
  }

  test("doc_winnowing: pair invariants — ordering, bounds, overlap formula") {
    val out = SparkEntry.queries("doc_winnowing")(spark, sf).collect()
    assert(out.nonEmpty, "fixture corpus has near-dups to find")
    out.foreach { r =>
      val (a, b, shared, fa, fb, ov) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(a < b, "pairs are ordered")
      assert(shared >= 3 && shared <= math.min(fa, fb),
        "shared fingerprints bounded by the smaller side")
      assert(math.abs(ov - shared.toDouble / math.min(fa, fb)) < 1e-6)
      assert(ov > 0 && ov <= 1.0)
    }
  }

  test("dup spans: one boilerplate block merges to ONE span, scattered phrases stay separate") {
    import spark.implicits._
    // tokens are single letters; the 10-token block B0..B9 is shared
    // by docs 1 and 2 (one contiguous island each); doc 3 shares two
    // NON-adjacent 5-gram phrases with doc 4 (two islands); doc 5 is
    // all-novel text (zero spans)
    val block = (0 until 10).map(i => s"B$i").mkString(" ")
    val p1 = "p q r s t"
    val p2 = "v w x y z"
    val docs = Seq(
      (1L, s"a1 a2 a3 $block a4 a5 a6 a7"),
      (2L, s"c1 c2 $block c3 c4 c5 c6 c7"),
      (3L, s"d1 d2 $p1 d3 d4 d5 d6 $p2 d7 d8"),
      (4L, s"e1 $p1 e2 e3 e4 e5 e6 e7 $p2 e8"),
      (5L, "f1 f2 f3 f4 f5 f6 f7 f8 f9")
    ).toDF("doc_id", "text").createOrReplaceTempView("dup_span_docs")
    val out = graft.queries.Corpus.dupSpans(spark.table("dup_span_docs"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // docs 1/2: the shared block is 10 tokens = six 5-gram starts that
    // chain into exactly one island of exactly 10 covered tokens
    assert(out(1L) == ((17L, 1L, 10L)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((17L, 1L, 10L)), s"doc2: ${out(2L)}")
    // docs 3/4: two disjoint 5-token phrases, far enough apart that
    // the islands never touch → 2 spans, 5 tokens each
    assert(out(3L)._2 == 2L && out(3L)._3 == 10L, s"doc3: ${out(3L)}")
    assert(out(4L)._2 == 2L && out(4L)._3 == 10L, s"doc4: ${out(4L)}")
    // doc 5: nothing shared
    assert(out(5L) == ((9L, 0L, 0L)), s"doc5: ${out(5L)}")
  }

  test("dup spans: EXACTLY-adjacent spans merge, a one-token gap splits") {
    import spark.implicits._
    val x = (1 to 5).map(i => s"x$i").mkString(" ")
    val y = (1 to 5).map(i => s"y$i").mkString(" ")
    // doc 1: phrases back-to-back → spans [1,5] and [6,10] are
    // adjacent (start == prev_end + 1) and must merge to ONE island;
    // doc 2: one token between them → gap at position 6 → TWO islands;
    // doc 3: far apart, provides the df≥2 partner for both phrases
    // (its own contexts make the bridging grams of docs 1/2 unique)
    Seq(
      (1L, s"a1 $x $y a2"),
      (2L, s"c1 $x c2 $y c3"),
      (3L, s"$x d1 d2 d3 d4 d5 d6 $y")
    ).toDF("doc_id", "text").createOrReplaceTempView("adj_span_docs")
    val out = graft.queries.Corpus.dupSpans(spark.table("adj_span_docs"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((12L, 1L, 10L)),
      s"adjacent spans must merge to one island: ${out(1L)}")
    assert(out(2L) == ((13L, 2L, 10L)),
      s"a one-token gap must keep two islands: ${out(2L)}")
    assert(out(3L) == ((16L, 2L, 10L)), s"doc3: ${out(3L)}")
  }
}
