package graft

import org.apache.spark.sql.functions._

/** Lexical + hybrid retrieval (doc_bm25_topk / doc_hybrid_rrf):
  * BM25's idf direction pinned on a hand-built corpus, structural
  * properties on the real tables, and the RRF arithmetic recomputed.
  */
class RetrievalSpec extends SparkSpec {

  test("BM25 ranks the rare-term match above the common-term match") {
    import spark.implicits._
    // query doc 0 contains both terms; "rare" occurs in ONE other doc,
    // "common" in every other doc -> idf(rare) >> idf(common), so the
    // rare-term doc must outrank the common-term docs at equal tf/dl
    val docs = Seq(
      (0L, "rare common", "en", "s", 11L),
      (1L, "rare filler1 filler2", "en", "s", 20L),
      (2L, "common fillerA fillerB", "en", "s", 22L),
      (3L, "common fillerC fillerD", "en", "s", 22L),
      (4L, "common fillerE fillerF", "en", "s", 22L),
      (5L, "common fillerG fillerH", "en", "s", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("bm25")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("doc_bm25_topk")(spark, dir)
      .filter(col("query_id") === 0).orderBy(col("rank")).collect()
    assert(got.nonEmpty)
    assert(got.head.getLong(2) == 1L,
      s"doc 1 (the rare-term match) must rank first, got doc ${got.head.getLong(2)}")
    assert(!got.map(_.getLong(2)).contains(0L), "self-retrieval must be excluded")
  }

  test("BM25 on the corpus: self excluded, scores descend, terms shared") {
    val got = SparkEntry.queries("doc_bm25_topk")(spark, sf).collect()
    assert(got.nonEmpty)
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_.getInt(1))
      assert(!byRank.exists(_.getLong(2) == q), s"query $q retrieved itself")
      val scores = byRank.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q scores not descending: ${scores.toSeq}")
      assert(rows.forall(_.getLong(4) >= 1L), "every hit shares >= 1 query term")
    }
  }

  test("hybrid RRF: score is exactly the recomputed rank fusion") {
    val got = SparkEntry.queries("doc_hybrid_rrf")(spark, sf).collect()
    assert(got.nonEmpty)
    var sawDual = false
    got.foreach { r =>
      val lex = if (r.isNullAt(4)) None else Some(r.getInt(4))
      val vec = if (r.isNullAt(5)) None else Some(r.getInt(5))
      assert(lex.isDefined || vec.isDefined)
      if (lex.isDefined && vec.isDefined) sawDual = true
      val expect = BigDecimal(
        lex.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
          + vec.map(x => 1.0 / (60.0 + x)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - expect) < 1e-9,
        s"rrf_score ${r.getDouble(3)} != recomputed $expect for row $r")
    }
    // fused ordering descends within each query
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val scores = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q fused scores not descending")
    }
    assert(sawDual || got.length < 10,
      "expected at least one doc found by both retrievers at this depth")
  }

  test("rank-space fusion invariance: swapping the vector retriever changes only vector-side ranks") {
    import org.apache.spark.sql.DataFrame
    // The production claim doc_hybrid_rrf_ann exists to EXERCISE:
    // because RRF consumes ranks, the fused output is a pure function
    // of the two (query_id, doc_id, rank) relations — so the exact
    // brute-force retriever and the composed IVF+PQ retriever plug
    // into the SAME fusion and the lexical contribution is
    // bit-identical across the swap.
    def fusedOf(name: String): Array[org.apache.spark.sql.Row] =
      SparkEntry.queries(name)(spark, sf).collect()
    val exact = fusedOf("doc_hybrid_rrf")
    val ann = fusedOf("doc_hybrid_rrf_ann")
    // (1) lexical side rides unchanged: for every (query, doc) fused
    // in BOTH variants, rank_lex agrees (including null = not found)
    def lexSide(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(2)) ->
        (if (r.isNullAt(4)) -1 else r.getInt(4))).toMap
    val exactLex = lexSide(exact); val annLex = lexSide(ann)
    val shared = exactLex.keySet.intersect(annLex.keySet)
    assert(shared.nonEmpty, "variants share no fused (query, doc) pairs")
    shared.foreach { k =>
      assert(exactLex(k) == annLex(k),
        s"lexical rank for $k moved across retriever swap: " +
          s"${exactLex(k)} vs ${annLex(k)}")
    }
    // (2) each variant IS rrfFuse(lex, its own vector ranking):
    // recompute the ANN variant's fusion from the two rankings and
    // require row-identical output — the fusion is retriever-blind
    val lex = graft.queries.Corpus.bm25Ranked(spark, sf)
      .filter(col("rank") <= 20)
      .select(col("query_id"), col("doc_id"), col("rank").as("rank_lex"))
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
    val n = corpus.count()
    val queries = corpus.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("v").as("qv"))
    val annVec: DataFrame = graft.operators.IvfPq.topK(
        corpus, n, dim = 64, queries, k = 20,
        nprobe = graft.queries.Vectors.ivfpqNprobe,
        rerank = graft.queries.Vectors.ivfpqRerank,
        m = graft.queries.Vectors.pqM, dsub = graft.queries.Vectors.pqDsub,
        kCodes = graft.queries.Vectors.pqK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("rank_vec"))
    val refused = graft.queries.Corpus.rrfFuse(lex, annVec)
      .collect().map(_.toString).sorted.toSeq
    assert(refused == ann.map(_.toString).sorted.toSeq,
      "doc_hybrid_rrf_ann is not exactly rrfFuse(bm25 lex, IvfPq.topK ranks)")
  }

  test("lexical index store round-trip: loaded frames reproduce the inline ones") {
    import graft.operators.LexIndex
    val docs = Tables.documents(spark, sf)
    val dir = tmpDir("lexrt")
    LexIndex.buildIndex(docs, dir)
    val loaded = LexIndex.loadIndex(spark, dir)
    val post = LexIndex.postings(docs)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(loaded.postings) == rows(post))
    assert(rows(loaded.df) == rows(LexIndex.dfOf(post)))
    assert(rows(loaded.dl) == rows(LexIndex.dlOf(docs, post)))
    assert(rows(loaded.totals) == rows(LexIndex.totalsOf(docs, post)))
    assert(rows(loaded.postings).nonEmpty)
  }

  test("served candidate scan: rare terms push down into the posting store") {
    import graft.operators.LexIndex
    // a broadcast join alone never prunes the posting SCAN — at 100 TB
    // a served lookup would read the whole store per batch. The serve
    // path collects the (bounded, rare-term-capped) query-term set and
    // pushes token IN (…) into the range-sorted parquet; pin the plan.
    val dir = tmpDir("lexpd")
    LexIndex.buildIndex(Tables.documents(spark, sf), dir)
    val loaded = LexIndex.loadIndex(spark, dir)
    val qterms = LexIndex.queryTerms(
      loaded.postings.filter(col("doc_id") < 5), loaded.df, 20)
    val cand = LexIndex.candidatePostings(loaded.postings, qterms)
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(token"),
      s"token IN must reach the posting parquet scan:\n$plan")
    assert(cand.count() > 0)
    assert(cand.count() < loaded.postings.count(),
      "the pruned scan must be a strict subset of the store")
    // above the pushdown cap the path falls back to the full store
    val fallback = LexIndex.candidatePostings(loaded.postings, qterms,
      maxPushdownTerms = 1)
    assert(fallback.count() == loaded.postings.count())
  }

  test("served query-doc and vocab scans are pushdown-pruned") {
    import graft.operators.LexIndex
    val dir = tmpDir("lexqd")
    LexIndex.buildIndex(Tables.documents(spark, sf), dir)
    val loaded = LexIndex.loadIndex(spark, dir)
    // (1) the caller-supplied query docs reach the corpus scan as a
    // doc_id pushdown — doc_bm25_served reads exactly the |Q| query
    // rows' text, never the corpus (nor the posting store, which the
    // token-sorted layout cannot prune by doc_id — the r13 defect)
    val q = Tables.documents(spark, sf).filter(col("doc_id") < 5)
      .select(col("doc_id"), col("text"))
    val qplan = q.queryExecution.executedPlan.toString
    assert(qplan.contains("PushedFilters:") &&
      qplan.contains("LessThan(doc_id,5)"),
      s"query-doc selection must push into the documents scan:\n$qplan")
    // (2) the vocab attach prunes the df STORE scan with token IN —
    // and the pushdown must survive the segment-summed aggregate view
    // loadIndex puts over the store (filter on the grouping key)
    val qtoks = LexIndex.queryTokens(q)
    val dfPruned = LexIndex.candidatePostings(loaded.df, qtoks)
    val plan = dfPruned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(token"),
      s"token IN must reach the vocab parquet scan below the df view:\n$plan")
    assert(dfPruned.count() > 0)
    // exact: the pruned read is precisely the query-token vocabulary
    // (at this tiny sf the 5 query docs may span the WHOLE vocab, so
    // a strict-subset assertion would be scale-dependent)
    val expectVocab = loaded.df
      .join(qtoks.select(col("token")).distinct(), Seq("token"), "left_semi")
      .count()
    assert(dfPruned.count() == expectVocab,
      s"pruned vocab read ${dfPruned.count()} != query-token vocab $expectVocab")
  }

  test("serveStage pays exactly ONE driver-side collect per serve batch") {
    import graft.operators.LexIndex
    // the per-batch driver cost contract: serveStage collects the raw
    // query-token set ONCE and reuses it to prune BOTH store scans
    // (the capped rare-term set is a subset, so the superset pushdown
    // is correct by construction) — r14 paid a second collect here,
    // pure latency at sub-second serving cadence
    val dir = tmpDir("lex1c")
    LexIndex.buildIndex(Tables.documents(spark, sf), dir)
    val loaded = LexIndex.loadIndex(spark, dir)
    val qtoks = LexIndex.queryTokens(
      Tables.documents(spark, sf).filter(col("doc_id") < 5)
        .select(col("doc_id"), col("text")))
    val collects = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "collect") { collects.incrementAndGet(): Unit }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val staged =
      try {
        val s = LexIndex.serveStage(loaded, qtoks, 20)
        // the execution-listener bus is async: wait for the
        // construction's events, then settle to catch a late second
        val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
        while (collects.get() < 1 && System.nanoTime < deadline)
          Thread.sleep(50)
        Thread.sleep(500)
        assert(collects.get() == 1,
          s"serveStage construction ran ${collects.get()} driver collects; " +
            "the contract is ONE raw-token-set collect reused for both scans")
        s
      } finally spark.listenerManager.unregister(listener)
    assert(staged.collect().nonEmpty, "the staged serve must still score")
  }

  test("hybrid serve: NO scan of the documents table anywhere in the serving path") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.operators.{IvfPq, LexIndex}
    // r13's scale-killer: the text-fetch leg stream-static-joined
    // arriving ids against the full (doc_id, text) corpus scan every
    // micro-batch. The fix puts the query TEXT on the arriving request
    // stream, so the corpus documents table must not appear in ANY
    // serving-path plan — feed legs or foreachBatch stage. Run the
    // LIVE query (builds both stores + the request feed), then pin the
    // plans of the SAME shared functions it executes.
    assert(SparkEntry.queries("st_hybrid_serve")(spark, sf).collect().nonEmpty)
    val lex = LexIndex.loadIndex(spark, graft.queries.Corpus.lexDir(spark, sf))
    val loaded = IvfPq.loadIndex(spark, IvfPq.indexDir(sf))
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
    val full = corpus.select(col("id").as("neighbor_id"), col("v").as("cv"))
    val reqs = spark.read.parquet(graft.queries.Corpus.requestDir(spark, sf))
    def docScans(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.collect(): Unit
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.relation.location.rootPaths.mkString(",")
      }.filter(_.contains("documents"))
    }
    val feed = graft.queries.Streaming.hybridFeed(loaded, reqs)
    assert(docScans(feed).isEmpty,
      "the feed legs must derive from the arriving request alone")
    val staged = graft.queries.Streaming.hybridServeStage(lex, full,
      feed.localCheckpoint(true))
    assert(docScans(staged).isEmpty,
      "the per-batch stage must touch only the stores, never the corpus text")
    assert(staged.count() > 0)
  }

  test("out-of-corpus request: a NOVEL (text, vector) query is served correctly by every serve stage") {
    import graft.operators.{IvfPq, LexIndex}
    import spark.implicits._
    // Every verified serving query is query-by-example with corpus
    // members; BM25 presence-scoring and the probe→ADC→re-rank chain
    // never read the query's own df/dl or stored codes, so a request
    // that exists in NO store must be served identically — prove it
    // with a twin of doc 3: same text (+ one out-of-vocabulary token,
    // which the df attach must drop, not crash on) and vec 3's
    // embedding under a fresh id.
    // (collect the in-corpus reference FIRST — each serving query
    // delete-and-rebuilds the session store, which would invalidate
    // frames loaded before it)
    val q3 = SparkEntry.queries("doc_bm25_served")(spark, sf)
      .filter(col("query_id") === 3).collect().sortBy(_.getInt(1))
    assert(SparkEntry.queries("st_hybrid_serve")(spark, sf).collect().nonEmpty)
    val lex = LexIndex.loadIndex(spark, graft.queries.Corpus.lexDir(spark, sf))
    val loaded = IvfPq.loadIndex(spark, IvfPq.indexDir(sf))
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
    val full = corpus.select(col("id").as("neighbor_id"), col("v").as("cv"))
    val text3 = Tables.documents(spark, sf).filter(col("doc_id") === 3)
      .select(col("text")).head.getString(0)
    val vec3 = corpus.filter(col("id") === 3).select(col("v"))
      .head.getSeq[Double](0)
    val novel = Seq((900000L, text3 + " zzzunseentokenxq"))
      .toDF("query_id", "text")
      .withColumn("qv", typedLit(vec3))
    // (1) lexical (st_bm25_serve's live body): the twin scores every
    // candidate exactly as corpus query 3 does — same terms, same
    // stats — except doc 3 itself is now a legal candidate (the twin
    // is NOT doc 3, so self-exclusion keeps it). Dropping any doc-3
    // row, the novel ranking must be corpus-query-3's ranking
    // VERBATIM, scores bit-identical.
    val novelLex = graft.queries.Streaming.bm25ServeStage(lex,
        LexIndex.queryTokens(
          novel.select(col("query_id").as("doc_id"), col("text"))))
      .collect().sortBy(_.getInt(1))
    assert(novelLex.nonEmpty && q3.nonEmpty)
    assert(novelLex.forall(_.getLong(0) == 900000L))
    assert(novelLex.map(_.getInt(1)).toSeq == (1 to novelLex.length),
      "novel-query ranks must be dense from 1")
    val novelNo3 = novelLex.filter(_.getLong(2) != 3L)
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    val q3pairs = q3.map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(novelNo3 == q3pairs.take(novelNo3.length),
      s"novel-query scores must equal corpus-query-3's ranking: $novelNo3 vs $q3pairs")
    // (2) vector (st_ivfpq_serve_topk's live stages over the shared
    // feed): the embedding twin's top hit is vec 3 at exact cosine 1
    val feedNovel = graft.queries.Streaming.hybridFeed(loaded, novel)
      .localCheckpoint(true)
    val vecOut = graft.queries.Streaming.serveTopkStage(full,
        feedNovel.filter(col("token").isNull).drop("token"))
      .collect().sortBy(_.getInt(1))
    assert(vecOut.nonEmpty)
    assert(vecOut.head.getLong(2) == 3L && vecOut.head.getDouble(3) == 1.0,
      s"the vector twin must retrieve vec 3 at cosine 1.0, got ${vecOut.head}")
    assert(vecOut.map(_.getInt(1)).toSeq == (1 to vecOut.length),
      "ranks must be dense from 1")
    // (3) fused (st_hybrid_serve's live body): the novel request flows
    // through the full fused composition — vec 3 rides at rank_vec 1,
    // every row's RRF score is exactly the rank arithmetic, ordering
    // descends
    val fused = graft.queries.Streaming.hybridServeStage(lex, full, feedNovel)
      .collect().sortBy(_.getInt(1))
    assert(fused.nonEmpty)
    assert(fused.forall(_.getLong(0) == 900000L))
    val doc3Row = fused.find(_.getLong(2) == 3L)
    assert(doc3Row.exists(r => !r.isNullAt(5) && r.getInt(5) == 1),
      s"the twin's source doc must fuse with rank_vec 1, got $doc3Row")
    fused.foreach { r =>
      val lexR = if (r.isNullAt(4)) None else Some(r.getInt(4))
      val vecR = if (r.isNullAt(5)) None else Some(r.getInt(5))
      val expectRrf = BigDecimal(
        lexR.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
          + vecR.map(x => 1.0 / (60.0 + x)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - expectRrf) < 1e-9, s"bad fusion row $r")
    }
    val fusedScores = fused.map(_.getDouble(3))
    assert(fusedScores.zip(fusedScores.tail).forall { case (a, b) => a >= b })
  }

  test("served lexical + hybrid streams run stateless; online == batch fused") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val progresses = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        progresses.synchronized { progresses += e.progress; () }
      override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val servedLex = SparkEntry.queries("st_bm25_serve")(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      val batchLex = SparkEntry.queries("doc_bm25_served")(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(servedLex == batchLex,
        "streamed BM25 serve diverges from the stored-batch ranking")
      val servedHyb = SparkEntry.queries("st_hybrid_serve")(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      val batchHyb = SparkEntry.queries("doc_hybrid_rrf_ann")(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(servedHyb == batchHyb,
        "online hybrid serve diverges from the batch fused composition")
      // the LIVE streams' plans: listener delivery is async
      val deadline = System.currentTimeMillis + 30000
      while (progresses.synchronized(progresses.isEmpty)
          && System.currentTimeMillis < deadline) Thread.sleep(200)
      val ps = progresses.synchronized(progresses.toList)
      assert(ps.nonEmpty, "no streaming progress captured")
      ps.foreach { p =>
        assert(p.stateOperators.isEmpty,
          s"state operators in a serving stream: ${p.json}")
      }
    } finally spark.streams.removeListener(listener)
  }
}
