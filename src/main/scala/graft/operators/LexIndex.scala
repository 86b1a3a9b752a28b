package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType, StructField, StructType}

/** Persisted LEXICAL retrieval index — the BM25 counterpart of the
  * [[IvfPq]] store. A production retrieval system tokenizes and
  * aggregates the corpus ONCE and serves query-by-example from the
  * stored artifact; it does not re-run the corpus-wide explode +
  * aggregate per process start (at 100 TB the posting build is a full
  * corpus scan — the single most expensive lexical pass there is).
  *
  * Layout under `dir/`:
  *   - `postings/` (doc_id, token, tf) — the big table, one row per
  *     distinct (doc, token); everything else derives from it.
  *   - `df/` (token, df) — map-side-combined document frequencies.
  *   - `dl/` (doc_id, dl) — document lengths (Σ tf per doc); derived
  *     from the DOCS relation (left join against the postings), so a
  *     doc whose text tokenizes to nothing (null/empty) still owns a
  *     dl = 0 row — dl is the store's exact per-doc membership
  *     roster, which is what lets compaction re-derive n_corpus and
  *     target segments without ever consulting the original corpus.
  *   - `totals/` (n_corpus, t_total) — one row per segment.
  *
  * The four tables are one [[SegmentStore]] (segments, commit markers,
  * torn-publish invisibility, tombstones, ingest commits, merge — the
  * protocol is described there). This store's segment names: the
  * build's plain `part-*` files (segment `base`), batch appends
  * `seg-a<n>-<k>.parquet` and compaction rewrites `seg-c<n>-…`, both
  * committed by `_segments/<id>`, streaming ingest
  * `ingest-<b>-<k>.parquet`, and merged shard slices `shard<i>-…`
  * ([[segmentOf]]). [[loadIndex]] sees all four tables of a segment
  * or none of it, never torn statistics.
  *
  * Every write is deterministic (pure aggregates of the corpus), so a
  * loaded index reproduces the inline frames bit for bit — the oracle
  * replay of an index-served query is the SAME SQL chain as the
  * inline one (doc_bm25_served shares doc_bm25_topk's oracle; that
  * hash equality IS the store round-trip proof, the emb_index_build
  * discipline).
  *
  * Scoring contract (shared verbatim with the inline doc_bm25_topk —
  * ONE implementation: [[serveStage]] for every stored/streamed path,
  * [[queryTerms]] + [[scoreCandidates]] underneath it and the inline
  * chain, so the paths cannot drift): BM25 k1 = 1.2, b = 0.75;
  * the tf-saturation term as the exact integer rational
  * 44·T·tf / (20·T·tf + 6·T + 18·dl·N); idf argument (2N+2)/(2df+1);
  * per-term contributions summed through DECIMAL(28,15); ranking by
  * the ROUNDED score. Query terms are capped to the `qTerms` LOWEST-df
  * terms (the WAND-style rare-terms-first cap) so candidate volume is
  * Σ df over rare terms — and because df rides the bounded query-term
  * relation (broadcast into the candidate join), the posting file
  * never shuffles by token (the r13 no-token-window discipline).
  *
  * 100 TB shape: the posting store is scan-pruned by the broadcast
  * rare-term join; df/dl/totals are small side tables (df is
  * vocab-sized — joined only against query-doc tokens, never the
  * posting file). Serving work per query batch is bounded by
  * |Q|·qTerms·df(rare) candidate rows.
  *
  * Reference behavior: the retrieval pillar of the brief (lexical
  * retrieval next to the vector index); arithmetic shared with
  * queries/Corpus.scala's doc_bm25_topk.
  */
object LexIndex {

  /** The shared whitespace tokenization (doc_top_tokens rule) folded
    * to the posting aggregate: (doc_id, token, tf) with map-side
    * partials — ONE explode pass over the corpus.
    */
  def postings(docs: DataFrame): DataFrame =
    // widen: tokenization is CPU-per-row work; a single small corpus
    // file is ONE scan task regardless of cores (bytes-gated — at
    // scale the scan fans out and widen is the identity)
    Par.widen(docs).select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** Document frequencies from the posting aggregate (one row per
    * (doc, token) ⇒ per-token row count = distinct-doc count) —
    * map-side-combined, never a token window.
    */
  def dfOf(post: DataFrame): DataFrame =
    post.groupBy(col("token")).agg(count(lit(1)).as("df"))

  /** Document lengths: Σ tf per doc, derived from the DOCS relation so
    * every doc owns a row — a null/empty text tokenizes to no posting
    * rows (explode drops it) but still counts in n_corpus, and dl is
    * the membership roster compaction trusts ([[compactIndex]] derives
    * surviving n_corpus from it and targets segments through it). The
    * join is doc-count-sized (dl ≪ postings).
    */
  def dlOf(docs: DataFrame, post: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(post.groupBy(col("doc_id")).agg(sum(col("tf")).as("pdl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("pdl"), lit(0L)).as("dl"))

  /** One-row corpus totals: document count and total token count. */
  def totalsOf(docs: DataFrame, post: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n_corpus"))
      .crossJoin(post.agg(coalesce(sum(col("tf")), lit(0L)).as("t_total")))

  /** Rare-terms-first query-term selection: the `qTerms` LOWEST-df
    * tokens of each query doc, df attached. `queryPost` holds ONLY
    * the query docs' posting rows (doc_id, token[, …]) — the df join
    * touches that bounded relation, never the corpus posting file.
    */
  def queryTerms(queryPost: DataFrame, dfT: DataFrame,
      qTerms: Int): DataFrame =
    capQueryTerms(
      queryPost.select(col("doc_id"), col("token")).join(dfT, Seq("token")),
      qTerms)

  /** The rank-and-cap half of [[queryTerms]] for callers whose df
    * join already happened upstream (st_bm25_serve attaches df with a
    * stateless stream-static join; the cap is a ranking, so it runs
    * per micro-batch): input (doc_id, token, df).
    */
  def capQueryTerms(withDf: DataFrame, qTerms: Int): DataFrame =
    withDf.withColumn("qrn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("token"))))
      .filter(col("qrn") <= qTerms)
      .select(col("doc_id").as("query_id"), col("token"), col("df"))

  /** BM25 scoring of `qterms` (query_id, token, df — broadcast)
    * against the posting table: candidates, exact-rational saturation
    * term, DECIMAL(28,15) contribution sums, ranking by the rounded
    * score. Output: (query_id, doc_id, n_terms, bm25, rank).
    */
  def scoreCandidates(qterms: DataFrame, post: DataFrame, dl: DataFrame,
      totals: DataFrame): DataFrame = {
    val cand = broadcast(qterms).join(post, Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(totals))
    val contrib =
      log((lit(2.0) * col("n_corpus") + lit(2.0)).cast(DoubleType) /
          (lit(2.0) * col("df") + lit(1.0)).cast(DoubleType)) *
        ((lit(44L) * col("t_total") * col("tf")).cast(DoubleType) /
          (lit(20L) * col("t_total") * col("tf") + lit(6L) * col("t_total")
            + lit(18L) * col("dl") * col("n_corpus")).cast(DoubleType))
    cand.withColumn("c", contrib)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("c").cast(DecimalType(28, 15))).cast(DoubleType), 6)
          .as("bm25"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("bm25").desc, col("doc_id"))))
  }

  /** End-to-end ranked retrieval over index FRAMES (inline or
    * loaded): query docs selected by `queryPred` over the posting
    * table.
    */
  def bm25Ranked(post: DataFrame, dfT: DataFrame, dl: DataFrame,
      totals: DataFrame, queryPred: Column, qTerms: Int): DataFrame =
    scoreCandidates(queryTerms(post.filter(queryPred), dfT, qTerms),
      post, dl, totals)

  private val postingSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("token", StringType),
    StructField("tf", LongType)))
  private val dfSchema = StructType(Seq(
    StructField("token", StringType),
    StructField("df", LongType)))
  private val dlSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("dl", LongType)))
  private val totalsSchema = StructType(Seq(
    StructField("n_corpus", LongType),
    StructField("t_total", LongType)))

  /** The four flat tables as one [[SegmentStore]]; tombstones carry
    * `doc_id`.
    */
  private[graft] val layout = SegmentStore.Layout(
    tables = Seq("postings", "df", "dl", "totals"), partitioned = false,
    appendPrefix = "seg", appendMarkers = "_segments", appendTag = "a",
    tombstoneKey = "doc_id")

  // ------------------------------------------------- segment plumbing

  private val shardRe = "^(shard\\d+)-(.*)$".r

  /** The segment a store file belongs to, parsed from its name:
    * `seg-a1-0.parquet` → `seg-a1` (batch append / compaction),
    * `ingest-3-0.parquet` → `ingest-3` (streaming ingest),
    * `shard0-part-….parquet` → `shard0/base` (merged shard slices —
    * recursive, so a merged shard's own appends keep their identity),
    * anything else → `base` (the build's own files).
    */
  private[graft] def segmentOf(name: String): String =
    if (name.startsWith("seg-")) "seg-" + name.split("-")(1)
    else if (name.startsWith("ingest-")) "ingest-" + name.split("-")(1)
    else name match {
      case shardRe(pfx, rest) => pfx + "/" + segmentOf(rest)
      case _ => "base"
    }

  /** The LIVE data files of one store table ([[SegmentStore.liveFiles]]). */
  private[graft] def liveFiles(spark: SparkSession, dir: String,
      table: String): Seq[org.apache.hadoop.fs.Path] =
    SegmentStore.liveFiles(spark, dir, layout, table)

  private def schemaOf(table: String): StructType = table match {
    case "postings" => postingSchema
    case "df" => dfSchema
    case "dl" => dlSchema
    case _ => totalsSchema
  }

  private def readFiles(spark: SparkSession, dir: String, table: String,
      files: Seq[org.apache.hadoop.fs.Path]): DataFrame =
    SegmentStore.readFiles(spark, dir, layout, table, schemaOf(table), files)

  /** One SEGMENT of a store table as a DataFrame — a file-list read of
    * just that segment's live files (segment-sized, never a store
    * scan: what the lifecycle manifests use to audit a delta without
    * re-reading the base).
    */
  private[graft] def segmentTable(spark: SparkSession, dir: String,
      table: String, segment: String): DataFrame =
    readFiles(spark, dir, table, liveFiles(spark, dir, table)
      .filter(p => segmentOf(p.getName) == segment))

  /** The live segment inventory of a store table: segment →
    * file count (driver-side, ∝ file count — the fragmentation view
    * doc_lex_stats reports and the compaction scheduler watches).
    */
  private[graft] def segmentsOf(spark: SparkSession, dir: String,
      table: String): Map[String, Int] =
    liveFiles(spark, dir, table).groupBy(p => segmentOf(p.getName))
      .map { case (s, fs) => (s, fs.size) }

  /** The advisory output size of one token-sorted store file. */
  private val TargetPartitionBytes = BigInt(64L << 20)

  /** Scale-adaptive range-partition count for a token-sorted store
    * write: one partition per [[TargetPartitionBytes]] of ESTIMATED
    * source volume — Catalyst plan statistics, which for parquet
    * scans are the file-size sum, so no
    * job runs to size the write (guide §6: output files sized by
    * bytes, not by a core-count constant). A sandbox-scale corpus or
    * delta lands in ONE partition — which also skips the
    * RangePartitioner's sampling pass outright (numPartitions == 1
    * computes no bounds), removing one full Spark job per
    * token-sorted table write — while a 100 TB corpus derives
    * thousands of advisory-sized partitions from the same byte rule.
    * The serve path is file-count-agnostic: token-IN row-group
    * pruning holds per file at any partition count.
    */
  private[graft] def rangeParts(src: DataFrame,
      explosion: Double = 1.0): Int = {
    val bytes = src.queryExecution.optimizedPlan.stats.sizeInBytes
    // a source with NO size estimate (e.g. a foreachBatch micro-batch's
    // LogicalRDD) reports the defaultSizeInBytes sentinel — fall back
    // to the session's shuffle parallelism rather than trusting it
    // (logged once so a silently-degraded write sizing is observable)
    if (bytes >= BigInt(Long.MaxValue) / 4) {
      if (rangePartsFallbackLogged.compareAndSet(false, true))
        System.err.println("[graft] rangeParts: source has no size " +
          "estimate; falling back to spark.sql.shuffle.partitions for " +
          "token-sorted write sizing (expected for micro-batch sources)")
      return src.sparkSession.sessionState.conf.numShufflePartitions
    }
    // `explosion` corrects a DOCS-relation estimate for the posting
    // explosion (one row per (doc, token) is typically several times
    // the text bytes) so the 64 MB advisory target holds on the table
    // actually written; postings-frame callers pass 1.0
    val eff = (BigDecimal(bytes) * explosion).toBigInt
    ((eff / TargetPartitionBytes) + 1).min(BigInt(1 << 20)).toInt
  }

  private val rangePartsFallbackLogged =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The token-sorted layout of one store table write: range
    * partitioning so each parquet file covers a tight token range
    * (the serve path's token-IN pushdown prunes at the SCAN — a
    * rare-term lookup reads a handful of row groups, never the
    * corpus-sized table), sorted within partitions for row-group-level
    * min/max stats.
    */
  private def tokenSorted(df: DataFrame, n: Int): DataFrame =
    df.repartitionByRange(n, col("token")).sortWithinPartitions(col("token"))

  /** Independent store-table writes of one publish run overlapped —
    * the derived aggregates of one build are independent jobs over
    * the already-materialized posting cache; serializing them
    * serializes their scheduling latency, which at delta scale IS
    * their cost (see [[Par.jobs]]).
    */
  private def inParallel(work: (() => Unit)*): Unit = Par.jobs(work: _*)

  /** Build and persist the lexical index: ONE corpus tokenization
    * pass, the three derived aggregates, four parquet tables. The
    * target dir is replaced wholesale (the encodeShard discipline —
    * destructive intent is total and explicit; a torn build is
    * recovered by rebuilding, so the base segment needs no marker).
    */
  def buildIndex(docs: DataFrame, dir: String): Unit = {
    SegmentStore.reset(docs.sparkSession, dir)
    writeTables(docs, dir, "")
  }

  /** The serve path's posting access: a broadcast join alone does NOT
    * prune the posting SCAN (join keys don't push down), so a stored
    * lookup would read the whole table per query batch at 100 TB.
    * When the query-term set is small (the interactive case — it is
    * ≤ |Q|·qTerms by the rare-term cap), collect it (bounded,
    * driver-safe by the same argument as centroids/codebooks) and
    * push `token IN (…)` into the parquet scan, where the
    * token-range-sorted layout ([[buildIndex]]) turns it into
    * row-group pruning. Above `maxPushdownTerms` (a bulk replay of a
    * huge query batch) fall back to the full scan + broadcast join —
    * the honest shape when the lookup set itself is corpus-sized.
    *
    * NOTE: constructing this DataFrame runs a DRIVER-SIDE JOB (the
    * bounded term-set collect) — callers on a serving path pay it per
    * micro-batch, which is the intended trade (a small collect buys
    * row-group pruning of the corpus-sized store). [[serveStage]]
    * collects the term set ONCE and prunes both of its scans with it;
    * this entry point remains for callers holding a single scan.
    * `isInCollection` keeps the pushed predicate a set (Catalyst folds
    * large lists to InSet) rather than a 10k-literal In() tree.
    */
  def candidatePostings(post: DataFrame, qterms: DataFrame,
      maxPushdownTerms: Int = 10000): DataFrame = {
    val terms = qterms.select(col("token")).distinct()
      .limit(maxPushdownTerms + 1).collect().map(_.getString(0)).toSeq
    pruneByTokens(post, terms, terms.size > maxPushdownTerms)
  }

  /** Token-IN scan pruning with the two honest edges: an over-cap set
    * degrades to the full scan (broadcast join still bounds the
    * output), and an EMPTY set short-circuits to an empty relation —
    * an empty micro-batch must not broadcast the vocab table or feed
    * an unpruned corpus-wide posting relation into scoring.
    */
  private[graft] def pruneByTokens(table: DataFrame, terms: Seq[String],
      overCap: Boolean): DataFrame =
    if (overCap) table
    else if (terms.isEmpty) table.filter(lit(false))
    else table.filter(col("token").isInCollection(terms))

  /** Per-row tokenization of QUERY documents (doc_id, text) →
    * distinct (doc_id, token) rows — the serve-side twin of
    * [[postings]]: query-by-example scoring uses term PRESENCE +
    * rarity, never query-side tf, so split → array_distinct →
    * explode per row is the whole job (no aggregation ⇒ legal on a
    * streaming source too, which is exactly how st_bm25_serve and
    * st_hybrid_serve tokenize arriving requests).
    */
  def queryTokens(queryDocs: DataFrame): DataFrame =
    queryDocs.select(col("doc_id"),
      explode(array_distinct(split(lower(trim(col("text"))), "\\s+")))
        .as("token"))

  /** The ONE lexical serving stage — inline-built frames, the stored
    * batch path ([[bm25FromIndex]]) and the streaming serves
    * (st_bm25_serve / st_hybrid_serve's foreachBatch bodies) all run
    * exactly this function, so the paths cannot drift. `qtoks` is the
    * query token relation (doc_id, token); BOTH stored scans it
    * touches are token-IN pruned — by ONE driver-side collect of the
    * raw query-token set, reused for the vocab scan and the posting
    * scan (the capped rare-term set is a subset of the raw set, so
    * the superset pushdown is correct by construction; r14 paid a
    * second per-batch collect here). An empty batch short-circuits
    * both scans to empty relations. The rare-term cap is
    * localCheckpoint-ed once — it feeds the scoring broadcast, and
    * recomputing it would re-run the vocab prune.
    */
  def serveStage(loaded: Loaded, qtoks: DataFrame, qTerms: Int,
      maxPushdownTerms: Int = 10000): DataFrame = {
    val terms = qtoks.select(col("token")).distinct()
      .limit(maxPushdownTerms + 1).collect().map(_.getString(0)).toSeq
    val overCap = terms.size > maxPushdownTerms
    val withDf = qtoks
      .join(broadcast(pruneByTokens(loaded.df, terms, overCap)), Seq("token"))
    val qterms = capQueryTerms(withDf, qTerms).localCheckpoint(true)
    // candidates come from the LIVE views: a tombstoned doc is
    // unservable the moment its delete lands, before any compaction
    scoreCandidates(qterms,
      pruneByTokens(loaded.livePostings, terms, overCap),
      loaded.liveDl, loaded.totals)
  }

  /** The loaded artifact. `postings`/`dl` are the RAW stores (what
    * the lifecycle manifests audit); `livePostings`/`liveDl` are what
    * serving consumes — the stores minus pending tombstoned docs.
    * With no pending deletes the live views ARE the raw frames (no
    * join node is added), so deletion costs nothing until a delete
    * actually lands — the IvfPq.Loaded.live discipline. `df` and
    * `totals` are the SEGMENT-SUMMED views (an append lands additive
    * delta segments; summing per token / over segment rows
    * reconstructs exactly the monolithic aggregates because segment
    * doc sets are disjoint): corpus statistics, which — like the
    * vector index's frozen trained halves — do NOT move on delete
    * until compaction re-derives them (mass deletion drifting the
    * stats is the same retrain/compact trigger a deployment watches;
    * doc_lex_stats reports the drift fraction).
    */
  final case class Loaded(postings: DataFrame, df: DataFrame,
      dl: DataFrame, totals: DataFrame, livePostings: DataFrame,
      liveDl: DataFrame)

  /** Load a stored index: LIVE files only (committed segments — see
    * the segment header; a torn multi-table publish is invisible),
    * segment-summed df/totals views, tombstone-gated live views.
    */
  def loadIndex(spark: SparkSession, dir: String): Loaded = {
    def read(t: String) = SegmentStore.read(spark, dir, layout, t, schemaOf(t))
    val postings = read("postings")
    val df = read("df").groupBy(col("token")).agg(sum(col("df")).as("df"))
    val dl = read("dl")
    val totals = read("totals")
      .agg(coalesce(sum(col("n_corpus")), lit(0L)).as("n_corpus"),
        coalesce(sum(col("t_total")), lit(0L)).as("t_total"))
    val live = SegmentStore.liveGate(spark, dir, layout)
    Loaded(postings, df, dl, totals, live(postings), live(dl))
  }

  /** Ranked retrieval from the STORED artifact for a batch of QUERY
    * DOCUMENTS (doc_id, text): tokenize the query text per row
    * ([[queryTokens]] — the caller supplies the text, the interactive
    * contract; the store is never scanned to recover a query's own
    * terms, which on the token-sorted layout would be an unpruned
    * full posting pass), then the shared [[serveStage]] against the
    * token-IN-pruned vocab and posting scans.
    */
  def bm25FromIndex(loaded: Loaded, queryDocs: DataFrame,
      qTerms: Int): DataFrame =
    serveStage(loaded, queryTokens(queryDocs), qTerms)

  // -------------------------------------------------------- lifecycle
  // A 100 TB corpus is never static, and a takedown cannot force a
  // corpus re-tokenize. Same discipline as the vector store (IvfPq
  // append/delete/compact), re-expressed for an inverted text index:
  //
  //  - APPEND (new documents): one delta-sized tokenization pass lands
  //    an ADDITIVE SEGMENT — delta posting files (each itself
  //    token-range sorted, so row-group pruning holds per segment),
  //    delta df/dl rows, a delta totals row. Nothing existing is
  //    rewritten; loadIndex's segment-summed df/totals views make
  //    append ≡ build(base ∪ delta) exactly (delta doc ids are NEW by
  //    contract — the IvfPq append contract).
  //  - DELETE (takedown): tombstones gate the live views; df/totals
  //    stay as-built until compaction (the statistics-drift rule —
  //    scores drop the doc as candidate immediately; its residual
  //    contribution to corpus statistics dies at the next compaction,
  //    exactly like quantizer drift on the vector side).
  //  - COMPACT — SEGMENT-LOCAL (tiered): segments are doc-disjoint by
  //    construction (the append contract; the property shard merge
  //    relies on), so a tombstoned doc lives in exactly one segment —
  //    compaction rewrites ONLY the segments holding tombstoned docs
  //    (discovered through the dl roster: one segment-file-attributed
  //    scan of the doc-count-sized dl table), folds their survivors
  //    into one new committed segment, and leaves every other
  //    segment's files BYTE-UNTOUCHED (doc_lex_compact_tiered proves
  //    that with a before/after content-hash manifest). Rewrite work
  //    is ∝ touched segments, not store size — the IvfPq cell-local
  //    bound on the text side. Statistics stay exact because the
  //    untouched segments' df/dl/totals rows had no tombstoned docs
  //    by definition, and the new segment's rows are re-derived from
  //    its survivors (n_corpus from the dl roster — null-text-safe).
  //    The rewrite publishes through SegmentStore's plan-replay
  //    compaction publish (crash resume, tombstone ordering).
  //
  // Streaming-ingest fencing: a store carrying `_ingest_commits`
  // receipts is REFUSED by default (an ingest publish racing the
  // compactor's drops would be erased while its marker survives,
  // permanently losing rows). Passing `ingestFenced = true` asserts
  // the stream is STOPPED for good; compaction then folds every
  // ingest segment into the rewrite and clears the receipts — a store
  // accepts at most ONE stream lifetime between compactions, and the
  // next stream starts a fresh checkpoint (batchIds restart at 0
  // against cleared markers).

  /** The four tables of one tokenized document set under `root` —
    * delta-sized independent jobs over the materialized posting cache,
    * one overlapped barrier. The shared body of the build, batch
    * append and ingest stages; `failAfter = "stage-partial"` stages
    * only postings and df (the crash seam with SOME tables staged).
    */
  private def writeTables(docs: DataFrame, root: String,
      failAfter: String): Unit = {
    val post = postings(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // docs-relation estimate corrected for the posting explosion
    val n = rangeParts(docs, explosion = 4.0)
    // the vocab table keeps the postings' token-sorted layout: the
    // serve path's per-batch df attach prunes it with the same
    // token-IN (concurrent cache materialization is
    // per-partition-locked, so the first toucher computes and the
    // rest wait)
    val writes = Seq[() => Unit](
      () => tokenSorted(post, n).write.mode("overwrite").parquet(s"$root/postings"),
      () => tokenSorted(dfOf(post), n).write.mode("overwrite").parquet(s"$root/df"),
      () => dlOf(docs, post).write.mode("overwrite").parquet(s"$root/dl"),
      () => totalsOf(docs, post).write.mode("overwrite").parquet(s"$root/totals"))
    try inParallel((if (failAfter == "stage-partial") writes.take(2) else writes): _*)
    finally post.unpersist(): Unit
  }

  /** Append NEW documents to a stored index as one additive committed
    * segment `seg-a<n>` — one tokenization pass over the delta,
    * delta-sized writes only, crash-atomic by
    * [[SegmentStore.appendSegment]] (a torn append is invisible to
    * [[loadIndex]] and rolled back by the next call; the STREAMING
    * path [[appendBatchToIndex]] instead resumes by batchId).
    * `failAfter` is the crash-window test seam: "stage-partial" dies
    * between table writes, "staged" after the staging completes, and
    * "publish-partial" after the postings publish.
    */
  def appendToIndex(deltaDocs: DataFrame, dir: String,
      failAfter: String = ""): Unit =
    SegmentStore.appendSegment(deltaDocs.sparkSession, dir, layout, failAfter)(
      writeTables(deltaDocs, _, failAfter))

  /** Tombstone-delete documents from the stored index
    * ([[SegmentStore.deleteIds]]): the store is untouched, serving
    * drops the docs immediately via the live views, physical removal
    * is [[compactIndex]]'s job.
    */
  def deleteFromIndex(ids: DataFrame, dir: String): Unit =
    SegmentStore.deleteIds(ids, dir, layout)

  /** The pending tombstone set — empty (not an error) when no delete
    * has landed since the last compaction.
    */
  def tombstonesOf(spark: SparkSession, dir: String): DataFrame =
    SegmentStore.tombstones(spark, dir, layout)

  /** The live segments whose dl roster holds any of `docIds` — the
    * touched-segment discovery of [[compactIndex]] and the
    * tombstone-attribution row of doc_lex_stats, as ONE
    * file-attributed scan of the doc-count-sized dl table (the
    * per-segment probe loop this replaces ran one join job per
    * segment). The collected set is bounded by the dl file count — a
    * manifest-sized read at deployment scale.
    */
  private[graft] def segmentsHolding(spark: SparkSession, dir: String,
      docIds: DataFrame): Set[String] = {
    val dlFiles = liveFiles(spark, dir, "dl")
    if (dlFiles.isEmpty) Set.empty
    else readFiles(spark, dir, "dl", dlFiles)
      .withColumn("f", input_file_name())
      .join(broadcast(docIds), Seq("doc_id"), "left_semi")
      .select(col("f")).distinct().collect()
      .map(r => segmentOf(r.getString(0).split("/").last)).toSet
  }

  /** SEGMENT-LOCAL compaction (see the lifecycle header): discover
    * the segments holding tombstoned docs through the dl roster,
    * rewrite ONLY those (survivors folded into one new committed
    * segment `seg-c<n>`, statistics re-derived from the segment's own
    * rows), drop the old segments' files, clear the tombstone
    * snapshot — published by SegmentStore's plan replay. Untouched
    * segments' files are never opened for write — work is ∝ touched
    * segments, not store size. `failAfterStage` is the crash-window
    * test seam (stage + plan + marker land, publish does not — the
    * next call must resume the plan). `ingestFenced` asserts no
    * ingest stream is running and folds + clears the stream's
    * receipts (see the fencing note above); without it a store
    * carrying `_ingest_commits` is refused.
    */
  def compactIndex(spark: SparkSession, dir: String,
      failAfterStage: Boolean = false, ingestFenced: Boolean = false): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = SegmentStore.fsOf(spark, dir)
    if (SegmentStore.resumeCompaction(fs, dir, layout)) return
    val ingestMarkers = new Path(s"$dir/${SegmentStore.IngestMarkers}")
    require(!fs.exists(ingestMarkers) || ingestFenced,
      s"compactIndex: store $dir carries _ingest_commits receipts - an " +
        "ingest stream may be live, and its publishes would race the " +
        "compactor's drops (rows erased, marker kept). Stop the stream " +
        "for good and pass ingestFenced = true to fold the stream's " +
        "segments and clear its receipts (one stream lifetime per " +
        "compaction cycle; the next stream needs a fresh checkpoint)")
    val (tombFiles, tombs) = SegmentStore.tombstoneSnapshot(spark, dir, layout)
    // touched segments: the dl roster rows of tombstoned docs,
    // attributed to their segment files ([[segmentsHolding]] — one
    // scan of the doc-count-sized dl table)
    val touchedBySnapshot: Set[String] =
      if (tombFiles.isEmpty) Set.empty
      else segmentsHolding(spark, dir, tombs)
    val fencedIngest: Set[String] =
      if (!ingestFenced) Set.empty
      else layout.tables.flatMap(t => segmentsOf(spark, dir, t).keys)
        .filter(_.startsWith("ingest-")).toSet
    val touched = touchedBySnapshot ++ fencedIngest
    if (touched.isEmpty) {
      // nothing physical to rewrite: the snapshot's docs are in no
      // live segment (spurious or already-compacted deletes) — the
      // snapshot is trivially applied; clear it
      SegmentStore.clearTombstones(fs, dir, tombFiles.map(_.getName))
      if (ingestFenced && fs.exists(ingestMarkers))
        fs.delete(ingestMarkers, true): Unit
      return
    }
    val newId = SegmentStore.nextId(fs, new Path(s"$dir/${layout.appendMarkers}"), "c")
    val touchedFiles: Map[String, Seq[Path]] = layout.tables.map(t =>
      t -> liveFiles(spark, dir, t)
        .filter(p => touched(segmentOf(p.getName)))).toMap
    def readTouched(t: String): DataFrame = readFiles(spark, dir, t, touchedFiles(t))
    def staged(t: String): String = SegmentStore.compactionStaging(dir, t)
    // stage the rewritten segment: survivors of the touched segments
    // only — every other segment's files are never opened. All four
    // staged tables derive from the two persisted survivor frames
    // (postings survivors; the dl ROSTER's survivors — null-text-safe:
    // a doc with no postings still owns a dl row), so they run as ONE
    // overlapped barrier instead of write-two → read-back → write-two
    // (the aggregates are deterministic over the same survivor rows,
    // so the staged bytes are identical to the read-back form's).
    val touchedPost = readTouched("postings")
    val n = rangeParts(touchedPost)
    val sp = touchedPost.join(broadcast(tombs), Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sdl = readTouched("dl")
      .join(broadcast(tombs), Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try inParallel(
      () => tokenSorted(sp, n).write.parquet(staged("postings")),
      () => sdl.write.parquet(staged("dl")),
      () => tokenSorted(dfOf(sp), n).write.parquet(staged("df")),
      () => sdl.agg(count(lit(1)).as("n_corpus"))
        .crossJoin(sp.agg(coalesce(sum(col("tf")), lit(0L)).as("t_total")))
        .write.parquet(staged("totals")))
    finally { sp.unpersist(): Unit; sdl.unpersist(): Unit }
    SegmentStore.commitCompactionPlan(fs, dir, layout, newId, touchedFiles,
      touched, ingestFenced, tombFiles, failAfterStage)
  }

  /** Merge self-contained shard stores into one serving artifact —
    * how a 100 TB corpus is ACTUALLY tokenized: no single job runs
    * the full corpus pass; each shard job builds an independent store
    * over its doc slice ([[buildIndex]] — there are no trained halves
    * on the lexical side, so unlike IvfPq.mergeIndexes nothing needs
    * cross-shard equality verification), and
    * [[SegmentStore.mergeShards]] copies every shard's LIVE files
    * shard-tagged under the output tables. Correct because the store
    * is ADDITIVE SEGMENTS by design: postings/dl rows are doc-disjoint
    * across shards and loadIndex's segment-summed df/totals views
    * reconstruct the monolithic aggregates exactly — merge(shards) ≡
    * build(corpus) row for row (LexIndexSpec pins it; the
    * doc_lex_shard_merge oracle hash-proves it end to end).
    */
  def mergeIndexes(spark: SparkSession, shardDirs: Seq[String],
      outDir: String): Unit =
    SegmentStore.mergeShards(spark, shardDirs, outDir, layout)

  /** [[appendToIndex]] for STREAMING ingest — idempotent under
    * micro-batch retry by [[SegmentStore.ingestBatch]]. Frozen
    * tokenization is deterministic per row, so a full replay
    * reproduces identical bytes. Work and writes stay delta-sized.
    */
  def appendBatchToIndex(batch: DataFrame, dir: String,
      batchId: Long): Unit =
    SegmentStore.ingestBatch(batch.sparkSession, dir, layout, batchId)(
      writeTables(batch, _, ""))
}
