package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType}

import graft.Tables._
import graft.functions.expressions.GraftFunctions
import graft.operators.{AnnIvf, AnnLsh, Dedup, Multimodal}

/** Rows-only operators (SURVEY §2): the scale paths whose algorithms
  * aren't expressible in DuckDB SQL (seeded MinHash/SimHash/LSH,
  * partition-batched decode). The driver records a rows-only check;
  * semantics are covered by ScalaTest specs that compare against the
  * exact brute-force baselines.
  */
object ScaleOps {
  type Q = (SparkSession, String) => DataFrame

  // MinHash+LSH near-dup pairs, exact-verified at threshold 0.8 —
  // same contract as doc_ngram_jaccard_pairs but candidate-driven
  // (see Dedup.minhashNearDupPairs for the 100 TB argument). Params
  // are the defaults (k=36, bands=6) — the same constants the oracle
  // replay inlines below.
  private val docMinhashLsh: Q = (s, d) =>
    Dedup.minhashNearDupPairs(documents(s, d), "doc_id", "text")
      .orderBy(col("a_id"), col("b_id"))

  // Cluster formation over MinHash near-dup pairs: connected
  // components → one representative per cluster with its size — the
  // "drop all but one" dedup decision table.
  // Clustering runs on the rep graph (clusterLabelsFromReps): exact
  // labels without the O(m²) within-group clique edges the expanded
  // pair list would feed CC.
  private val docDedupClusters: Q = (s, d) => {
    val (repPairs, mem) = Dedup.minhashNearDupRepPairs(documents(s, d), "doc_id", "text")
    Dedup.clusterLabelsFromReps(repPairs, mem)
      .groupBy(col("cluster").as("representative_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .orderBy(col("representative_id"))
  }

  // Dedup observability: cluster-size histogram + the character cost
  // of duplication — the "what does dedup buy us" report every corpus
  // pipeline publishes before committing to a drop pass (dup share
  // decides whether near-dup dedup is worth its compute at all).
  //
  // 100 TB shape: same bounded pipeline as doc_dedup_clusters (reps
  // only through banding, CC on the rep graph), then two tiny hash
  // aggregates — clusters, then sizes — with the one-row corpus total
  // broadcast back.
  private val docDupClusterStats: Q = (s, d) => {
    val docs = documents(s, d)
    val (repPairs, mem) = Dedup.minhashNearDupRepPairs(docs, "doc_id", "text")
    val labels = Dedup.clusterLabelsFromReps(repPairs, mem)
      .join(docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
    val clusters = labels.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(when(col("id") =!= col("cluster"), col("n_chars")).otherwise(0L))
          .as("chars_dup"))
    val hist = clusters.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"),
        (sum(col("cluster_size")) - count(lit(1))).as("dup_docs"),
        sum(col("chars_dup")).as("dup_chars"))
    val tot = docs.agg(sum(col("n_chars")).as("corpus_chars"))
    hist.crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("dup_docs"), col("dup_chars"),
        round(col("dup_chars").cast(DoubleType) / col("corpus_chars").cast(DoubleType), 6)
          .as("dup_char_share"))
      .orderBy(col("cluster_size"))
  }

  // LSH recall evaluation — the approximation-quality report: over a
  // capped subset where brute force is affordable, compare the MinHash
  // +LSH pipeline's pairs against ground-truth 3-gram Jaccard ≥ 0.8
  // pairs, banded by similarity. This is the published S-curve made
  // measurable on the corpus itself: recall rises with similarity
  // (banding probability 1−(1−s^r)^b), and the per-band hit counts
  // show exactly where the pipeline starts missing. Precision is 1 by
  // construction (the pipeline exact-verifies candidates) — DedupSpec
  // asserts it; this query quantifies recall.
  //
  // 100 TB shape: the ground-truth side is intentionally subset-capped
  // (id < 500) — it exists to audit the scale path, not to be one; the
  // pipeline side is the production bounded pipeline.
  private val docLshRecall: Q = (s, d) => {
    import graft.functions.expressions.GraftFunctions
    val g = documents(s, d)
      .filter(col("doc_id") < 500)
      .select(col("doc_id"),
        graft.operators.Dedup.charGramHashes("text", 3).as("grams"))
      .withColumn("n_grams", size(col("grams")))
    val a = g.select(col("doc_id").as("a_id"), col("grams").as("a_grams"),
      col("n_grams").as("a_n"))
    val b = g.select(col("doc_id").as("b_id"), col("grams").as("b_grams"),
      col("n_grams").as("b_n"))
    // size-ratio prune INSIDE the join condition: grams are sorted
    // DISTINCT hash sets, so J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|) — a
    // pair failing 5·min ≥ 4·max (⇔ min/max ≥ 0.8, integer-exact)
    // cannot reach the 0.8 threshold, so the expensive per-pair
    // intersect never runs for it and the output is unchanged (every
    // pruned pair fails the jaccard filter by the bound)
    val exact = a.join(b, col("a_id") < col("b_id") &&
        lit(5) * least(col("a_n"), col("b_n")) >=
          lit(4) * greatest(col("a_n"), col("b_n")))
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("a_grams"), col("b_grams")))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("a_grams")) + size(col("b_grams")) - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= 0.8)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    val lsh = Dedup.minhashNearDupPairs(documents(s, d), "doc_id", "text")
      .filter(col("a_id") < 500 && col("b_id") < 500)
      .select(col("a_id"), col("b_id"), lit(1L).as("hit"))
    exact.join(lsh, Seq("a_id", "b_id"), "left")
      .groupBy((floor(col("jaccard") * 20) / 20.0).as("sim_band"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .withColumn("recall",
        round(col("n_found").cast(DoubleType) / col("n_exact").cast(DoubleType), 6))
      .orderBy(col("sim_band"))
  }

  // ----------------------------------------- doc_leakage_safe_split
  // Dedup-aware train/val/test split — the eval-integrity primitive:
  // doc_hash_split assigns splits per document, so two near-duplicate
  // documents can land in train AND test, silently leaking eval data
  // into training (the published dedup post-mortems all trace to
  // exactly this). Here the SPLIT KEY is the near-dup cluster
  // representative: whole clusters move as one unit, so leakage
  // across splits is impossible by construction. For singletons the
  // cluster is the doc itself, so the assignment agrees with
  // doc_hash_split wherever leakage cannot happen.
  //
  // Output is the audit a pipeline publishes before switching rules:
  // per split, cluster/doc counts, how many docs sit in size≥2
  // clusters, and how many of this split's clusters the NAIVE
  // doc-level rule would have torn across split boundaries
  // (min!=max of the members' naive assignment — each one a leak).
  //
  // 100 TB shape: the same bounded rep-graph pipeline as
  // doc_dedup_clusters (banding, occupancy caps, CC on reps), then a
  // scan-level md5 projection and two hash aggregates — no window,
  // no extra corpus pass.
  private val docLeakageSafeSplit: Q = (s, d) => {
    val docs = documents(s, d)
    val (repPairs, mem) = Dedup.minhashNearDupRepPairs(docs, "doc_id", "text")
    val member = Dedup.clusterLabelsFromReps(repPairs, mem)
      .withColumn("naive_split", Text.splitName(Text.splitBucket(col("id"))))
    val clusters = member.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"),
        min(col("naive_split")).as("naive_mn"), max(col("naive_split")).as("naive_mx"))
      .withColumn("split", Text.splitName(Text.splitBucket(col("cluster"))))
    clusters.groupBy(col("split"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"),
        sum(when(col("cluster_size") >= 2, col("cluster_size")).otherwise(0L))
          .as("docs_in_dup_clusters"),
        count(when(col("naive_mn") =!= col("naive_mx"), 1)).as("naive_leaky_clusters"))
      .orderBy(col("split"))
  }

  // ANN recall audit — doc_lsh_recall's vector-side sibling: the
  // random-hyperplane LSH top-10 measured against the exact cosine
  // top-10, per query. AnnSpec asserts the bound; this query makes
  // the number a first-class, oracle-verified report a user can run
  // before trusting the index (the same role emb_ivf_quality plays
  // for cell balance).
  private val embAnnRecall: Q = (s, d) => {
    val exact = graft.queries.Vectors.entries("emb_cosine_topk")(s, d)
      .select(col("query_id"), col("neighbor_id"))
    val ann = embAnnLsh(s, d)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .withColumn("recall",
        round(col("n_found").cast(DoubleType) / col("n_exact").cast(DoubleType), 4))
      .orderBy(col("query_id"))
  }

  // Healthy-index ANN recall (VERDICT r5 #9): the single-table 6-bit
  // audit above HONESTLY reports 0.2–0.5 recall on this near-uniform
  // corpus — the control. This variant demonstrates the same engine
  // reaching production recall with the standard LSH remedy: L
  // independent hash tables (per-table seeded hyperplanes), Hamming-1
  // multiprobe per table, the candidate UNION exact-reranked. On this
  // corpus (top-10 cosine ≈ 0.25–0.37 vs median ≈ 0 — measured, the
  // hardest ANN regime) L=8 × 6 bits reaches recall 0.84–0.92 across
  // sf0.001–0.1 while scanning ~60% of the corpus per query —
  // n_candidates makes that price first-class in the audit output.
  //
  // 100 TB shape: still bucket-bounded — every join is an equi-join
  // on (table, code); candidate work is Σ_t probe-bucket occupancy,
  // never all-pairs; the corpus codes once per table in one
  // projection (codegen'd HyperplaneCode), and the re-rank joins
  // candidates back by id. On a clustered (real-world) corpus the
  // same L tables cover far smaller candidate fractions — the audit
  // pair (control + tuned) is exactly the report that shows where a
  // given corpus sits.
  private val AnnRecallTables = 8
  private val embAnnRecallTuned: Q = (s, d) => {
    val bits = 6; val dim = 64
    val e = embeddings(s, d).withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val tables = (0 until AnnRecallTables)
      .map(t => AnnLsh.hyperplanes(bits, dim, seed = 42L + 1000L * t))
    def codes(vcol: org.apache.spark.sql.Column) =
      array(tables.map(p => GraftFunctions.hyperplaneCode(vcol, p)): _*)
    val corpusCoded = corpus
      .select(col("id"), posexplode(codes(col("v"))).as(Seq("t", "code")))
    val queryProbes = queries
      .select(col("query_id"), posexplode(codes(col("qv"))).as(Seq("t", "code0")))
      .select(col("query_id"), col("t"), explode(expr(
        s"concat(array(code0), transform(sequence(0, ${bits - 1}, 1), j -> code0 ^ shiftleft(1L, j)))"))
        .as("code"))
    val cand = queryProbes.join(corpusCoded, Seq("t", "code"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id")).distinct()
    val ann = cand
      .join(corpus, Seq("id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSimilarity(col("qv"), col("v")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("id"))))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("id").as("neighbor_id"), lit(1L).as("hit"))
    val nCand = cand.groupBy(col("query_id")).agg(count(lit(1)).as("n_candidates"))
    graft.queries.Vectors.entries("emb_cosine_topk")(s, d)
      .select(col("query_id"), col("neighbor_id"))
      .join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .join(nCand, Seq("query_id"))
      .withColumn("recall",
        round(col("n_found").cast(DoubleType) / col("n_exact").cast(DoubleType), 4))
      .select(col("query_id"), col("n_exact"), col("n_found"),
        col("n_candidates"), col("recall"))
      .orderBy(col("query_id"))
  }

  // SimHash fingerprint per document plus its banding chunks.
  private val docSimhash: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"), GraftFunctions.simhash64(col("text")).as("simhash"))
      .withColumn("chunk0", expr("simhash & 65535"))
      .orderBy(col("doc_id"))

  // Polynomial rolling-hash fingerprint (custom codegen Expression).
  private val docFingerprint: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"), GraftFunctions.polyFingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  // LSH-bucketed approximate top-k — the scale path matching
  // emb_cosine_topk's contract (recall measured in AnnSpec).
  private val embAnnLsh: Q = (s, d) => {
    val e = embeddings(s, d).withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    AnnLsh.topK(corpus, queries, k = 10, bits = 6, dim = 64)
      .orderBy(col("query_id"), col("rank"))
  }

  // Content-defined chunk dedup: rolling-window FNV boundaries →
  // polynomial chunk fingerprints → chunks shared across documents.
  // The shift-resistant form of block-level dedup: shared passages
  // fingerprint identically regardless of offset, so boilerplate
  // paragraphs surface as high-n_docs chunks. One explode + one
  // hash-aggregate — the same single-shuffle shape as exact dedup.
  private val docChunkDedup: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"),
        explode(GraftFunctions.chunkFingerprints(col("text"))).as("chunk_fp"))
      .groupBy(col("chunk_fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") > 1)
      .orderBy(col("chunk_fp"))

  /** DuckDB replay of content-defined chunking: the boundary set is a
    * pure filter (window FNV in HUGEINT mod 2⁶⁴, low-5-bits-zero
    * test), chunks are consecutive-boundary substrings, and each
    * chunk's polynomial fingerprint reuses the doc_fingerprint fold.
    */
  private val docChunkDedupSql: String = {
    val two64 = BigInt(1) << 64
    s"""
    WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
    b AS (
      SELECT doc_id, text,
        list_append(
          list_filter(range(8, n + 1), i ->
            list_reduce(
              list_prepend(14695981039346656037::HUGEINT,
                list_transform(range(i - 7, i + 1),
                  j -> CAST(unicode(substr(text, CAST(j AS INT), 1)) AS HUGEINT))),
              (acc, c) -> (xor(acc, c) * 1099511628211) % $two64::HUGEINT) % 32 = 0),
          CAST(n AS BIGINT)) AS bnds
      FROM t),
    ju AS (
      SELECT doc_id, text, bnds, unnest(range(1, len(bnds) + 1)) AS j FROM b),
    ch AS (
      SELECT doc_id,
        CASE WHEN j = 1 THEN 0 ELSE bnds[CAST(j AS INT) - 1] END AS cstart,
        bnds[CAST(j AS INT)] AS cend, text
      FROM ju),
    nz AS (
      SELECT doc_id,
        substr(text, CAST(cstart AS INT) + 1, CAST(cend - cstart AS INT)) AS chunk
      FROM ch WHERE cend > cstart),
    fp AS (
      SELECT doc_id,
        list_reduce(
          list_prepend(CAST(0 AS HUGEINT),
            list_transform(range(1, octet_length(encode(chunk)) + 1),
              i -> CAST((instr('0123456789ABCDEF', substr(hex(encode(chunk)), 2*i-1, 1)) - 1) * 16
                 + instr('0123456789ABCDEF', substr(hex(encode(chunk)), 2*i, 1)) - 1 AS HUGEINT))),
          (acc, v) -> (acc * 1000003 + v) % 2305843009213693951) AS fp_h
      FROM nz)
    SELECT CAST(fp_h AS BIGINT) AS chunk_fp,
      COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
    FROM fp
    GROUP BY 1
    HAVING COUNT(DISTINCT doc_id) > 1
    ORDER BY 1"""
  }

  // The composed training-data cleaning pass — the end-to-end per-doc
  // decision a pretraining pipeline makes, built from the block-C
  // operators in one plan: language gate → quality gate → exact-dup
  // representative → near-dup cluster representative. Demonstrates
  // that the operators COMPOSE: at 100 TB this is one job (scan-level
  // lang/quality, one hash-agg for exact reps, the candidate-driven
  // minhash clustering), not four passes over the corpus.
  private val docPipelineFilter: Q = (s, d) => {
    // lang-ID and quality are pure expressions over text: stack them
    // onto ONE documents scan instead of re-reading and self-joining
    // per stage (three scans + three shuffle joins saved — at 100 TB
    // the scan is the dominant cost)
    val scanStages = graft.queries.Text.qualityScoredDf(
        graft.queries.Text.langScoredDf(documents(s, d)))
      .withColumn("exact_rep", min(col("doc_id")).over(
        Window.partitionBy(md5(col("text")))))
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("quality"),
        col("exact_rep"))
    val clusters = {
      val (repPairs, mem) = Dedup.minhashNearDupRepPairs(documents(s, d), "doc_id", "text")
      Dedup.clusterLabelsFromReps(repPairs, mem)
        .select(col("id").as("doc_id"), col("cluster"))
    }
    // the language GATE uses the table's labeled lang (the heuristic
    // lang-ID predicts 'en' for this all-English synthetic corpus, so
    // gating on it would never fire); pred_lang stays in the output as
    // the composed lang-ID stage
    scanStages
      .join(clusters, "doc_id")
      .withColumn("reason",
        when(col("lang") =!= "en", "lang")
          .when(col("quality") < 0.5, "quality")
          .when(col("doc_id") =!= col("exact_rep"), "exact_dup")
          .when(col("doc_id") =!= col("cluster"), "near_dup")
          .otherwise("kept"))
      .select(col("doc_id"), col("pred_lang"), round(col("quality"), 4).as("quality"),
        (col("reason") === "kept").as("keep"), col("reason"))
      .orderBy(col("doc_id"))
  }

  // IVF-bucketed approximate top-k — the data-adaptive scale path
  // next to emb_ann_lsh (seeded centroids + one decimal-exact Lloyd
  // refinement; see AnnIvf for the 100 TB argument).
  private val embAnnIvf: Q = (s, d) => {
    val e = embeddings(s, d).withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    // persisted: sizing count + Lloyd rounds + inverted file rescan it
    val corpus = e.select(col("vec_id").as("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // adaptiveCells everywhere an IVF index is built (= 16 at every
    // oracle-checked scale): ALL IVF consumers — search, audit,
    // sampling, dedup, OOD — must share one index shape or they
    // silently describe different partitions of the corpus at scale
    AnnIvf.topK(corpus, queries, k = 10,
        cells = AnnIvf.adaptiveCells(corpus.count()), dim = 64, nprobe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  // Two-level IVF top-k — the regime PAST adaptiveCells' ceiling
  // (~10⁶–10⁷ vectors; see the AnnIvf two-level scaladoc): fine
  // centroids trained on a deterministic hash SAMPLE, a √cells coarse
  // quantizer as the only codegen constant, fine neighborhoods
  // arriving as broadcast-join DATA, per-row assignment O(√cells)
  // instead of O(cells). Same output shape as emb_ann_ivf; the oracle
  // replays the full two-level chain (sampled Lloyd, coarse Lloyd over
  // the fine table, neighborhood argmin) bit-exactly.
  private val embAnnIvfTwoLevel: Q = (s, d) => {
    val e = embeddings(s, d).withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // count ONCE: adaptiveCells and the training-sample cap share the
    // same sizing count (a second count() is a wasted corpus pass)
    val n = corpus.count()
    AnnIvf.topKTwoLevel(corpus, queries, k = 10,
        cells = AnnIvf.adaptiveCells(n), dim = 64,
        nprobe = 2, wProbe = 2, knownCount = n)
      .orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------------------ emb_cluster_sample
  // Cluster-balanced data selection (the embedding-space analogue of
  // doc_stratified_sample, the SemDeDup/DC-style "diversify the
  // training mix" pass): vectors are assigned to IVF cells, each cell
  // gets a deterministic keep-rate aiming at a fixed per-cell target —
  // dense regions are downsampled hard, sparse regions kept whole —
  // and membership is decided per vector by the salted-hash threshold
  // rule, so the sample is reproducible under re-runs, partitioning
  // and corpus growth. Shape: projection-only cell assignment (the
  // inverted file), a ≤cells-row count aggregate broadcast back, and
  // a scan-level keep decision — no count-then-take pass over the
  // corpus. At 100 TB the inverted file would be a checkpointed
  // column, not recomputed per consumer. Output is the per-cell audit.
  private val embClusterSample: Q = (s, d) => {
    val e = embeddings(s, d).withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (ids, cents) = AnnIvf.collectCentroids(
      AnnIvf.refinedCentroids(corpus,
        cells = AnnIvf.adaptiveCells(corpus.count()), dim = 64))
    val inverted = AnnIvf.invertedFile(corpus, ids, cents)
    val thresholds = inverted.groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_n"))
      .withColumn("threshold",
        expr("least(CAST(10000 AS BIGINT), (10000 * 32) div cell_n)"))
    inverted
      .join(broadcast(thresholds), Seq("cell"))
      .withColumn("bucket",
        conv(substring(md5(concat(col("id").cast("string"), lit("|graft-cluster-sample-v1"))), 1, 8), 16, 10)
          .cast("long") % 10000)
      .groupBy(col("cell"), col("cell_n"), col("threshold"))
      .agg(
        count(when(col("bucket") < col("threshold"), 1)).as("n_kept"),
        min(when(col("bucket") < col("threshold"), col("id"))).as("min_kept_id"),
        max(when(col("bucket") < col("threshold"), col("id"))).as("max_kept_id"))
      .orderBy(col("cell"))
  }

  private lazy val embClusterSampleSql: String = s"""
    WITH ${ivfCtes(16, 64)},
    counts AS (
      SELECT cell, COUNT(*) AS cell_n FROM inverted GROUP BY cell),
    thr AS (
      SELECT cell, cell_n,
        LEAST(CAST(10000 AS BIGINT), (10000 * 32) // cell_n) AS threshold
      FROM counts),
    k AS (
      SELECT iv.vec_id, iv.cell, t.cell_n, t.threshold,
        CAST(('0x' || substr(md5(CAST(iv.vec_id AS VARCHAR) || '|graft-cluster-sample-v1'), 1, 8)) AS BIGINT) % 10000 AS bucket
      FROM inverted iv JOIN thr t ON t.cell = iv.cell)
    SELECT cell, cell_n, threshold,
      COUNT(CASE WHEN bucket < threshold THEN 1 END) AS n_kept,
      MIN(CASE WHEN bucket < threshold THEN vec_id END) AS min_kept_id,
      MAX(CASE WHEN bucket < threshold THEN vec_id END) AS max_kept_id
    FROM k
    GROUP BY 1, 2, 3
    ORDER BY cell"""

  // -------------------------------------------------- emb_cell_dedup
  // SemDeDup at its 100 TB shape: emb_dedup_clusters proves the
  // semantics on a brute-force bounded id range; THIS is the form a
  // corpus-scale run uses — candidate pairs come only from WITHIN an
  // IVF cell (the published SemDeDup recipe: k-means the embeddings,
  // dedup inside each cluster), so pair work is Σ|cell|² instead of
  // n², and the cell assignment itself is the projection-only
  // inverted file (broadcast centroids, no shuffle). Pairs at
  // cosine ≥ 0.4 (emb_dedup_clusters' threshold, so the two decision
  // tables are directly comparable) feed the shared CC operator; output is the dedup
  // decision table restricted to real dup groups (size ≥ 2) — at any
  // corpus size the output is the dup set, not the corpus.
  // Near-dups straddling a cell boundary are missed BY DESIGN
  // (SemDeDup accepts this recall trade; emb_ann_recall audits the
  // analogous loss for the LSH index).
  //
  // Cell-count sizing (the BENCH_SF1 superlinear finding): pair work
  // is Σ|cell|², so a FIXED cell count turns a 10× corpus into 100×
  // per-cell work (fixed 16 cells measured 23× wall-clock at sf1).
  // Cells scale with the corpus (AnnIvf.adaptiveCells: n / target
  // occupancy, floored at 16) so per-cell work stays constant; at
  // every oracle-checked scale (≤ 2000 vectors) the rule resolves to
  // exactly 16, the count the centroid-literal replay inlines.
  private val embCellDedup: Q = (s, d) => {
    val tau = 0.4
    val e = embeddings(s, d).withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    // persisted: the sizing count, the Lloyd rounds and the inverted
    // file all rescan the corpus — cache the projection once
    val corpus = e.select(col("vec_id").as("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // STRUCTURAL regime handover (AnnIvf.regimeFor): past the
    // one-level ceiling this dispatches to the two-level index — the
    // 90×-at-100× path cannot be selected at scale by accident. At
    // every oracle-checked scale it resolves to the one-level plan
    // the centroid-literal replay below inlines.
    val inverted = AnnIvf.invertedFileAuto(corpus, corpus.count(), dim = 64)
    val a = inverted.select(col("cell"), col("id").as("a_id"), col("v").as("av"))
    val b = inverted.select(col("cell"), col("id").as("b_id"), col("v").as("bv"))
    val pairs = a.join(b, Seq("cell")).filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSimilarity(col("av"), col("bv")))
      .filter(col("cos_sim") >= tau)
      .select(col("a_id"), col("b_id"))
    Dedup.connectedComponents(corpus.select(col("id")), pairs)
      .groupBy(col("cluster").as("representative_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") >= 2)
      .orderBy(col("representative_id"))
  }

  // SemDeDup through the TWO-LEVEL index — the variant for the regime
  // the 100x point measured out of the one-level path (BENCH_SF10:
  // emb_cell_dedup 90x at 100x data, dominated by O(cells)-per-row
  // Lloyd over the full corpus). Same within-cell pair generation and
  // connected-components labeling; only the index build changes:
  // capped-sample training (O(cap x cells)) and coarse-pruned
  // assignment (O(sqrt(cells)) per row) — both linear in the corpus.
  private val embCellDedupTwoLevel: Q = (s, d) => {
    val tau = 0.4
    val e = embeddings(s, d).withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // count ONCE: adaptiveCells and the training-sample cap share it
    val n = corpus.count()
    val idx = AnnIvf.twoLevelIndex(corpus,
      cells = AnnIvf.adaptiveCells(n), dim = 64, knownCount = n)
    val inverted = AnnIvf.invertedFileTwoLevel(corpus, idx, wProbe = 2)
    val a = inverted.select(col("cell"), col("id").as("a_id"), col("v").as("av"))
    val b = inverted.select(col("cell"), col("id").as("b_id"), col("v").as("bv"))
    val pairs = a.join(b, Seq("cell")).filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSimilarity(col("av"), col("bv")))
      .filter(col("cos_sim") >= tau)
      .select(col("a_id"), col("b_id"))
    Dedup.connectedComponents(corpus.select(col("id")), pairs)
      .groupBy(col("cluster").as("representative_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") >= 2)
      .orderBy(col("representative_id"))
  }

  private lazy val embCellDedupTwoLevelSql: String = s"""
    WITH RECURSIVE ${ivf2Ctes(16, 64, 2)},
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM inverted2 a JOIN inverted2 b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs),
    reach(id, lbl) AS (
      SELECT vec_id, vec_id FROM e
      UNION
      SELECT g.dst, r.lbl
      FROM reach r JOIN edges g ON g.src = r.id
      WHERE r.lbl < g.dst),
    labels AS (
      SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id)
    SELECT cluster AS representative_id, COUNT(*) AS cluster_size
    FROM labels
    GROUP BY 1
    HAVING COUNT(*) >= 2
    ORDER BY representative_id"""

  private lazy val embCellDedupSql: String = s"""
    WITH RECURSIVE ${ivfCtes(16, 64)},
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM inverted a JOIN inverted b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs),
    reach(id, lbl) AS (
      SELECT vec_id, vec_id FROM e
      UNION
      SELECT g.dst, r.lbl
      FROM reach r JOIN edges g ON g.src = r.id
      WHERE r.lbl < g.dst),
    labels AS (
      SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id)
    SELECT cluster AS representative_id, COUNT(*) AS cluster_size
    FROM labels
    GROUP BY 1
    HAVING COUNT(*) >= 2
    ORDER BY 1"""

  // -------------------------------------------------- emb_cell_recall
  // The SemDeDup approximation audit — doc_lsh_recall's role for
  // emb_cell_dedup: over the bounded audit range where brute force is
  // affordable, what fraction of TRUE near-dup pairs (cosine ≥ 0.4)
  // land in the same IVF cell and are therefore reachable by the
  // cell-bucketed dedup, banded by similarity. This quantifies the
  // published SemDeDup recall trade (cluster-boundary pairs are
  // missed by design) on the corpus itself, so the threshold/cell
  // count can be tuned on evidence. Cells are trained on the FULL
  // corpus exactly as emb_cell_dedup does; only the ground-truth side
  // is range-capped.
  private val embCellRecall: Q = (s, d) => {
    val tau = 0.4
    val e = embeddings(s, d).withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sub = corpus.filter(col("id") < 500)
    val a = sub.select(col("id").as("a_id"), col("v").as("av"))
    val b = sub.select(col("id").as("b_id"), col("v").as("bv"))
    val exact = a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSimilarity(col("av"), col("bv")))
      .filter(col("cos_sim") >= tau)
      .select(col("a_id"), col("b_id"), col("cos_sim"))
    // same adaptive cell count as emb_cell_dedup — the audit must
    // measure the index the dedup actually uses
    val (cellIds, cents) = AnnIvf.collectCentroids(
      AnnIvf.refinedCentroids(corpus, cells = AnnIvf.adaptiveCells(corpus.count()), dim = 64))
    val inv = AnnIvf.invertedFile(corpus, cellIds, cents).select(col("id"), col("cell"))
    exact
      .join(inv.select(col("id").as("a_id"), col("cell").as("cell_a")), Seq("a_id"))
      .join(inv.select(col("id").as("b_id"), col("cell").as("cell_b")), Seq("b_id"))
      // raw-cosine banding carries the same accepted ULP-at-the-edge
      // risk as every raw-threshold compare in this family
      // (emb_dedup_clusters' 0.4 gate, emb_near_dup_pairs): the two
      // engines' folds agree to within ulps, and a value landing
      // within a ulp of a band edge would flap — exact-rational bands
      // (doc_lsh_recall's integer jaccard) don't exist for cosine
      .groupBy((floor(col("cos_sim") * 10) / 10.0).as("sim_band"))
      .agg(count(lit(1)).as("n_exact"),
        count(when(col("cell_a") === col("cell_b"), 1)).as("n_same_cell"))
      .withColumn("recall",
        round(col("n_same_cell").cast(DoubleType) / col("n_exact").cast(DoubleType), 6))
      .orderBy(col("sim_band"))
  }

  private lazy val embCellRecallSql: String = s"""
    WITH ${ivfCtes(16, 64)},
    sub AS (SELECT vec_id, v FROM e WHERE vec_id < 500),
    exact AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        list_cosine_similarity(a.v, b.v) AS cos_sim
      FROM sub a JOIN sub b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
    cells AS (SELECT vec_id, cell FROM inverted),
    joined AS (
      SELECT x.cos_sim, ca.cell AS cell_a, cb.cell AS cell_b
      FROM exact x
      JOIN cells ca ON ca.vec_id = x.a_id
      JOIN cells cb ON cb.vec_id = x.b_id)
    SELECT floor(cos_sim * 10) / 10.0 AS sim_band,
      COUNT(*) AS n_exact,
      COUNT(CASE WHEN cell_a = cell_b THEN 1 END) AS n_same_cell,
      ROUND(CAST(COUNT(CASE WHEN cell_a = cell_b THEN 1 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS recall
    FROM joined
    GROUP BY 1
    ORDER BY 1"""

  // ---------------------------------------- emb_cell_recall_two_level
  // The approximation audit for the PRODUCTION (two-level) SemDeDup
  // path — emb_cell_recall's exact role, but measuring the assignment
  // emb_cell_dedup_two_level actually uses past the one-level ceiling:
  // sampled fine training + wProbe-2 coarse pruning add boundary loss
  // ON TOP of the one-level cluster-boundary trade, and until this
  // query that loss had no on-corpus oracle-verified measurement (the
  // r9 probe-0 silent-drop bug lived exactly in this unaudited
  // corner). Same banded-by-similarity contract: over the bounded
  // audit range where brute force is affordable, what fraction of
  // TRUE near-dup pairs (cosine ≥ 0.4) land in the same fine cell
  // under the full two-level chain (capped-sample Lloyd → coarse
  // quantizer → wProbe-pruned fine argmin, post-coarsep restriction).
  // The index is built on the FULL corpus exactly as the dedup does;
  // only the ground-truth side is range-capped.
  private val embCellRecallTwoLevel: Q = (s, d) => {
    val tau = 0.4
    val e = embeddings(s, d).withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sub = corpus.filter(col("id") < 500)
    val a = sub.select(col("id").as("a_id"), col("v").as("av"))
    val b = sub.select(col("id").as("b_id"), col("v").as("bv"))
    val exact = a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSimilarity(col("av"), col("bv")))
      .filter(col("cos_sim") >= tau)
      .select(col("a_id"), col("b_id"), col("cos_sim"))
    // count ONCE (adaptiveCells + training-sample cap share it); the
    // index parameters are exactly emb_cell_dedup_two_level's — the
    // audit must measure the index the dedup actually uses
    val n = corpus.count()
    val idx = AnnIvf.twoLevelIndex(corpus,
      cells = AnnIvf.adaptiveCells(n), dim = 64, knownCount = n)
    val inv = AnnIvf.invertedFileTwoLevel(corpus, idx, wProbe = 2)
      .select(col("id"), col("cell"))
    exact
      .join(inv.select(col("id").as("a_id"), col("cell").as("cell_a")), Seq("a_id"))
      .join(inv.select(col("id").as("b_id"), col("cell").as("cell_b")), Seq("b_id"))
      // same raw-cosine band-edge ULP caveat as emb_cell_recall
      .groupBy((floor(col("cos_sim") * 10) / 10.0).as("sim_band"))
      .agg(count(lit(1)).as("n_exact"),
        count(when(col("cell_a") === col("cell_b"), 1)).as("n_same_cell"))
      .withColumn("recall",
        round(col("n_same_cell").cast(DoubleType) / col("n_exact").cast(DoubleType), 6))
      .orderBy(col("sim_band"))
  }

  private lazy val embCellRecallTwoLevelSql: String = s"""
    WITH ${ivf2Ctes(16, 64, 2)},
    sub AS (SELECT vec_id, v FROM e WHERE vec_id < 500),
    exact AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        list_cosine_similarity(a.v, b.v) AS cos_sim
      FROM sub a JOIN sub b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
    cells AS (SELECT vec_id, cell FROM inverted2),
    joined AS (
      SELECT x.cos_sim, ca.cell AS cell_a, cb.cell AS cell_b
      FROM exact x
      JOIN cells ca ON ca.vec_id = x.a_id
      JOIN cells cb ON cb.vec_id = x.b_id)
    SELECT floor(cos_sim * 10) / 10.0 AS sim_band,
      COUNT(*) AS n_exact,
      COUNT(CASE WHEN cell_a = cell_b THEN 1 END) AS n_same_cell,
      ROUND(CAST(COUNT(CASE WHEN cell_a = cell_b THEN 1 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS recall
    FROM joined
    GROUP BY 1
    ORDER BY 1"""

  // --------------------------------------- emb_two_level_probe_curve
  // The wProbe tuning curve — emb_recall_curve's role for the
  // two-level index's OTHER knob: how much boundary loss does coarse
  // pruning (wProbe nearest coarse neighborhoods) add, and what does
  // buying it back cost in fine-centroid sweeps per vector. One pass
  // via the probe-once trick on the wProbe axis: probe once at
  // maxW (= coarseK at every oracle-checked scale, so the last point
  // re-creates the flattened one-level argmin over the sampled-trained
  // fine table), tag each fine candidate with its coarse probe rank,
  // explode sequence(rank, maxW) — the wProbe-w assignment is the
  // argmin over candidates from probes 1..w, never re-probed.
  //
  // 100 TB shape: STRICTLY bounded, unlike emb_cell_recall's
  // full-corpus O(n·cells) assignment — both the recall join and the
  // scan statistics run on the capped audit range only (per-vector
  // cost is i.i.d. across the corpus, so subset rates estimate
  // corpus-wide cost unbiasedly); audit work is O(subset·√cells·maxW)
  // at any corpus size. scan_frac = fine sweeps / (subset·cells) —
  // the fraction of the one-level O(cells)-per-row assignment work.
  private val embTwoLevelProbeCurve: Q = (s, d) => {
    val tau = 0.4
    val maxW = 4 // = coarseK(16) at every oracle-checked scale
    val e = embeddings(s, d).withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()
    val cells = AnnIvf.adaptiveCells(n)
    val sub = corpus.filter(col("id") < 500)
    // the exact-audit ground truth (cross-join cosine over the capped
    // subset) and the two-level training are independent chains over
    // the persisted corpus — overlapped (the trainHalves discipline)
    val aG = sub.select(col("id").as("a_id"), col("v").as("av"))
    val bG = sub.select(col("id").as("b_id"), col("v").as("bv"))
    val exact = aG.join(bG, col("a_id") < col("b_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSimilarity(col("av"), col("bv")))
      .filter(col("cos_sim") >= tau)
      .select(col("a_id"), col("b_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (idx, (nAudit, nExact)) = graft.operators.Par.two(
      () => AnnIvf.twoLevelIndex(corpus, cells = cells, dim = 64, knownCount = n),
      () => (sub.count(), exact.count()))
    // fine candidates of the wProbe nearest coarse neighborhoods, with
    // the probe rank that admits them; the squared distance is the
    // same left fold as the packed kernels / the oracle's list_reduce
    val cand = sub
      .select(col("id"), col("v"),
        posexplode(GraftFunctions.nearestCells(col("v"), idx.coarseCents, idx.coarseIds, maxW))
          .as(Seq("pr", "coarse")))
      .join(broadcast(idx.groups), Seq("coarse"))
      .select(col("id"), col("v"), col("pr"),
        explode(arrays_zip(col("gids"), col("gcents"))).as("z"))
      .select(col("id"), col("v"), col("pr"),
        col("z.gids").as("fcell"), col("z.gcents").as("fc"))
      .withColumn("dist",
        expr("aggregate(zip_with(v, fc, (x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (acc, t) -> acc + t)"))
      .withColumn("w", explode(expr(s"sequence(pr + 1, $maxW)")))
      .select(col("id"), col("w"), col("fcell"), col("dist"))
      // two consumers (assignment argmin + scan counts) of the same
      // probe-join subtree
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-(vector, w) assignment: argmin under the (dist, cell) total
    // order — min_by on the struct matches ROW_NUMBER (dist, fcell)
    val cellw = cand.groupBy(col("id"), col("w"))
      .agg(min_by(col("fcell"), struct(col("dist"), col("fcell"))).as("cell"))
    val scanned = cand.groupBy(col("w")).agg(count(lit(1)).as("n_scanned"))
    val same = exact
      .join(cellw.select(col("id").as("a_id"), col("w"), col("cell").as("cell_a")), Seq("a_id"))
      .join(cellw.select(col("id").as("b_id"), col("w"), col("cell").as("cell_b")), Seq("b_id", "w"))
      .groupBy(col("w"))
      .agg(count(when(col("cell_a") === col("cell_b"), 1)).as("n_same_cell"))
    // driver-side literal denominators → plain branches for the
    // empty-corpus guards (EmptyInputSpec totality)
    val recall =
      if (nExact == 0L) lit(0.0)
      else round(coalesce(col("n_same_cell"), lit(0L)).cast(DoubleType)
        / lit(nExact).cast(DoubleType), 6)
    val scanFrac =
      if (nAudit == 0L) lit(0.0)
      else round(coalesce(col("n_scanned"), lit(0L)).cast(DoubleType)
        / lit(nAudit * cells).cast(DoubleType), 6)
    s.range(1, maxW + 1).select(col("id").cast("int").as("w_probe"))
      .join(same.withColumnRenamed("w", "w_probe"), Seq("w_probe"), "left")
      .join(scanned.withColumnRenamed("w", "w_probe"), Seq("w_probe"), "left")
      .select(col("w_probe"), lit(nExact).as("n_exact"),
        coalesce(col("n_same_cell"), lit(0L)).as("n_same_cell"),
        recall.as("recall"),
        coalesce(col("n_scanned"), lit(0L)).as("n_scanned"),
        scanFrac.as("scan_frac"))
      .orderBy(col("w_probe"))
  }

  private lazy val embTwoLevelProbeCurveSql: String = s"""
    WITH ${ivf2Ctes(16, 64, 2)},
    suba AS (SELECT vec_id, v FROM e WHERE vec_id < 500),
    probesr AS (
      SELECT vec_id, v, cell AS coarse, rn AS pr FROM (
        SELECT s.vec_id, s.v, c.cell,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id
            ORDER BY ${ivfSqDist("s.v", "c.c", 64)}, c.cell) AS rn
        FROM suba s CROSS JOIN coarsep c)
      WHERE rn <= 4),
    candr AS (
      SELECT p.vec_id, p.pr, cf.cell AS fcell,
        ${ivfSqDist("p.v", "cf.c", 64)} AS dist
      FROM probesr p
      JOIN f2c ON f2c.coarse = p.coarse
      JOIN centf cf ON cf.cell = f2c.fid),
    wcand AS (
      SELECT vec_id, fcell, dist, k.w
      FROM candr CROSS JOIN LATERAL (SELECT unnest(generate_series(pr, 4)) AS w) k),
    cellw AS (
      SELECT vec_id, w, fcell AS cell FROM (
        SELECT vec_id, w, fcell,
          ROW_NUMBER() OVER (PARTITION BY vec_id, w ORDER BY dist, fcell) AS rn
        FROM wcand)
      WHERE rn = 1),
    scanned AS (SELECT w, COUNT(*) AS n_scanned FROM wcand GROUP BY 1),
    exact AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM suba a JOIN suba b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
    tot AS (SELECT COUNT(*) AS n_exact FROM exact),
    aud AS (SELECT COUNT(*) AS cnt FROM suba),
    same AS (
      SELECT ca.w, COUNT(CASE WHEN ca.cell = cb.cell THEN 1 END) AS n_same_cell
      FROM exact x
      JOIN cellw ca ON ca.vec_id = x.a_id
      JOIN cellw cb ON cb.vec_id = x.b_id AND cb.w = ca.w
      GROUP BY 1),
    ws AS (SELECT unnest(generate_series(1, 4)) AS w)
    SELECT CAST(ws.w AS INT) AS w_probe,
      tot.n_exact AS n_exact,
      CAST(COALESCE(sm.n_same_cell, 0) AS BIGINT) AS n_same_cell,
      CASE WHEN tot.n_exact = 0 THEN 0.0 ELSE
        ROUND(CAST(COALESCE(sm.n_same_cell, 0) AS DOUBLE)
          / CAST(tot.n_exact AS DOUBLE), 6) END AS recall,
      CAST(COALESCE(sc.n_scanned, 0) AS BIGINT) AS n_scanned,
      CASE WHEN aud.cnt = 0 THEN 0.0 ELSE
        ROUND(CAST(COALESCE(sc.n_scanned, 0) AS DOUBLE)
          / CAST(aud.cnt * 16 AS DOUBLE), 6) END AS scan_frac
    FROM ws CROSS JOIN tot CROSS JOIN aud
    LEFT JOIN same sm ON sm.w = ws.w
    LEFT JOIN scanned sc ON sc.w = ws.w
    ORDER BY w_probe"""

  // -------------------------------------------------- emb_ivf_quality
  // IVF index-quality audit: per cell the member count and the mean /
  // max squared quantization error (distance to the refined centroid)
  // — the observability pass an ANN index owner runs before trusting
  // recall (unbalanced or high-inertia cells mean re-train). Error is
  // computed by the NearestCellDist compiled kernel (same index-order
  // fold DuckDB's list_reduce replays bit-exactly); the per-cell mean
  // goes through exact decimal sums so it is order-independent. One
  // projection-only scan + one hash aggregate — nothing but the
  // ≤cells-row audit ever leaves the executors.
  private val embIvfQuality: Q = (s, d) => {
    val e = embeddings(s, d)
      .withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the audit must describe the SAME index every other IVF consumer
    // builds (adaptiveCells), and one combined kernel sweep yields
    // assignment + quantization error together
    val (ids, cents) = AnnIvf.collectCentroids(
      AnnIvf.refinedCentroids(corpus,
        cells = AnnIvf.adaptiveCells(corpus.count()), dim = 64))
    corpus
      .withColumn("cd", GraftFunctions.nearestCellWithDist(col("v"), cents, ids))
      .select(col("id"), col("cd.cell").as("cell"), col("cd.sq").as("sq"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("sq").cast(DecimalType(28, 12))).cast(DoubleType)
          / count(lit(1)), 6).as("mean_sq_err"),
        round(max(col("sq")), 6).as("max_sq_err"),
        min(col("id")).as("min_vec_id"))
      .orderBy(col("cell"))
  }

  private lazy val embIvfQualitySql: String = s"""
    WITH ${ivfCtes(16, 64)},
    err AS (
      SELECT iv.cell, iv.vec_id, ${ivfSqDist("iv.v", "c1.c", 64)} AS sq
      FROM inverted iv JOIN centf c1 ON c1.cell = iv.cell)
    SELECT cell, COUNT(*) AS n_vecs,
      ROUND(CAST(SUM(CAST(sq AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
        AS mean_sq_err,
      ROUND(MAX(sq), 6) AS max_sq_err,
      MIN(vec_id) AS min_vec_id
    FROM err
    GROUP BY 1
    ORDER BY cell"""

  // ------------------------------------------------- emb_ood_score
  // Embedding-space outlier pruning — the curation pass that drops
  // corrupt/off-distribution vectors before they poison ANN indexes
  // or semantic-dedup cells: distance to the NEAREST IVF centroid as
  // an out-of-distribution score, reported as the top-50 farthest
  // vectors (junk-candidate review list). One codegen'd scan — the
  // centroid table rides inside the compiled NearestCellDist kernel
  // (a broadcast-by-construction literal, never a join) — and the
  // global ranking is a bounded TakeOrderedAndProject, so at 100 TB
  // the cost is exactly one pass over the vectors plus a 50-row
  // merge. Shares the Lloyd-refined centroids (and their DuckDB
  // replay CTEs) with emb_ivf_quality/emb_cell_dedup.
  private val embOodScore: Q = (s, d) => {
    val e = embeddings(s, d)
      .withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // adaptiveCells (= 16 at every oracle-checked scale): the OOD
    // score must audit the SAME index emb_cell_dedup prunes against,
    // or outlier pruning and semantic dedup silently diverge at scale
    val (ids, cents) = AnnIvf.collectCentroids(
      AnnIvf.refinedCentroids(corpus,
        cells = AnnIvf.adaptiveCells(corpus.count()), dim = 64))
    // one compiled sweep yields assignment AND quantization error —
    // NearestCell + NearestCellDist would argmin the centroids twice
    corpus
      .withColumn("cd", GraftFunctions.nearestCellWithDist(col("v"), cents, ids))
      .select(col("id").as("vec_id"), col("cd.cell").as("cell"),
        round(sqrt(col("cd.sq")), 6).as("ood_dist"))
      .orderBy(col("ood_dist").desc, col("vec_id"))
      .limit(50)
  }

  private lazy val embOodScoreSql: String = s"""
    WITH ${ivfCtes(16, 64)},
    scored AS (
      SELECT iv.vec_id, iv.cell,
        ROUND(SQRT(${ivfSqDist("iv.v", "c1.c", 64)}), 6) AS ood_dist
      FROM inverted iv JOIN centf c1 ON c1.cell = iv.cell)
    SELECT vec_id, cell, ood_dist
    FROM scored
    ORDER BY ood_dist DESC, vec_id
    LIMIT 50"""

  // ------------------------------------------------- emb_recall_curve
  // The IVF tuning curve: recall@10 AND scanned-corpus fraction as a
  // function of nprobe (1..4) in ONE pass — the recall/cost trade
  // table an operator reads before picking nprobe for a 100 TB
  // deployment. The trick that keeps it one pass: every corpus vector
  // lives in exactly one cell, so a candidate found at probe rank r
  // is a candidate for every nprobe ≥ r — probe once at maxProbe,
  // tag each candidate with its cell's probe rank, and explode
  // sequence(rank, maxProbe) instead of re-probing per setting. All
  // recalls/fractions derive from integer counts (one double division
  // each), so the curve replays exactly in DuckDB.
  private val embRecallCurve: Q = (s, d) => {
    val maxProbe = 4
    val e = embeddings(s, d).withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    // persisted: the sizing count, Lloyd rounds, inverted file and the
    // probe join all rescan the cast projection otherwise
    val corpus = e.select(col("vec_id").as("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()
    val (ids, cents) = AnnIvf.collectCentroids(
      AnnIvf.refinedCentroids(corpus, cells = AnnIvf.adaptiveCells(n), dim = 64))
    val inv = AnnIvf.invertedFile(corpus, ids, cents)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val expanded = queries
      .select(col("query_id"), col("qv"),
        posexplode(GraftFunctions.nearestCells(col("qv"), cents, ids, maxProbe))
          .as(Seq("pr", "cell")))
      .join(inv, Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSimilarity(col("qv"), col("v")))
      .withColumn("nprobe", explode(expr(s"sequence(pr + 1, $maxProbe)")))
      .select(col("query_id"), col("id"), col("nprobe"), col("cos_sim"))
      // persisted: `found` (via ann10) and `scanned` are two branches
      // of this same probe-join subtree — without the persist the
      // whole probe+cosine pass executes twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ann10 = expanded
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"), col("nprobe"))
          .orderBy(col("cos_sim").desc, col("id"))))
      .filter(col("rnk") <= 10)
    // persisted: counted here and joined below — the brute-force
    // cosine ranking is the most expensive subtree in the query
    val exact = graft.queries.Vectors.entries("emb_cosine_topk")(s, d)
      .select(col("query_id"), col("neighbor_id").as("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nExact = exact.count()
    val found = exact.join(ann10, Seq("query_id", "id"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_found"))
    val scanned = expanded.groupBy(col("nprobe")).agg(count(lit(1)).as("n_scanned"))
    // empty-corpus totality (EmptyInputSpec): zero exact neighbors /
    // a <=1-vector corpus must yield a zero curve, not an ANSI
    // divide-by-zero — the denominators are driver-side literals, so
    // the guard is a plain branch
    val recall =
      if (nExact == 0L) lit(0.0)
      else round(coalesce(col("n_found"), lit(0L)).cast(DoubleType)
        / lit(nExact).cast(DoubleType), 4)
    val scanFrac =
      if (n <= 1L) lit(0.0)
      else round(coalesce(col("n_scanned"), lit(0L)).cast(DoubleType)
        / lit(5L * (n - 1)).cast(DoubleType), 6)
    s.range(1, maxProbe + 1).select(col("id").cast("int").as("nprobe"))
      .join(found, Seq("nprobe"), "left")
      .join(scanned, Seq("nprobe"), "left")
      .select(col("nprobe"), lit(nExact).as("n_exact"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        recall.as("recall"),
        coalesce(col("n_scanned"), lit(0L)).as("n_scanned"),
        scanFrac.as("scan_frac"))
      .orderBy(col("nprobe"))
  }

  private lazy val embRecallCurveSql: String = s"""
    WITH ${ivfCtes(16, 64)},
    ${graft.queries.Vectors.cosineTopkCtes.trim},
    exact AS (SELECT query_id, neighbor_id AS id FROM ex_r WHERE rank <= 10),
    probes AS (
      SELECT q.vec_id AS query_id, q.v AS qv, c1.cell,
        ROW_NUMBER() OVER (PARTITION BY q.vec_id
          ORDER BY ${ivfSqDist("q.v", "c1.c", 64)}, c1.cell) AS probe_rank
      FROM (SELECT vec_id, v FROM e WHERE vec_id < 5) q CROSS JOIN centf c1),
    expanded AS (
      SELECT p.query_id, iv.vec_id AS id, k.k AS nprobe,
        list_cosine_similarity(p.qv, iv.v) AS cos
      FROM probes p
      JOIN inverted iv ON iv.cell = p.cell AND iv.vec_id <> p.query_id
      CROSS JOIN LATERAL (SELECT unnest(generate_series(probe_rank, 4)) AS k) k
      WHERE p.probe_rank <= 4),
    ann10 AS (
      SELECT query_id, nprobe, id FROM (
        SELECT query_id, nprobe, id,
          ROW_NUMBER() OVER (PARTITION BY query_id, nprobe
            ORDER BY cos DESC, id) AS rnk
        FROM expanded)
      WHERE rnk <= 10),
    found AS (
      SELECT a.nprobe, COUNT(*) AS n_found
      FROM exact x JOIN ann10 a ON a.query_id = x.query_id AND a.id = x.id
      GROUP BY 1),
    scanned AS (SELECT nprobe, COUNT(*) AS n_scanned FROM expanded GROUP BY 1),
    ks AS (SELECT unnest(generate_series(1, 4)) AS nprobe),
    tot AS (SELECT COUNT(*) AS n_exact FROM exact),
    corp AS (SELECT COUNT(*) AS cnt FROM e)
    SELECT CAST(ks.nprobe AS INT) AS nprobe,
      tot.n_exact AS n_exact,
      CAST(COALESCE(f.n_found, 0) AS BIGINT) AS n_found,
      CASE WHEN tot.n_exact = 0 THEN 0.0 ELSE
        ROUND(CAST(COALESCE(f.n_found, 0) AS DOUBLE) / CAST(tot.n_exact AS DOUBLE), 4)
      END AS recall,
      CAST(COALESCE(sc.n_scanned, 0) AS BIGINT) AS n_scanned,
      CASE WHEN corp.cnt <= 1 THEN 0.0 ELSE
        ROUND(CAST(COALESCE(sc.n_scanned, 0) AS DOUBLE)
          / CAST(5 * (corp.cnt - 1) AS DOUBLE), 6)
      END AS scan_frac
    FROM ks CROSS JOIN tot CROSS JOIN corp
    LEFT JOIN found f ON f.nprobe = ks.nprobe
    LEFT JOIN scanned sc ON sc.nprobe = ks.nprobe
    ORDER BY nprobe"""

  // Multimodal: frame sampling over an opaque binary payload — the
  // video-pipeline shape (decode is elsewhere; THIS op is the offset
  // arithmetic that picks every k-th fixed-size frame out of a byte
  // stream, as a pure scan-level projection + explode). Frames are
  // identified by hex content so the op is engine-replayable; at
  // 100 TB the payload bytes never shuffle — only the sampled slices.
  private val mmFrameSample: Q = (s, d) =>
    documents(s, d)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("hex", hex(col("payload")))
      .withColumn("n_frames",
        ceil(octet_length(col("payload")).cast(DoubleType) / 16.0).cast("long"))
      // empty payload → no frames; without this guard sequence(0,-1,4)
      // throws, while the oracle's range(0,0,4) just yields no rows
      .where(col("n_frames") > 0)
      .select(col("doc_id"), col("n_frames"),
        explode(expr(
          "transform(sequence(0, cast(n_frames-1 AS INT), 4), " +
            "i -> struct(cast(i AS BIGINT) AS frame_idx, substring(hex, i*32+1, 32) AS frame_hex))")).as("f"))
      .select(col("doc_id"), col("n_frames"),
        col("f.frame_idx").as("frame_idx"), col("f.frame_hex").as("frame_hex"))
      .orderBy(col("doc_id"), col("frame_idx"))

  private val mmFrameSampleSql = """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
        CAST(CEIL(octet_length(encode(text)) / 16.0) AS BIGINT) AS n_frames
      FROM documents),
    f AS (
      SELECT doc_id, n_frames,
        unnest(range(0, n_frames, 4)) AS frame_idx, h
      FROM b)
    SELECT doc_id, n_frames, frame_idx,
      substr(h, CAST(frame_idx AS INT) * 32 + 1, 32) AS frame_hex
    FROM f
    ORDER BY doc_id, frame_idx"""

  // Multimodal: binary payload → per-partition batched (stubbed)
  // decode → typed feature rows.
  private val mmFeatureStub: Q = (s, d) => {
    val withBin = documents(s, d).withColumn("payload", encode(col("text"), "UTF-8"))
    Multimodal.extractFeatures(s, withBin, "doc_id", "payload")
      .toDF()
      .select(col("doc_id"), col("byte_len"), col("fake_width"), col("fake_height"),
        round(element_at(col("features"), 1), 4).as("f0"),
        round(element_at(col("features"), 8), 4).as("f7"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB can replay PolyHash exactly: decode UTF-8 bytes via hex
    * pairs, then a HUGEINT fold of (acc·base + byte) mod 2⁶¹−1 — so
    * the custom codegen expression gets a real cross-engine oracle.
    */
  private val docFingerprintSql = """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
      FROM documents),
    f AS (
      SELECT doc_id,
        list_reduce(
          list_prepend(CAST(0 AS HUGEINT),
            list_transform(range(1, n + 1),
              i -> CAST((instr('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1) * 16
                 + instr('0123456789ABCDEF', substr(h, 2*i, 1)) - 1 AS HUGEINT))),
          (acc, v) -> (acc * 1000003 + v) % 2305843009213693951) AS fp
      FROM b)
    SELECT doc_id, CAST(fp AS BIGINT) AS fingerprint
    FROM f
    ORDER BY doc_id"""

  val entries: Map[String, Q] = Map(
    "doc_chunk_dedup" -> docChunkDedup,
    "doc_pipeline_filter" -> docPipelineFilter,
    "emb_ann_ivf" -> embAnnIvf,
    "emb_ann_ivf_two_level" -> embAnnIvfTwoLevel,
    "emb_cluster_sample" -> embClusterSample,
    "emb_ivf_quality" -> embIvfQuality,
    "emb_recall_curve" -> embRecallCurve,
    "emb_ood_score" -> embOodScore,
    "emb_cell_dedup" -> embCellDedup,
    "emb_cell_dedup_two_level" -> embCellDedupTwoLevel,
    "emb_cell_recall" -> embCellRecall,
    "emb_cell_recall_two_level" -> embCellRecallTwoLevel,
    "emb_two_level_probe_curve" -> embTwoLevelProbeCurve,
    "doc_minhash_lsh" -> docMinhashLsh,
    "doc_dedup_clusters" -> docDedupClusters,
    "doc_dup_cluster_stats" -> docDupClusterStats,
    "doc_leakage_safe_split" -> docLeakageSafeSplit,
    "doc_lsh_recall" -> docLshRecall,
    "emb_ann_recall" -> embAnnRecall,
    "emb_ann_recall_tuned" -> embAnnRecallTuned,
    "doc_simhash" -> docSimhash,
    "doc_fingerprint" -> docFingerprint,
    "emb_ann_lsh" -> embAnnLsh,
    "mm_feature_stub" -> mmFeatureStub,
    "mm_frame_sample" -> mmFrameSample)

  /** DuckDB replay of SimHash64: FNV-1a per whitespace token with
    * mod-2⁶⁴ wrap-around emulated in HUGEINT, ±1 bit votes, sign
    * bits reassembled and converted back to the signed 64-bit value.
    * The 2^b constants are inlined as HUGEINT literals (pow() would
    * go through doubles and lose exactness at 2⁶³).
    */
  private val docSimhashSql: String = {
    val pow2 = (0 until 64).map(b => s"${BigInt(1) << b}::HUGEINT").mkString("[", ", ", "]")
    val two64 = BigInt(1) << 64
    s"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens
      FROM documents),
    hashed AS (
      SELECT doc_id,
        list_transform(tokens, t ->
          list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(t) + 1), i -> CAST(unicode(substr(t, CAST(i AS INT), 1)) AS HUGEINT))),
            (acc, c) -> (xor(acc, c) * 1099511628211) % $two64::HUGEINT)) AS hashes
      FROM tok),
    bits AS (
      SELECT doc_id,
        list_sum(list_transform(range(0, 64), b ->
          CASE WHEN list_sum(list_transform(hashes, h ->
                 CASE WHEN (h // ($pow2[CAST(b AS INT) + 1])) % 2 = 1 THEN 1 ELSE -1 END)) > 0
               THEN $pow2[CAST(b AS INT) + 1] ELSE 0::HUGEINT END)) AS u
      FROM hashed)
    SELECT doc_id,
      CAST(CASE WHEN u >= ${BigInt(1) << 63}::HUGEINT THEN u - $two64::HUGEINT ELSE u END AS BIGINT) AS simhash,
      CAST(CASE WHEN u >= ${BigInt(1) << 63}::HUGEINT THEN u - $two64::HUGEINT ELSE u END AS BIGINT) & 65535 AS chunk0
    FROM bits
    ORDER BY doc_id"""
  }

  /** DuckDB replay of the stubbed media decode: UTF-8 bytes from hex
    * pairs, bucketed byte-histogram means, integer-division fake
    * dimensions — the stub is deterministic arithmetic, so even the
    * "decode" gets a cross-engine oracle.
    */
  private val mmFeatureStubSql = """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
      FROM documents),
    bytes AS (
      SELECT doc_id, n,
        list_transform(range(1, n + 1),
          i -> (instr('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1) * 16
             + instr('0123456789ABCDEF', substr(h, 2*i, 1)) - 1) AS bs
      FROM b),
    f AS (
      SELECT doc_id, n,
        CAST(n % 640 + 1 AS INT) AS fake_width,
        CAST(n // GREATEST(n % 640 + 1, 1) + 1 AS INT) AS fake_height,
        list_sum(list_transform(bs, v -> CASE WHEN v % 8 = 0 THEN v ELSE 0 END)) AS s0,
        len(list_filter(bs, v -> v % 8 = 0)) AS c0,
        list_sum(list_transform(bs, v -> CASE WHEN v % 8 = 7 THEN v ELSE 0 END)) AS s7,
        len(list_filter(bs, v -> v % 8 = 7)) AS c7
      FROM bytes)
    SELECT doc_id, CAST(n AS INT) AS byte_len, fake_width, fake_height,
      ROUND(CASE WHEN c0 = 0 THEN 0.0 ELSE CAST(s0 AS DOUBLE) / c0 END, 4) AS f0,
      ROUND(CASE WHEN c7 = 0 THEN 0.0 ELSE CAST(s7 AS DOUBLE) / c7 END, 4) AS f7
    FROM f
    ORDER BY doc_id"""

  /** DuckDB replay of the ENTIRE MinHash+LSH pipeline — possible
    * because every stage is integer-exact: FNV gram hashes (mod-2⁶⁴
    * wrap in HUGEINT, converted to signed), the k affine permutations
    * (identical coefficients inlined from MinHash.coefficients;
    * wrap-around multiply decomposed into 32-bit halves so the
    * HUGEINT intermediate never overflows), raw-slice band buckets
    * (list-equality join), the signature-overlap prefilter with the
    * same float threshold bits, and exact Jaccard on the hash sets.
    */
  /** Shared CTE chain ending in `pairs(a_id, b_id, jaccard)` — used
    * by both the pair oracle and the cluster oracle.
    */
  /** Replay CTEs through candidate generation — grams, FNV hashes,
    * affine-permutation signatures (HUGEINT mod 2⁶⁴), band slices and
    * the distinct colliding-pair set `cand`. Shared by the batch LSH
    * oracles (which add estimate prefilter + exact verify) and the
    * streaming pair oracle (whose decision value IS the signature
    * estimate).
    */
  private[queries] val minhashSigCtes: String = {
    val k = 36; val bands = 6; val rows = 6
    val (as, bs) = graft.functions.expressions.MinHash.coefficients(k)
    val mask = (BigInt(1) << 64) - 1
    val coeffRows = (0 until k)
      .map(i => s"(${i + 1}, ${BigInt(as(i)) & mask}::HUGEINT, ${BigInt(bs(i)) & mask}::HUGEINT)")
      .mkString(", ")
    val two64 = BigInt(1) << 64
    s"""g AS (
      SELECT doc_id,
        list_transform(generate_series(1, greatest(length(text)-2, 1)),
                       i -> substr(text, CAST(i AS INT), 3)) AS grams
      FROM documents),
    gh AS (
      SELECT doc_id,
        list_distinct(list_transform(grams, gr ->
          list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, octet_length(encode(gr)) + 1),
                i -> CAST((instr('0123456789ABCDEF', substr(hex(encode(gr)), 2*i-1, 1)) - 1) * 16
                   + instr('0123456789ABCDEF', substr(hex(encode(gr)), 2*i, 1)) - 1 AS HUGEINT))),
            (acc, c) -> (xor(acc, c) * 1099511628211) % $two64::HUGEINT))) AS ghash
      FROM g),
    coeffs(i, a, b) AS (VALUES $coeffRows),
    perm AS (
      SELECT doc_id, c.i,
        MIN(((c.a * (t.h % 4294967296)) % $two64::HUGEINT
           + ((c.a * (t.h // 4294967296)) % 4294967296) * 4294967296
           + c.b) % $two64::HUGEINT) AS slot
      FROM (SELECT doc_id, unnest(ghash) AS h FROM gh) t
      CROSS JOIN coeffs c
      GROUP BY doc_id, c.i),
    sig AS (
      SELECT doc_id, list(slot ORDER BY i) AS sig FROM perm GROUP BY doc_id),
    bands AS (
      SELECT doc_id, j, sig[(j*$rows+1):(j*$rows+$rows)] AS bucket
      FROM sig CROSS JOIN (SELECT unnest(range(0, $bands)) AS j)),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b ON a.j = b.j AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""
  }

  private val minhashCtes: String = {
    val k = 36; val tau = 0.8
    val est = tau - 0.2 // same double bits as the Spark-side filter
    s"""$minhashSigCtes,
    est AS (
      SELECT c.a_id, c.b_id
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.a_id
      JOIN sig sb ON sb.doc_id = c.b_id
      WHERE CAST(len(list_filter(range(1, $k + 1), i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS DOUBLE) / $k >= $est),
    pairs AS (
      SELECT e.a_id, e.b_id,
        CAST(len(list_intersect(ga.ghash, gb.ghash)) AS DOUBLE)
          / CAST(len(ga.ghash) + len(gb.ghash) - len(list_intersect(ga.ghash, gb.ghash)) AS DOUBLE) AS jaccard
      FROM est e
      JOIN gh ga ON ga.doc_id = e.a_id
      JOIN gh gb ON gb.doc_id = e.b_id
      WHERE CAST(len(list_intersect(ga.ghash, gb.ghash)) AS DOUBLE)
          / CAST(len(ga.ghash) + len(gb.ghash) - len(list_intersect(ga.ghash, gb.ghash)) AS DOUBLE) >= $tau)"""
  }

  private val docMinhashLshSql: String =
    s"""
    WITH $minhashCtes
    SELECT a_id, b_id, jaccard FROM pairs ORDER BY a_id, b_id"""

  /** Recall-eval oracle: ground truth re-derived from string 3-gram
    * sets (hash-invariant jaccard, same as the docNgramJaccard
    * oracle), the pipeline side replayed through the shared minhash
    * CTEs, banded identically.
    */
  private val docLshRecallSql: String =
    s"""
    WITH $minhashCtes,
    eg AS (
      SELECT doc_id,
        list_distinct(list_transform(generate_series(1, greatest(length(text)-2, 1)),
          i -> substr(text, CAST(i AS INT), 3))) AS grams
      FROM documents WHERE doc_id < 500),
    exact AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / CAST(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS DOUBLE) AS jaccard
      FROM eg a JOIN eg b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / CAST(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS DOUBLE) >= 0.8),
    lsh AS (SELECT a_id, b_id FROM pairs WHERE a_id < 500 AND b_id < 500),
    joined AS (
      SELECT e.jaccard, CASE WHEN l.a_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM exact e LEFT JOIN lsh l ON l.a_id = e.a_id AND l.b_id = e.b_id)
    SELECT floor(jaccard * 20) / 20.0 AS sim_band,
      COUNT(*) AS n_exact,
      CAST(SUM(hit) AS BIGINT) AS n_found,
      ROUND(CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
    FROM joined
    GROUP BY 1
    ORDER BY 1"""

  /** Cluster oracle: recursive label propagation over the replayed
    * pair list — reach(x) accumulates every smaller id that can reach
    * x; MIN per node is the component minimum (the representative).
    */
  /** Recursive-CTE chain ending in `labels(id, cluster)` — the doc-
    * level connected-component labels over the replayed near-dup
    * pairs. Shared by the cluster oracle and the dup-stats oracle.
    */
  private val clusterLabelCtes: String =
    s"""$minhashCtes,
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs),
    reach(id, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl
      FROM reach r JOIN edges e ON e.src = r.id
      WHERE r.lbl < e.dst),
    labels AS (
      SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id)"""

  private val docDedupClustersSql: String =
    s"""
    WITH RECURSIVE $clusterLabelCtes
    SELECT cluster AS representative_id, COUNT(*) AS cluster_size
    FROM labels
    GROUP BY 1
    ORDER BY 1"""

  /** Dedup observability: what would dropping non-representatives
    * save — the histogram is over the SAME labels as the cluster
    * oracle, joined back to each doc's size.
    */
  private val docDupClusterStatsSql: String =
    s"""
    WITH RECURSIVE $clusterLabelCtes,
    lab2 AS (
      SELECT l.id, l.cluster, d.n_chars
      FROM labels l JOIN documents d ON d.doc_id = l.id),
    clusters AS (
      SELECT cluster, COUNT(*) AS cluster_size,
        CAST(SUM(CASE WHEN id <> cluster THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dup
      FROM lab2 GROUP BY 1),
    hist AS (
      SELECT cluster_size, COUNT(*) AS n_clusters,
        CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
        CAST(SUM(cluster_size) - COUNT(*) AS BIGINT) AS dup_docs,
        CAST(SUM(chars_dup) AS BIGINT) AS dup_chars
      FROM clusters GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS corpus_chars FROM documents)
    SELECT cluster_size, n_clusters, n_docs, dup_docs, dup_chars,
      ROUND(CAST(dup_chars AS DOUBLE) / CAST(corpus_chars AS DOUBLE), 6) AS dup_char_share
    FROM hist CROSS JOIN tot
    ORDER BY cluster_size"""

  /** Leakage-safe split oracle: the SAME recursive cluster labels,
    * then both split rules (cluster-keyed and naive doc-keyed) from
    * the shared md5 bucket expression.
    */
  private val docLeakageSafeSplitSql: String = {
    val naiveBucket = Text.splitBucketSqlOf("id")
    val clusterBucket = Text.splitBucketSqlOf("cluster")
    def nameOf(b: String) =
      s"CASE WHEN $b < 90 THEN 'train' WHEN $b < 95 THEN 'val' ELSE 'test' END"
    s"""
    WITH RECURSIVE $clusterLabelCtes,
    member AS (
      SELECT id, cluster, ${nameOf(naiveBucket)} AS naive_split
      FROM labels),
    clusters AS (
      SELECT cluster, COUNT(*) AS cluster_size,
        MIN(naive_split) AS naive_mn, MAX(naive_split) AS naive_mx,
        ${nameOf(clusterBucket)} AS split
      FROM member GROUP BY cluster)
    SELECT split, COUNT(*) AS n_clusters,
      CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN cluster_size >= 2 THEN cluster_size ELSE 0 END) AS BIGINT)
        AS docs_in_dup_clusters,
      COUNT(CASE WHEN naive_mn <> naive_mx THEN 1 END) AS naive_leaky_clusters
    FROM clusters
    GROUP BY 1
    ORDER BY 1"""
  }

  /** DuckDB replay of the random-hyperplane ANN: the "random" planes
    * are a seeded xorshift, so their exact double values are inlined
    * as literals (shortest-roundtrip repr → identical doubles), and
    * every fold (plane dots for bucket codes, dot/norms for cosine)
    * uses the same sequential accumulation shape as the Spark
    * expressions — bit-identical signs, codes, and rankings.
    */
  /** CTE chain replaying the random-hyperplane ANN through `ranked
    * (query_id, neighbor_id, cos_raw, rank)` — shared by the LSH
    * oracle and the recall audit.
    */
  private val lshRankedCtes: String = {
    val bits = 6; val dim = 64
    val hp = graft.operators.AnnLsh.hyperplanes(bits, dim)
    def fold(vec: String, plane: Array[Double]): String = {
      val lits = plane.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), " +
        s"i -> $vec[CAST(i AS INT)] * ($lits::DOUBLE[])[CAST(i AS INT)])), (acc, x) -> acc + x)"
    }
    val codeExpr = (0 until bits)
      .map(j => s"(CASE WHEN ${fold("v", hp(j))} > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    def sumFold(term: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), i -> $term)), (acc, x) -> acc + x)"
    val dot = sumFold("qv[CAST(i AS INT)] * cv[CAST(i AS INT)]")
    val nq = sumFold("qv[CAST(i AS INT)] * qv[CAST(i AS INT)]")
    val nc = sumFold("cv[CAST(i AS INT)] * cv[CAST(i AS INT)]")
    val probeList = ("code" +: (0 until bits).map(j => s"xor(code, ${1L << j})")).mkString("[", ", ", "]")
    s"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    coded AS (
      SELECT vec_id, v, $codeExpr AS code FROM e),
    probes AS (
      SELECT vec_id AS query_id, v AS qv, unnest($probeList) AS code
      FROM coded WHERE vec_id < 5),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id, p.qv AS qv, c.v AS cv
      FROM probes p JOIN coded c ON c.code = p.code AND c.vec_id <> p.query_id),
    ranked AS (
      SELECT query_id, neighbor_id,
        $dot / (sqrt($nq) * sqrt($nc)) AS cos_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY $dot / (sqrt($nq) * sqrt($nc)) DESC, neighbor_id) AS rank
      FROM scored)"""
  }

  private val embAnnLshSql: String =
    s"""
    WITH $lshRankedCtes
    SELECT query_id, rank, neighbor_id, ROUND(cos_raw, 4) AS cos_sim
    FROM ranked
    WHERE rank <= 10
    ORDER BY query_id, rank"""

  /** ANN recall audit oracle: LSH top-10 (shared ranked CTEs) against
    * the exact cosine top-10 from Vectors.cosineTopkCtes — the same
    * CTE chain emb_cosine_topk's own oracle selects from, so the
    * ground-truth contract cannot drift between the two.
    */
  private val embAnnRecallSql: String =
    s"""
    WITH $lshRankedCtes,
    ${graft.queries.Vectors.cosineTopkCtes},
    ann AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 10),
    ext AS (SELECT query_id, neighbor_id FROM ex_r WHERE rank <= 10),
    j AS (
      SELECT x.query_id,
        CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM ext x LEFT JOIN ann a
        ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id)
    SELECT query_id, COUNT(*) AS n_exact, CAST(SUM(hit) AS BIGINT) AS n_found,
      ROUND(CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) AS recall
    FROM j
    GROUP BY 1
    ORDER BY 1"""

  /** DuckDB replay of the multi-table recall audit: per table, the
    * same code/probe/bucket-join CTEs as lshRankedCtes (per-table
    * plane literals), candidates unioned + deduped, exact-cosine
    * reranked with the pinned sequential fold, measured against the
    * shared exact-topk CTEs.
    */
  private val embAnnRecallTunedSql: String = {
    val bits = 6; val dim = 64; val tables = AnnRecallTables
    def fold(vec: String, plane: Array[Double]): String = {
      val lits = plane.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), " +
        s"i -> $vec[CAST(i AS INT)] * ($lits::DOUBLE[])[CAST(i AS INT)])), (acc, x) -> acc + x)"
    }
    def sumFold(term: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), i -> $term)), (acc, x) -> acc + x)"
    val dot = sumFold("qv[CAST(i AS INT)] * cv[CAST(i AS INT)]")
    val nq = sumFold("qv[CAST(i AS INT)] * qv[CAST(i AS INT)]")
    val nc = sumFold("cv[CAST(i AS INT)] * cv[CAST(i AS INT)]")
    val probeList = ("code" +: (0 until bits).map(j => s"xor(code, ${1L << j})")).mkString("[", ", ", "]")
    val perTable = (0 until tables).map { t =>
      val hp = graft.operators.AnnLsh.hyperplanes(bits, dim, seed = 42L + 1000L * t)
      val codeExpr = (0 until bits)
        .map(j => s"(CASE WHEN ${fold("v", hp(j))} > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      s"""coded_$t AS (
      SELECT vec_id, v, $codeExpr AS code FROM e),
    cand_$t AS (
      SELECT p.query_id, c.vec_id AS neighbor_id
      FROM (SELECT vec_id AS query_id, unnest($probeList) AS code
            FROM coded_$t WHERE vec_id < 5) p
      JOIN coded_$t c ON c.code = p.code AND c.vec_id <> p.query_id)"""
    }.mkString(",\n    ")
    val candUnion = (0 until tables)
      .map(t => s"SELECT query_id, neighbor_id FROM cand_$t")
      .mkString(" UNION ALL ")
    s"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    $perTable,
    cand AS (
      SELECT DISTINCT query_id, neighbor_id FROM ($candUnion)),
    scored AS (
      SELECT cd.query_id, cd.neighbor_id, q.v AS qv, c.v AS cv
      FROM cand cd
      JOIN e q ON q.vec_id = cd.query_id
      JOIN e c ON c.vec_id = cd.neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY $dot / (sqrt($nq) * sqrt($nc)) DESC, neighbor_id) AS rank
      FROM scored),
    ann AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 10),
    ncand AS (SELECT query_id, COUNT(*) AS n_candidates FROM cand GROUP BY 1),
    ${graft.queries.Vectors.cosineTopkCtes},
    ext AS (SELECT query_id, neighbor_id FROM ex_r WHERE rank <= 10),
    j AS (
      SELECT x.query_id,
        CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM ext x LEFT JOIN ann a
        ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id),
    res AS (
      SELECT query_id, COUNT(*) AS n_exact, CAST(SUM(hit) AS BIGINT) AS n_found
      FROM j GROUP BY 1)
    SELECT r.query_id, r.n_exact, r.n_found, n.n_candidates,
      ROUND(CAST(r.n_found AS DOUBLE) / CAST(r.n_exact AS DOUBLE), 4) AS recall
    FROM res r JOIN ncand n ON n.query_id = r.query_id
    ORDER BY r.query_id"""
  }

  /** DuckDB replay of the whole IVF pipeline: seeded centroids inlined
    * as literals; every distance, mean and cosine uses the same
    * sequential fold / decimal-sum shape as the Spark expressions, so
    * assignments, the Lloyd refinement and the final ranking are
    * bit-identical across engines.
    */
  /** Shared replay CTE block for every IVF-derived oracle: seeded
    * centroids as literals → assign0 → decimal-exact Lloyd means →
    * `inverted(vec_id, v, cell)`. Distances use the same sequential
    * fold shape as the Spark kernels.
    */
  private[queries] def ivfSqDist(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), " +
      s"i -> ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) * ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]))), (acc, x) -> acc + x)"

  /** `eWhere` (optional) restricts the training corpus `e` — the
    * incremental-append oracle trains on the base subset and replays
    * the frozen-index delta encode separately.
    */
  private[queries] def ivfCtes(cells: Int, dim: Int, eWhere: String = ""): String = {
    val cents = AnnIvf.centroids0(cells, dim)
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.map(java.lang.Double.toString).mkString("[", ", ", "]")}::DOUBLE[])"
    }.mkString(", ")
    // one assign→mean CTE pair per Lloyd round (round count lives in
    // AnnIvf.LloydRounds, shared with the Spark side); `centf` is the
    // final centroid table every downstream oracle probes against
    def assignCte(name: String, centTable: String): String = s"""
    $name AS (
      SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY ${ivfSqDist("e.v", "c.c", dim)}, c.cell) AS rn
        FROM e CROSS JOIN $centTable c)
      WHERE rn = 1)"""
    def meanCte(name: String, assignTable: String): String = s"""
    $name AS (
      SELECT cell, list(m ORDER BY i) AS c FROM (
        SELECT a.cell, i,
          CAST(COALESCE(SUM(CAST(a.v[CAST(i AS INT)] AS DECIMAL(18,6))), 0) AS DOUBLE) / COUNT(*) AS m
        FROM $assignTable a CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i)
        GROUP BY a.cell, i)
      GROUP BY cell)"""
    val rounds = AnnIvf.LloydRounds
    val eFilter = if (eWhere.isEmpty) "" else s" WHERE $eWhere"
    val sb = new StringBuilder(s"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings$eFilter),
    cents0(cell, c) AS (VALUES $centRows),${assignCte("assign0", "cents0")}""")
    for (r <- 1 to rounds) {
      sb.append(",").append(meanCte(s"cent$r", s"assign${r - 1}"))
      if (r < rounds) sb.append(",").append(assignCte(s"assign$r", s"cent$r"))
    }
    sb.append(s""",
    centf AS (SELECT cell, c FROM cent$rounds),${assignCte("inverted", "centf")}""")
    sb.toString
  }

  /** DuckDB replay of the ENTIRE two-level IVF pipeline: sampled fine
    * Lloyd (same assign/mean shapes as [[ivfCtes]], over the hash-
    * sampled training set), coarse Lloyd over the fine-centroid table
    * itself (AnnIvf.CoarseRounds, seed AnnIvf.CoarseSeed), fine cells
    * grouped under their nearest FINAL coarse centroid, and both the
    * corpus assignment and the query probes restricted to the wProbe
    * nearest coarse neighborhoods — every argmin ROW_NUMBER'd by
    * (dist, cell), the total order the packed kernels implement.
    */
  /** Shared replay CTE block for every TWO-LEVEL IVF oracle: sampled
    * training set, fine Lloyd (same assign/mean shapes as [[ivfCtes]]),
    * coarse Lloyd over the fine-centroid table itself
    * (AnnIvf.CoarseRounds, seed AnnIvf.CoarseSeed), fine cells grouped
    * under their nearest FINAL coarse centroid, and the corpus
    * assignment restricted to the wProbe nearest coarse neighborhoods
    * — every argmin ROW_NUMBER'd by (dist, cell), the total order the
    * packed kernels implement. Ends at `inverted2(vec_id, v, cell)`
    * (plus `cand`, the per-vector neighborhood candidates, for probe
    * consumers).
    */
  private[queries] def ivf2Ctes(cells: Int, dim: Int, wProbe: Int): String = {
    val sampleRate = AnnIvf.DefaultSampleRate; val sampleMod = AnnIvf.SampleModulus
    val ck = AnnIvf.coarseK(cells)
    def litRows(cents: Array[Array[Double]]): String =
      cents.zipWithIndex.map { case (c, i) =>
        s"($i, ${c.map(java.lang.Double.toString).mkString("[", ", ", "]")}::DOUBLE[])"
      }.mkString(", ")
    // generic assign/mean pair over (src(idCol, vCol)) vs centTable(cell, c)
    def assignCte(name: String, src: String, idCol: String, vCol: String,
        centTable: String): String = s"""
    $name AS (
      SELECT $idCol, $vCol, cell FROM (
        SELECT s.$idCol, s.$vCol, c.cell,
          ROW_NUMBER() OVER (PARTITION BY s.$idCol
            ORDER BY ${ivfSqDist(s"s.$vCol", "c.c", dim)}, c.cell) AS rn
        FROM $src s CROSS JOIN $centTable c)
      WHERE rn = 1)"""
    def meanCte(name: String, assignTable: String, vCol: String): String = s"""
    $name AS (
      SELECT cell, list(m ORDER BY i) AS c FROM (
        SELECT a.cell, i,
          CAST(COALESCE(SUM(CAST(a.$vCol[CAST(i AS INT)] AS DECIMAL(18,6))), 0) AS DOUBLE) / COUNT(*) AS m
        FROM $assignTable a CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i)
        GROUP BY a.cell, i)
      GROUP BY cell)"""
    val sb = new StringBuilder(s"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    tr AS (
      SELECT vec_id, v FROM e
      WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '|graft-ivf2-train'), 1, 8)) AS BIGINT) % $sampleMod < $sampleRate),
    cents0(cell, c) AS (VALUES ${litRows(AnnIvf.centroids0(cells, dim))}),${assignCte("assign0", "tr", "vec_id", "v", "cents0")}""")
    for (r <- 1 to AnnIvf.LloydRounds) {
      sb.append(",").append(meanCte(s"cent$r", s"assign${r - 1}", "v"))
      if (r < AnnIvf.LloydRounds)
        sb.append(",").append(assignCte(s"assign$r", "tr", "vec_id", "v", s"cent$r"))
    }
    sb.append(s""",
    centf AS (SELECT cell, c FROM cent${AnnIvf.LloydRounds}),
    fines AS (SELECT cell AS fid, c AS fv FROM centf),
    coarse0(cell, c) AS (VALUES ${litRows(AnnIvf.centroids0(ck, dim, AnnIvf.CoarseSeed))})""")
    // coarse Lloyd over the fine-centroid table (the coarse "corpus")
    sb.append(",").append(assignCte("cassign0", "fines", "fid", "fv", "coarse0"))
    for (r <- 1 to AnnIvf.CoarseRounds) {
      sb.append(",").append(meanCte(s"ccent$r", s"cassign${r - 1}", "fv"))
      if (r < AnnIvf.CoarseRounds)
        sb.append(",").append(assignCte(s"cassign$r", "fines", "fid", "fv", s"ccent$r"))
    }
    sb.append(s""",
    coarsef AS (SELECT cell, c FROM ccent${AnnIvf.CoarseRounds}),
    f2c AS (
      SELECT fid, cell AS coarse FROM (
        SELECT f.fid, c.cell,
          ROW_NUMBER() OVER (PARTITION BY f.fid
            ORDER BY ${ivfSqDist("f.fv", "c.c", dim)}, c.cell) AS rn
        FROM fines f CROSS JOIN coarsef c)
      WHERE rn = 1),
    coarsep AS (
      -- only coarse cells that own >= 1 fine member under the FINAL
      -- assignment (f2c): a probe targeting an empty coarse cell has
      -- no neighborhood and would silently drop the vector on the
      -- engine side — both engines rank probes over this restricted
      -- table (AnnIvf.twoLevelIndex applies the identical filter)
      SELECT cell, c FROM coarsef
      WHERE cell IN (SELECT coarse FROM f2c)),
    probes AS (
      SELECT vec_id, v, cell AS coarse FROM (
        SELECT s.vec_id, s.v, c.cell,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id
            ORDER BY ${ivfSqDist("s.v", "c.c", dim)}, c.cell) AS rn
        FROM e s CROSS JOIN coarsep c)
      WHERE rn <= $wProbe),
    cand AS (
      SELECT p.vec_id, p.v, cf.cell AS fcell, cf.c AS fc
      FROM probes p
      JOIN f2c ON f2c.coarse = p.coarse
      JOIN centf cf ON cf.cell = f2c.fid),
    inverted2 AS (
      SELECT vec_id, v, fcell AS cell FROM (
        SELECT vec_id, v, fcell,
          ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY ${ivfSqDist("v", "fc", dim)}, fcell) AS rn
        FROM cand)
      WHERE rn = 1)""")
    sb.toString
  }

  private val embAnnIvfTwoLevelSql: String = {
    val cells = 16; val dim = 64; val k = 10; val nprobe = 2; val wProbe = 2
    def sumFold(term: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), i -> $term)), (acc, x) -> acc + x)"
    val dot = sumFold("qv[CAST(i AS INT)] * cv[CAST(i AS INT)]")
    val nq = sumFold("qv[CAST(i AS INT)] * qv[CAST(i AS INT)]")
    val nc = sumFold("cv[CAST(i AS INT)] * cv[CAST(i AS INT)]")
    s"""
    WITH ${ivf2Ctes(cells, dim, wProbe)},
    qprobes AS (
      SELECT query_id, qv, fcell AS cell FROM (
        SELECT c.vec_id AS query_id, c.v AS qv, c.fcell,
          ROW_NUMBER() OVER (PARTITION BY c.vec_id
            ORDER BY ${ivfSqDist("c.v", "c.fc", dim)}, c.fcell) AS rn
        FROM cand c
        WHERE c.vec_id < 5)
      WHERE rn <= $nprobe),
    scored AS (
      SELECT p.query_id, iv.vec_id AS neighbor_id, p.qv AS qv, iv.v AS cv
      FROM qprobes p JOIN inverted2 iv ON iv.cell = p.cell AND iv.vec_id <> p.query_id),
    ranked AS (
      SELECT query_id, neighbor_id,
        $dot / (sqrt($nq) * sqrt($nc)) AS cos_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY $dot / (sqrt($nq) * sqrt($nc)) DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, rank, neighbor_id, ROUND(cos_raw, 4) AS cos_sim
    FROM ranked
    WHERE rank <= $k
    ORDER BY query_id, rank"""
  }

  private val embAnnIvfSql: String = {
    val cells = 16; val dim = 64; val k = 10; val nprobe = 2
    def sqDist(a: String, b: String): String = ivfSqDist(a, b, dim)
    def sumFold(term: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), i -> $term)), (acc, x) -> acc + x)"
    val dot = sumFold("qv[CAST(i AS INT)] * cv[CAST(i AS INT)]")
    val nq = sumFold("qv[CAST(i AS INT)] * qv[CAST(i AS INT)]")
    val nc = sumFold("cv[CAST(i AS INT)] * cv[CAST(i AS INT)]")
    s"""
    WITH ${ivfCtes(cells, dim)},
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c1.cell,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY ${sqDist("e.v", "c1.c")}, c1.cell) AS rn
        FROM e CROSS JOIN centf c1
        WHERE e.vec_id < 5)
      WHERE rn <= $nprobe),
    scored AS (
      SELECT p.query_id, iv.vec_id AS neighbor_id, p.qv AS qv, iv.v AS cv
      FROM probes p JOIN inverted iv ON iv.cell = p.cell AND iv.vec_id <> p.query_id),
    ranked AS (
      SELECT query_id, neighbor_id,
        $dot / (sqrt($nq) * sqrt($nc)) AS cos_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY $dot / (sqrt($nq) * sqrt($nc)) DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, rank, neighbor_id, ROUND(cos_raw, 4) AS cos_sim
    FROM ranked
    WHERE rank <= $k
    ORDER BY query_id, rank"""
  }

  /** Oracle for the composed cleaning pass: the minhash/cluster replay
    * CTEs plus the lang/quality stage SQL exposed by Text — the same
    * proven fragments, joined into one decision table.
    */
  private val docPipelineFilterSql: String = s"""
    WITH RECURSIVE $minhashCtes,
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs),
    reach(id, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl
      FROM reach r JOIN edges e ON e.src = r.id
      WHERE r.lbl < e.dst),
    labels AS (SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id),
    lang AS (${graft.queries.Text.langPredSql}),
    qual AS (${graft.queries.Text.qualitySql}),
    exact AS (
      SELECT doc_id,
        MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_rep
      FROM documents),
    dec AS (
      SELECT d.doc_id, l.pred_lang, q.quality,
        CASE WHEN d.lang <> 'en' THEN 'lang'
             WHEN q.quality < 0.5 THEN 'quality'
             WHEN d.doc_id <> x.exact_rep THEN 'exact_dup'
             WHEN d.doc_id <> c.cluster THEN 'near_dup'
             ELSE 'kept' END AS reason
      FROM documents d
      JOIN lang l ON l.doc_id = d.doc_id
      JOIN qual q ON q.doc_id = d.doc_id
      JOIN exact x ON x.doc_id = d.doc_id
      JOIN labels c ON c.id = d.doc_id)
    SELECT doc_id, pred_lang, ROUND(quality, 4) AS quality,
      reason = 'kept' AS keep, reason
    FROM dec
    ORDER BY doc_id"""

  val oracles: Map[String, String] = Map(
    "doc_chunk_dedup" -> docChunkDedupSql,
    "doc_pipeline_filter" -> docPipelineFilterSql,
    "emb_ann_ivf" -> embAnnIvfSql,
    "emb_ann_ivf_two_level" -> embAnnIvfTwoLevelSql,
    "emb_cluster_sample" -> embClusterSampleSql,
    "emb_ivf_quality" -> embIvfQualitySql,
    "emb_recall_curve" -> embRecallCurveSql,
    "emb_ood_score" -> embOodScoreSql,
    "emb_cell_dedup" -> embCellDedupSql,
    "emb_cell_dedup_two_level" -> embCellDedupTwoLevelSql,
    "emb_cell_recall" -> embCellRecallSql,
    "emb_cell_recall_two_level" -> embCellRecallTwoLevelSql,
    "emb_two_level_probe_curve" -> embTwoLevelProbeCurveSql,
    "emb_ann_lsh" -> embAnnLshSql,
    "doc_fingerprint" -> docFingerprintSql,
    "doc_simhash" -> docSimhashSql,
    "doc_minhash_lsh" -> docMinhashLshSql,
    "doc_dedup_clusters" -> docDedupClustersSql,
    "doc_dup_cluster_stats" -> docDupClusterStatsSql,
    "doc_leakage_safe_split" -> docLeakageSafeSplitSql,
    "doc_lsh_recall" -> docLshRecallSql,
    "emb_ann_recall" -> embAnnRecallSql,
    "emb_ann_recall_tuned" -> embAnnRecallTunedSql,
    "mm_feature_stub" -> mmFeatureStubSql,
    "mm_frame_sample" -> mmFrameSampleSql)
}
