package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables._
import graft.functions.expressions.GraftFunctions

/** Corpus-level curation operators (SURVEY §2.C additions, round 5):
  * source/domain reputation gating, per-document TF-IDF key terms,
  * and directed n-gram containment — the remaining members of the
  * published pretraining-cleaning family (C4/RefinedWeb drop whole
  * domains; term extraction and doc-in-doc containment are the
  * standard corpus-diagnostics passes next to them).
  */
object Corpus {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------- doc_source_reputation
  // Domain-level quality gating: documents are kept or dropped by the
  // REPUTATION OF THEIR SOURCE, not only their own features — the
  // C4/RefinedWeb rule (blocklisted/low-quality domains are removed
  // wholesale). Per-source aggregates: mean quality, exact-duplicate
  // rate (1 − distinct(full-text hash)/n) and English share, folded
  // into one reputation score, then joined BACK to every document.
  //
  // 100 TB shape: one corpus scan computes lang+quality features
  // inline (scan-level projections, no UDFs), one hash-aggregate with
  // map-side partials collapses ~10⁵-ish sources to a tiny table, and
  // the join-back is a broadcast — the corpus never shuffles.
  private val docSourceReputation: Q = (s, d) => {
    val scored = Text.qualityScoredDf(Text.langScoredDf(documents(s, d)))
      .withColumn("content_key", md5(col("text")))
    val perSource = scored
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        // exact decimal sums before the divide: a raw double AVG
        // would drift by ulps across partitionings/engines
        round(sum(col("quality").cast(DecimalType(28, 15))).cast(DoubleType)
          / count(lit(1)), 6).as("avg_quality"),
        round((count(lit(1)) - countDistinct(col("content_key")))
          .cast(DecimalType(28, 15)).cast(DoubleType) / count(lit(1)), 6)
          .as("dup_rate"),
        round(sum(when(col("pred_lang") === "en", 1L).otherwise(0L))
          .cast(DecimalType(28, 15)).cast(DoubleType) / count(lit(1)), 6)
          .as("en_share"))
      .withColumn("reputation",
        round(col("avg_quality") * 0.5 + (lit(1.0) - col("dup_rate")) * 0.3
          + col("en_share") * 0.2, 6))
      .withColumn("source_keep", col("reputation") >= 0.5)
    scored.select(col("doc_id"), col("source"))
      .join(broadcast(perSource), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_docs"), col("avg_quality"),
        col("dup_rate"), col("en_share"), col("reputation"), col("source_keep"))
      .orderBy(col("doc_id"))
  }

  private val docSourceReputationSql: String = s"""
    WITH lang AS (${Text.langPredSql}),
    qual AS (${Text.qualitySql}),
    scored AS (
      SELECT d.doc_id, d.source, q.quality, l.pred_lang, md5(d.text) AS content_key
      FROM documents d
      JOIN lang l ON l.doc_id = d.doc_id
      JOIN qual q ON q.doc_id = d.doc_id),
    per_source AS (
      SELECT source,
        COUNT(*) AS n_docs,
        ROUND(CAST(SUM(CAST(quality AS DECIMAL(28,15))) AS DOUBLE) / COUNT(*), 6) AS avg_quality,
        ROUND(CAST(CAST(COUNT(*) - COUNT(DISTINCT content_key) AS DECIMAL(28,15)) AS DOUBLE)
          / COUNT(*), 6) AS dup_rate,
        ROUND(CAST(CAST(SUM(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) AS DECIMAL(28,15)) AS DOUBLE)
          / COUNT(*), 6) AS en_share
      FROM scored
      GROUP BY source),
    rep AS (
      SELECT *,
        ROUND(avg_quality * 0.5 + (1.0 - dup_rate) * 0.3 + en_share * 0.2, 6) AS reputation
      FROM per_source)
    SELECT s.doc_id, s.source, r.n_docs, r.avg_quality, r.dup_rate, r.en_share,
      r.reputation, r.reputation >= 0.5 AS source_keep
    FROM scored s JOIN rep r ON r.source = s.source
    ORDER BY s.doc_id"""

  // ------------------------------------------------------ doc_tfidf_topk
  // Per-document top-k key terms by TF-IDF — the corpus-diagnostics /
  // topic-fingerprint pass (what is this document about; which docs
  // are dominated by boilerplate terms). Tokenization is the shared
  // whitespace rule (doc_top_tokens). The idf weight uses an exact
  // RATIONAL surrogate — score = tf · ⌊10⁶·N/df⌋-style integer
  // arithmetic, monotone in tf·N/df — so the ranking is bit-identical
  // across engines (ln() last-ulp behavior is not); ln-idf is a
  // drop-in at the marked line.
  //
  // 100 TB shape: explode → hash-aggregate tf on (doc, token)
  // (map-side partials, persisted — one explode pass), df from a
  // map-side-combined groupBy(token) over that aggregate (one row per
  // (doc, token) ⇒ per-token row count = distinct-doc count) JOINED
  // back — never a count window over the posting relation: a window
  // partitioned by token serializes df("the") ≈ |docs| rows into ONE
  // task at web scale, while the join's hot partitions are
  // AQE-skew-splittable (PlanSpec pins the no-token-window shape).
  // Top-k per doc then goes through the bounded-heap TopKPerGroup
  // rewrite — never a per-doc sort. N arrives via a broadcast
  // single-row count.
  private val docTfidfTopk: Q = (s, d) => {
    val k = 5
    val tf = documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = documents(s, d).select(count(lit(1)).as("n_corpus"))
    tf.join(dfT, Seq("token"))
      .crossJoin(broadcast(n))
      // integer tf-idf: exact in both engines; `div` truncates like //
      .withColumn("score", expr("tf * (1000000L * n_corpus div df)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("token"))))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val docTfidfTopkSql: String = """
    WITH tok AS (
      SELECT doc_id,
        unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_corpus FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
        tf.tf * (1000000 * n.n_corpus // df.df) AS score
      FROM tf JOIN df ON df.token = tf.token CROSS JOIN n),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        ORDER BY score DESC, token) AS rank
      FROM scored)
    SELECT doc_id, rank, token, tf, df, score
    FROM ranked
    WHERE rank <= 5
    ORDER BY doc_id, rank"""

  // ------------------------------------------------ doc_containment_pairs
  // Directed n-gram CONTAINMENT |g(A) ∩ g(B)| / |g(A)| — catches
  // doc-in-doc duplication (a quote, a mirrored article inside a
  // larger page) that symmetric Jaccard misses: a short doc fully
  // contained in a long one has low Jaccard but containment ≈ 1.
  // Brute-force over the same bounded id range as the Jaccard
  // baseline; the scale path shares doc_minhash_lsh's banding
  // (containment is estimated from the same signatures).
  private val docContainmentPairs: Q = (s, d) => {
    val g = documents(s, d)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
        graft.operators.Dedup.charGramHashes("text", 3).as("grams"))
    val a = g.select(col("doc_id").as("a_id"), col("grams").as("a_grams"))
    val b = g.select(col("doc_id").as("b_id"), col("grams").as("b_grams"))
    a.join(b, col("a_id") =!= col("b_id"))
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("a_grams"), col("b_grams")))
      .withColumn("containment", col("inter").cast(DoubleType) /
        size(col("a_grams")).cast(DoubleType))
      .filter(col("containment") >= 0.9)
      .select(col("a_id"), col("b_id"), col("inter").as("n_shared"),
        size(col("a_grams")).cast("long").as("n_a"), col("containment"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val docContainmentPairsSql: String = """
    WITH g AS (
      SELECT doc_id,
        list_distinct(list_transform(generate_series(1, greatest(length(text)-2, 1)),
                                     i -> substr(text, CAST(i AS INT), 3))) AS grams
      FROM documents WHERE doc_id < 200),
    p AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        len(list_intersect(a.grams, b.grams)) AS inter,
        len(a.grams) AS na
      FROM g a JOIN g b ON a.doc_id <> b.doc_id)
    SELECT a_id, b_id, CAST(inter AS BIGINT) AS n_shared,
      CAST(na AS BIGINT) AS n_a,
      CAST(inter AS DOUBLE) / CAST(na AS DOUBLE) AS containment
    FROM p
    WHERE CAST(inter AS DOUBLE) / CAST(na AS DOUBLE) >= 0.9
    ORDER BY a_id, b_id"""

  // ---------------------------------------------------- doc_segment_dedup
  // C4-style boilerplate REMOVAL with reassembly: every document is cut
  // into fixed 10-word segments (the corpus has no newlines — segments
  // play the role of C4's lines), a segment occurring ≥ 3 times
  // corpus-wide is boilerplate and is dropped from every document, and
  // each document's surviving segments are reassembled in order. This
  // differs from doc_chunk_dedup (detection/reporting of shared
  // passages) — here the output IS the cleaned corpus: per doc the
  // segment counts and the md5 of the reassembled clean text (proving
  // the reassembly byte-for-byte, not just the counts).
  //
  // 100 TB shape: one explode to (doc, pos, segment), one map-side-
  // combined hash aggregate over segment hashes (bounded by distinct
  // segments), an equi-join back on the 128-bit hash, and one ordered
  // re-aggregate per doc (collect kept (pos, seg) structs, sort the
  // ≤doc-sized array). No window over the corpus, no global order.
  private val segWords = 10
  private val docSegmentDedup: Q = (s, d) => {
    val seg = documents(s, d)
      .withColumn("words", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
              sequence(0, cast(greatest(ceil(size(words)/$segWords.0), 1) as int) - 1),
              i -> array_join(slice(words, i*$segWords+1, $segWords), ' '))""")))
      .withColumnRenamed("pos", "pos").withColumnRenamed("col", "seg")
      .withColumn("k", md5(col("seg")))
    val cnt = seg.groupBy(col("k")).agg(count(lit(1)).as("c"))
    seg.join(cnt, Seq("k"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("c") >= 3, 1L).otherwise(0L)).as("n_removed"),
        md5(expr("""array_join(
          transform(
            array_sort(collect_list(CASE WHEN c < 3 THEN struct(pos, seg) END)),
            x -> x.seg), ' ')""")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  private val docSegmentDedupSql: String = s"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
      FROM documents),
    seg AS (
      SELECT doc_id,
        unnest(generate_series(0,
          CAST(greatest(ceil(len(words)/$segWords.0), 1) AS BIGINT) - 1)) AS pos,
        unnest(list_transform(
          generate_series(0,
            CAST(greatest(ceil(len(words)/$segWords.0), 1) AS BIGINT) - 1),
          i -> array_to_string(words[(i*$segWords+1):(i*$segWords+$segWords)], ' '))) AS seg
      FROM w),
    cnt AS (
      SELECT md5(seg) AS k, COUNT(*) AS c FROM seg GROUP BY 1),
    j AS (
      SELECT s.doc_id, s.pos, s.seg, c.c
      FROM seg s JOIN cnt c ON c.k = md5(s.seg))
    SELECT doc_id, COUNT(*) AS n_segments,
      CAST(SUM(CASE WHEN c >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      md5(COALESCE(string_agg(CASE WHEN c < 3 THEN seg END, ' ' ORDER BY pos), ''))
        AS clean_md5
    FROM j
    GROUP BY 1
    ORDER BY doc_id"""

  // ------------------------------------------------------ doc_mixture_plan
  // Data-mixture rebalancing planner: given target language weights for
  // the final pretraining mix, compute — from corpus aggregates alone —
  // the largest feasible mixed corpus (the binding stratum saturates)
  // and each language's keep rate and kept-token budget. This is the
  // planning half of mixture sampling (DoReMi-class recipes publish
  // exactly such weight tables); doc_stratified_sample is the matching
  // execution half (salted-hash thresholds at the planned rates).
  //
  // Every quantity is integer arithmetic on permyriad weights
  // (feasible total = min over strata of tokens·10⁴ div weight;
  // kept = weight·N* div 10⁴) so the plan is bit-identical in any
  // engine — only the display ratios are doubles, rounded. One corpus
  // scan → |languages| rows; the N*/total fold runs on that tiny
  // aggregate (broadcast), never on raw data.
  private val mixtureWeights: Seq[(String, Long)] = Seq(
    // target permyriad share of the final mix per language
    "en" -> 5000L, "zh" -> 2000L, "de" -> 1000L, "fr" -> 1000L, "es" -> 1000L)

  /** Per-doc token counts — the input frame of the permyriad rule. */
  private def perDocTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d).withColumn("n_toks",
      size(split(trim(col("text")), "\\s+")).cast("long"))

  /** THE permyriad rule, single source for both the plan query and
    * its execution (doc_mixture_apply): per language the token
    * aggregate, target weight, feasibility bound, the binding N*
    * fold, and the kept-token budget. All integer arithmetic.
    */
  private def mixturePlanFrame(perDoc: DataFrame): DataFrame = {
    val weight = mixtureWeights.foldLeft(lit(0L)) { case (e, (l, w)) =>
      when(col("lang") === l, w).otherwise(e)
    }
    val perLang = perDoc
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tokens"))
      .withColumn("target_pmy", weight)
      .withColumn("feasible",
        when(col("target_pmy") > 0, expr("tokens * 10000L div target_pmy")))
    val fold = perLang.agg(min(col("feasible")).as("n_star"),
      sum(col("tokens")).as("total_tokens"))
    perLang.crossJoin(broadcast(fold))
      .withColumn("kept_budget",
        when(col("target_pmy") > 0, expr("target_pmy * n_star div 10000L"))
          .otherwise(0L))
  }

  /** The SQL mirror of [[mixturePlanFrame]] — shared CTE block ending
    * in `budget` with the same columns. */
  private lazy val mixturePlanCtes: String = {
    val weightCase = mixtureWeights.map { case (l, w) =>
      s"WHEN lang = '$l' THEN $w"
    }.mkString("CASE ", " ", " ELSE 0 END")
    s"""toks AS (
      SELECT doc_id, lang,
        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks
      FROM documents),
    per_lang AS (
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS tokens,
        $weightCase AS target_pmy
      FROM toks GROUP BY 1),
    f AS (
      SELECT *, CASE WHEN target_pmy > 0 THEN tokens * 10000 // target_pmy END AS feasible
      FROM per_lang),
    fold AS (
      SELECT MIN(feasible) AS n_star, CAST(SUM(tokens) AS BIGINT) AS total_tokens
      FROM f),
    budget AS (
      SELECT f.*, fold.n_star, fold.total_tokens,
        CAST(CASE WHEN target_pmy > 0 THEN target_pmy * n_star // 10000 ELSE 0 END AS BIGINT)
          AS kept_budget
      FROM f, fold)"""
  }

  private val docMixturePlan: Q = (s, d) =>
    mixturePlanFrame(perDocTokens(s, d))
      .select(col("lang"), col("n_docs"), col("tokens"),
        round(col("tokens").cast(DoubleType) / col("total_tokens").cast(DoubleType), 6)
          .as("current_share"),
        round(col("target_pmy").cast(DoubleType) / 10000.0, 4).as("target_share"),
        col("kept_budget").as("kept_tokens"),
        round(col("kept_budget").cast(DoubleType) / col("tokens").cast(DoubleType), 6)
          .as("keep_rate"),
        (col("feasible") === col("n_star")).as("binding"))
      .orderBy(col("lang"))

  private lazy val docMixturePlanSql: String = s"""
    WITH $mixturePlanCtes
    SELECT lang, n_docs, tokens,
      ROUND(CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6) AS current_share,
      ROUND(CAST(target_pmy AS DOUBLE) / 10000.0, 4) AS target_share,
      kept_budget AS kept_tokens,
      ROUND(CAST(kept_budget AS DOUBLE) / CAST(tokens AS DOUBLE), 6) AS keep_rate,
      feasible = n_star AS binding
    FROM budget
    ORDER BY lang"""

  // --------------------------------------------------- doc_bpe_pairs
  // The tokenizer-training primitive: one BPE merge round's pair
  // statistics — adjacent character-pair counts weighted by word
  // frequency, over the corpus vocabulary. The top pair is what BPE
  // would merge next; the table is the merge-decision input.
  //
  // 100 TB shape: the corpus collapses to its VOCABULARY first (one
  // explode + hash aggregate, bounded by distinct words, not corpus
  // size); pair explosion then runs on vocab rows only — a corpus
  // 1000× bigger with the same vocabulary costs one bigger aggregate,
  // not a bigger pair stage. Top-20 is orderBy+limit =
  // TakeOrderedAndProject (bounded heap, no global sort).
  private val docBpePairs: Q = (s, d) => {
    val vocab = documents(s, d)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
      .filter(length(col("word")) >= 2)
    vocab
      .select(col("word"), col("wf"),
        explode(expr(
          "transform(sequence(1, length(word)-1), i -> substring(word, i, 2))"))
          .as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("wf")).as("total_count"),
        count(lit(1)).as("n_positions"),
        countDistinct(col("word")).as("n_words"))
      .orderBy(col("total_count").desc, col("pair")).limit(20)
      // rank the 20 winners WITHOUT a partition-less window: fold them
      // into one sorted array (struct sort: -total_count, pair) and
      // posexplode — position+1 IS the row_number over that order
      .select(struct((col("total_count") * -1).as("neg"), col("pair"),
        col("total_count"), col("n_positions"), col("n_words")).as("w"))
      .agg(sort_array(collect_list(col("w"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "w")))
      .select((col("pos") + 1).cast("int").as("rank"), col("w.pair"),
        col("w.total_count"), col("w.n_positions"), col("w.n_words"))
      .orderBy(col("rank"))
  }

  private val docBpePairsSql: String = """
    WITH vocab AS (
      SELECT word, COUNT(*) AS wf FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        FROM documents)
      WHERE length(word) >= 2
      GROUP BY 1),
    p AS (
      SELECT word, wf,
        unnest(list_transform(generate_series(1, length(word)-1),
          i -> substr(word, CAST(i AS INT), 2))) AS pair
      FROM vocab),
    agg AS (
      SELECT pair, CAST(SUM(wf) AS BIGINT) AS total_count,
        COUNT(*) AS n_positions, COUNT(DISTINCT word) AS n_words
      FROM p GROUP BY 1),
    top AS (
      SELECT * FROM agg ORDER BY total_count DESC, pair LIMIT 20)
    SELECT ROW_NUMBER() OVER (ORDER BY total_count DESC, pair) AS rank,
      pair, total_count, n_positions, n_words
    FROM top
    ORDER BY rank"""

  // --------------------------------------------------- doc_mixture_apply
  // The execution half of doc_mixture_plan, closing the loop in ONE
  // job: the per-language keep rates are DERIVED from the corpus (the
  // plan's integer permyriad arithmetic), broadcast back, and applied
  // as the salted-hash membership rule per document — no precomputed
  // constants, yet membership stays a scan-level decision (contrast
  // doc_stratified_sample's configured rates). Output is the per-
  // stratum audit: realized kept tokens land on the plan's budget up
  // to per-doc granularity.
  //
  // 100 TB shape: scan → |languages|-row aggregate (the plan) →
  // broadcast join-back → scan-level keep decision → audit aggregate.
  // Two corpus scans total (rates cannot exist before the first), and
  // the corpus never shuffles.
  private val docMixtureApply: Q = (s, d) => {
    val toks = perDocTokens(s, d)
    // the SAME rule frame the plan query publishes — any change to
    // the permyriad arithmetic reaches both halves by construction
    val rates = mixturePlanFrame(toks)
      .withColumn("rate_pmy", expr("kept_budget * 10000L div tokens"))
      .select(col("lang"), col("tokens"), col("kept_budget"), col("rate_pmy"))
    toks.join(broadcast(rates), Seq("lang"))
      .withColumn("bucket",
        conv(substring(md5(concat(col("doc_id").cast("string"), lit("|graft-mixture-v1"))), 1, 8), 16, 10)
          .cast("long") % 10000)
      .withColumn("kept", col("bucket") < col("rate_pmy"))
      .groupBy(col("lang"), col("tokens"), col("kept_budget"), col("rate_pmy"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept_docs"),
        sum(when(col("kept"), col("n_toks")).otherwise(0L)).as("kept_tokens"))
      .withColumn("realized_frac",
        round(col("kept_tokens").cast(DoubleType) / col("tokens").cast(DoubleType), 6))
      .orderBy(col("lang"))
  }

  private lazy val docMixtureApplySql: String = s"""
    WITH $mixturePlanCtes,
    rates AS (
      SELECT lang, tokens, kept_budget,
        CAST(kept_budget * 10000 // tokens AS BIGINT) AS rate_pmy
      FROM budget),
    dec AS (
      SELECT t.lang, t.n_toks, r.tokens, r.kept_budget, r.rate_pmy,
        CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR) || '|graft-mixture-v1'), 1, 8)) AS BIGINT) % 10000
          < r.rate_pmy AS kept
      FROM toks t JOIN rates r USING (lang))
    SELECT lang, tokens, kept_budget, rate_pmy,
      COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_docs,
      CAST(SUM(CASE WHEN kept THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens,
      ROUND(CAST(SUM(CASE WHEN kept THEN n_toks ELSE 0 END) AS DOUBLE) / CAST(tokens AS DOUBLE), 6) AS realized_frac
    FROM dec
    GROUP BY 1, 2, 3, 4
    ORDER BY 1"""

  // --------------------------------------------------- doc_winnowing
  // Winnowing fingerprint matching (Schleimer/Wilkerson/Aiken 2003 —
  // the MOSS scheme): every char-8-gram is hashed, a 16-hash window
  // slides over each document, and each window's minimum is kept.
  // Any shared substring of ≥ w+k−1 = 23 chars is GUARANTEED to yield
  // a shared fingerprint while only ~2/(w+1) ≈ 12% of grams survive —
  // position-robust local sampling, the third member of the near-dup
  // family next to MinHash (whole-doc Jaccard) and chunk dedup
  // (shift-resistant passages). Pairs sharing ≥ 3 rare fingerprints
  // are reported with an overlap score against the smaller side.
  //
  // 100 TB shape: selection is ONE compiled monotonic-deque pass per
  // document at the scan (WinnowFingerprints — O(grams), never a
  // per-window rescan); matching explodes only the ~12% selected
  // hashes and equi-joins on hash, with fingerprints occurring in
  // more than 10 documents dropped first (MOSS's "ignore very
  // common" rule = the same bucket-occupancy guard every LSH stage
  // here applies), so boilerplate can't go quadratic.
  private val winK = 8; private val winW = 16
  private val winCap = 10L; private val winMinShared = 3L

  private val docWinnowing: Q = (s, d) => {
    val fp = documents(s, d)
      .select(col("doc_id"),
        explode(GraftFunctions.winnowFingerprints(col("text"), winK, winW)).as("h"))
    val rare = fp.groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") <= winCap)
    val kept = fp.join(rare.select(col("h")), Seq("h"))
    val counts = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val pairs = kept.select(col("doc_id").as("a_id"), col("h"))
      .join(kept.select(col("doc_id").as("b_id"), col("h")), Seq("h"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= winMinShared)
    pairs
      .join(counts.select(col("doc_id").as("a_id"), col("n_fp").as("a_fp")), Seq("a_id"))
      .join(counts.select(col("doc_id").as("b_id"), col("n_fp").as("b_fp")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("n_shared"), col("a_fp"), col("b_fp"),
        round(col("n_shared").cast(DoubleType)
          / least(col("a_fp"), col("b_fp")).cast(DoubleType), 6).as("overlap"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** DuckDB replay of the full winnowing contract: base-31 polynomial
    * gram hashes mod 2⁴⁰ (list_reduce in index order = the kernel's
    * rolling recurrence), combined hash·2²⁰+pos tiebreak keys, the
    * w-window list_min selection with the short-document single
    * window, hash recovery by integer division, and the same
    * cap/threshold constants.
    */
  private val docWinnowingSql = s"""
    WITH g AS (
      SELECT doc_id, text, greatest(length(text) - $winK + 1, 0) AS ng
      FROM documents),
    comb AS (
      SELECT doc_id, ng,
        list_transform(generate_series(1, ng), i ->
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(range(0, $winK),
                j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % 1099511627776) * 1048576
          + ((i - 1) % 1048576)) AS cs
      FROM g),
    sel AS (
      SELECT doc_id,
        list_sort(list_distinct(list_transform(
          generate_series(1, CASE WHEN ng < 1 THEN 0 ELSE greatest(ng - $winW + 1, 1) END),
          t -> list_min(cs[t : least(t + $winW - 1, ng)]) // 1048576))) AS hashes
      FROM comb),
    fp AS (SELECT doc_id, unnest(hashes) AS h FROM sel),
    rare AS (SELECT h FROM fp GROUP BY h HAVING COUNT(*) <= $winCap),
    kept AS (SELECT f.doc_id, f.h FROM fp f JOIN rare r USING (h)),
    cnt AS (SELECT doc_id, COUNT(*) AS n_fp FROM kept GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= $winMinShared)
    SELECT a_id, b_id, n_shared, ca.n_fp AS a_fp, cb.n_fp AS b_fp,
      ROUND(CAST(n_shared AS DOUBLE) / CAST(least(ca.n_fp, cb.n_fp) AS DOUBLE), 6) AS overlap
    FROM pairs
    JOIN cnt ca ON ca.doc_id = a_id
    JOIN cnt cb ON cb.doc_id = b_id
    ORDER BY a_id, b_id"""

  // ------------------------------------------------- doc_dup_ngrams
  // Cross-document repeated-n-gram audit — the memorization-risk
  // report: word 5-grams that recur across ≥2 documents, ranked by
  // total occurrences. Boilerplate phrases, licence headers and
  // templated spans show up here long before they show up as whole-
  // document duplicates, and a model trained on them regurgitates
  // them verbatim — published extraction attacks target exactly the
  // high-frequency span tail this surfaces. Two-level aggregation
  // ((gram, doc) counts → gram totals + doc counts) keeps both
  // aggregates map-side combinable; the final rank is a
  // TakeOrderedAndProject (K=20), never a global sort of the gram
  // table. The group key is the gram STRING so the report is
  // directly readable; a 100 TB run would key the shuffles on the
  // FNV hash (GramHashes) and keep min(gram) as the display sample —
  // same plan, narrower keys.
  private val docDupNgrams: Q = (s, d) =>
    documents(s, d)
      // compiled kernel: the transform/slice/concat_ws chain is
      // interpreted (HOFs have no codegen) and measured 5.8 s at
      // sf0.1; WordGrams is one tokenizer pass per doc inside
      // whole-stage codegen (KernelPropSpec pins parity with the
      // expression chain)
      .select(col("doc_id"),
        explode(GraftFunctions.wordGrams(col("text"), 5)).as("gram"))
      .groupBy(col("gram"), col("doc_id")).agg(count(lit(1)).as("occ"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("occurrences"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("occurrences").desc, col("gram"))
      .limit(20)

  private val docDupNgramsSql = """
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
        THEN list_transform(range(1, len(toks) - 3),
          i -> array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' '))
        ELSE [] END) AS gram
      FROM t),
    pd AS (SELECT gram, doc_id, COUNT(*) AS occ FROM g GROUP BY 1, 2),
    agg AS (
      SELECT gram, COUNT(*) AS n_docs, CAST(SUM(occ) AS BIGINT) AS occurrences
      FROM pd GROUP BY 1)
    SELECT gram, n_docs, occurrences
    FROM agg
    WHERE n_docs >= 2
    ORDER BY occurrences DESC, gram
    LIMIT 20"""

  // ---------------------------------------------- doc_ngram_novelty
  // Per-document memorization exposure — doc_dup_ngrams' doc-level
  // complement: for each document, what fraction of its DISTINCT word
  // 5-grams also occur in at least one other document. A document of
  // entirely-shared spans (novelty 0) is boilerplate or a copy; a
  // high-novelty doc contributes genuinely new text. This is the
  // per-doc score a curation pass thresholds on, where dup_ngrams is
  // the corpus-level report of WHAT is shared.
  //
  // Same compiled WordGrams kernel at the scan; grams are counted
  // once per containing doc (distinct inside the first aggregate), and
  // df derives from that SAME aggregate via a count window over gram
  // (one row per (gram, doc) ⇒ per-gram row count = doc frequency) —
  // the doc_tfidf_topk trick: a gd ⟗ df self-join would tokenize the
  // corpus twice (ReuseExchange does NOT fire — the join side carries
  // a pushed isnotnull filter the df side lacks, so the subtrees don't
  // canonicalize equal; observed in the executed plan). <5-token docs
  // have no grams and surface with novelty NULL, not silently perfect.
  private val docNgramNovelty: Q = (s, d) => {
    val gd = documents(s, d)
      .select(col("doc_id"),
        explode(GraftFunctions.wordGrams(col("text"), 5)).as("gram"))
      .distinct()
    val perDoc = gd
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df") >= 2, 1)).as("n_shared"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_shared").cast(DoubleType) / col("n_grams").cast(DoubleType), 6))
    documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("novelty"))
      .orderBy(col("doc_id"))
  }

  private val docNgramNoveltySql = """
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
        THEN list_transform(range(1, len(toks) - 3),
          i -> array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' '))
        ELSE [] END) AS gram
      FROM t),
    gd AS (SELECT DISTINCT gram, doc_id FROM g),
    df AS (SELECT gram, COUNT(*) AS df FROM gd GROUP BY 1),
    per_doc AS (
      SELECT gd.doc_id, COUNT(*) AS n_grams,
        COUNT(CASE WHEN df.df >= 2 THEN 1 END) AS n_shared
      FROM gd JOIN df ON df.gram = gd.gram
      GROUP BY 1)
    SELECT d.doc_id,
      COALESCE(p.n_grams, 0) AS n_grams,
      COALESCE(p.n_shared, 0) AS n_shared,
      ROUND(1.0 - CAST(p.n_shared AS DOUBLE) / CAST(p.n_grams AS DOUBLE), 6) AS novelty
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id"""

  // ------------------------------------------------- doc_dup_spans
  // Contiguous duplicated-SPAN coverage per document — the geometry
  // that novelty's per-gram fraction flattens away: which token
  // positions sit inside at least one cross-document duplicated
  // 5-gram, merged into maximal contiguous spans. These are exactly
  // the regions an exact-substring deduplication pass (Lee et al.
  // 2022, "Deduplicating Training Data Makes Language Models Better")
  // would cut: one long boilerplate block and fifty scattered shared
  // phrases can carry the SAME novelty score but demand opposite
  // treatment (cut the block / keep the doc).
  //
  // Plan: pass A is the doc_dup_ngrams aggregate shape reduced to the
  // duplicated-gram SET (distinct (gram, doc) → per-gram doc count →
  // df ≥ 2); pass B re-tokenizes with positions (posexplode over the
  // compiled WordGrams kernel — the tokenizer stays in whole-stage
  // codegen both passes; two scans beats caching the exploded gram
  // table, which is ~5× the corpus) and keeps positions whose gram is
  // duplicated (shuffle equi-join on the gram key). Interval union is
  // gaps-and-islands with windows PARTITIONED BY doc (running max of
  // span end over preceding starts → island break where a start
  // clears it by ≥ 2 → island id by running sum) — per-doc state, no
  // global order, survives 1000 executors; the naive alternative
  // (explode every gram into its 5 positions, COUNT DISTINCT) ships
  // 5× the rows to do the same union.
  /** The span computation over any (doc_id, text) frame — public so
    * CorpusSpec can pin the interval-merge geometry on a crafted
    * corpus where every island is countable by hand.
    */
  def dupSpans(docs: DataFrame): DataFrame = {
    val grams = (df: DataFrame) => df.select(col("doc_id"),
      posexplode(GraftFunctions.wordGrams(col("text"), 5)).as(Seq("pos", "gram")))
    val dupGrams = grams(docs)
      .select(col("gram"), col("doc_id")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("gram"))
    val hits = grams(docs)
      .join(dupGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"), (col("pos") + 4).as("end"))
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = hits
      .withColumn("prev_end", max(col("end")).over(wPrev))
      .withColumn("brk",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(wRun))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("end")).as("e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"))
    docs
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"))
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast(DoubleType) /
          col("n_words").cast(DoubleType), 6).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  private val docDupSpans: Q = (s, d) => dupSpans(documents(s, d))

  // Same gaps-and-islands shape in DuckDB; span positions never reach
  // the output, so DuckDB's 1-based starts and Spark's 0-based
  // posexplode cancel out of every emitted column.
  private val docDupSpansSql = """
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, i.i AS pos,
        array_to_string(toks[CAST(i.i AS INT):CAST(i.i + 4 AS INT)], ' ') AS gram
      FROM t CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(toks) - 4)) AS i) i
      WHERE len(toks) >= 5),
    dup AS (
      SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g)
      GROUP BY gram HAVING COUNT(*) >= 2),
    hits AS (
      SELECT g.doc_id, g.pos, g.pos + 4 AS e
      FROM g SEMI JOIN dup ON g.gram = dup.gram),
    marked AS (
      SELECT doc_id, pos, e,
        MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM hits),
    isl AS (
      SELECT doc_id, pos, e,
        SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
          THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked),
    spans AS (
      SELECT doc_id, island, MIN(pos) AS s, MAX(e) AS e
      FROM isl GROUP BY 1, 2),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_spans,
        CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY 1)
    SELECT d.doc_id,
      CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT) AS n_words,
      COALESCE(p.n_spans, 0) AS n_spans,
      COALESCE(p.dup_tokens, 0) AS dup_tokens,
      ROUND(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) /
        CAST(len(string_split_regex(trim(d.text), '\s+')) AS DOUBLE), 6) AS dup_frac
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id"""

  // ------------------------------------------------------ doc_bm25_topk
  // BM25 lexical retrieval (Robertson/Spärck Jones; k1 = 1.2,
  // b = 0.75) — the missing retriever next to doc_tfidf_topk's
  // diagnostics: query-by-example (doc_id < 5, the vec_id < 5
  // convention), each query's terms scored against the posting lists.
  // Float discipline: the tf saturation term is computed as an EXACT
  // INTEGER rational before one double division — with k1 = 6/5 and
  // b = 3/4, tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) reduces to
  // 44·T·tf / (20·T·tf + 6·T + 18·dl·N) over the integer token total
  // T and corpus size N — and the idf argument likewise reduces to
  // (2N+2)/(2·df+1), so both engines feed ln() bit-identical doubles
  // (the unigram-logprob rule); per-term contributions sum through
  // DECIMAL(28,15) (order-independent) and the ranking orders by the
  // ROUNDED score, so a last-ulp ln() disagreement cannot flip ranks.
  // The query-term cap keeps per-query work bounded: the TOP
  // `bm25QTerms` terms by idf (= LOWEST df — an integer rule, the
  // WAND-style rare-terms-first discipline), so candidate volume is
  // Σ_t df(t) over 20 rare terms, never the whole posting file.
  //
  // 100 TB shape: explode → (doc, token) hash-aggregate (map-side
  // partials, persisted — one explode pass); df from a
  // map-side-combined groupBy(token) over that aggregate, joined only
  // against the QUERY docs' postings (5 docs' rows — never the
  // corpus posting file: a df window partitioned by token would
  // serialize df("the") ≈ |docs| rows into one task, and even a
  // corpus-wide join-back shuffles the whole posting file by token;
  // here df rides the ≤ 5×|terms| query relation instead, and
  // PlanSpec pins the no-token-window shape). Doc lengths from one
  // more hash-aggregate, corpus totals broadcast as single rows;
  // candidates are a BROADCAST equi-join of 5×20 rare query terms
  // (df attached) against the posting aggregate — the posting file
  // never shuffles.
  private[queries] val bm25QTerms = 20
  private[queries] val bm25K = 10
  private[graft] def bm25Ranked(s: SparkSession, d: String): DataFrame = {
    import graft.operators.LexIndex
    val docs = documents(s, d)
    // the index FRAMES built inline (one persisted explode pass); the
    // scoring implementation is LexIndex's — shared verbatim with the
    // stored-artifact path (doc_bm25_served), so inline and served
    // retrieval cannot drift
    val post = LexIndex.postings(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    LexIndex.bm25Ranked(post, LexIndex.dfOf(post), LexIndex.dlOf(docs, post),
      LexIndex.totalsOf(docs, post), col("doc_id") < 5, bm25QTerms)
  }
  private val docBm25Topk: Q = (s, d) =>
    bm25Ranked(s, d)
      .filter(col("rank") <= bm25K)
      .select(col("query_id"), col("rank"), col("doc_id"), col("bm25"),
        col("n_terms"))
      .orderBy(col("query_id"), col("rank"))

  /** DuckDB replay of the lexical index BUILD over (optionally
    * filtered) documents — the four stored tables as CTEs
    * (bpost/bdf/bdl/btot). Shared by the BM25 scoring chain and the
    * lifecycle manifests (append replays the full-corpus build —
    * append ≡ build(base ∪ delta); delete/compact replays the
    * surviving-corpus build).
    */
  private[queries] def lexBuildCtes(where: String = ""): String = s"""
    btok AS (
      SELECT doc_id,
        unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents $where),
    bpost AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM btok
      GROUP BY doc_id, token),
    bdf AS (SELECT token, COUNT(*) AS df FROM bpost GROUP BY token),
    bdl AS (
      SELECT d.doc_id, COUNT(t.token) AS dl
      FROM (SELECT doc_id FROM documents $where) d
      LEFT JOIN btok t ON t.doc_id = d.doc_id
      GROUP BY d.doc_id),
    btot AS (
      SELECT (SELECT COUNT(*) FROM documents $where) AS n_corpus,
        (SELECT COUNT(*) FROM btok) AS t_total)"""

  /** Shared DuckDB replay of the BM25 ranked set; terminal CTE
    * `bm25r(query_id, doc_id, bm25, n_terms, brank)`.
    */
  private[queries] lazy val bm25Ctes: String = s"""
    ${lexBuildCtes()},
    bq AS (
      SELECT query_id, token, df FROM (
        SELECT p.doc_id AS query_id, p.token, f.df,
          ROW_NUMBER() OVER (PARTITION BY p.doc_id
            ORDER BY f.df, p.token) AS qrn
        FROM bpost p JOIN bdf f ON f.token = p.token
        WHERE p.doc_id < 5)
      WHERE qrn <= $bm25QTerms),
    bcand AS (
      SELECT q.query_id, p.doc_id, p.tf, q.df, l.dl, t.n_corpus, t.t_total
      FROM bq q
      JOIN bpost p ON p.token = q.token AND p.doc_id <> q.query_id
      JOIN bdl l ON l.doc_id = p.doc_id
      CROSS JOIN btot t),
    bscore AS (
      SELECT query_id, doc_id, COUNT(*) AS n_terms,
        ROUND(CAST(SUM(CAST(
          ln((2.0 * n_corpus + 2.0) / (2.0 * df + 1.0)) *
          (CAST(44 * t_total * tf AS DOUBLE) /
           CAST(20 * t_total * tf + 6 * t_total + 18 * dl * n_corpus AS DOUBLE))
          AS DECIMAL(28,15))) AS DOUBLE), 6) AS bm25
      FROM bcand
      GROUP BY query_id, doc_id),
    bm25r AS (
      SELECT query_id, doc_id, bm25, n_terms,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY bm25 DESC, doc_id) AS brank
      FROM bscore)"""

  private[queries] lazy val docBm25TopkSql: String = s"""
    WITH $bm25Ctes
    SELECT query_id, brank AS rank, doc_id, bm25, n_terms
    FROM bm25r
    WHERE brank <= $bm25K
    ORDER BY query_id, rank"""

  // ---------------------------------------------------- doc_bm25_served
  // BM25 retrieval from the PERSISTED lexical index — the production
  // lifecycle doc_bm25_topk's inline chain stands in for: tokenize +
  // aggregate the corpus ONCE (LexIndex.buildIndex: postings / df /
  // dl / totals parquet tables), then serve query-by-example from the
  // STORED artifact without rescanning a single document. The exact
  // emb_index_build discipline applied to the lexical side: every
  // write is a deterministic aggregate, so the loaded frames
  // reproduce the inline ones bit for bit — this query shares
  // doc_bm25_topk's ORACLE verbatim, and that hash equality IS the
  // store round-trip proof. Scoring is LexIndex's one implementation
  // (serveStage — capQueryTerms + scoreCandidates underneath), shared
  // with the inline chain and the streaming serves, so the paths
  // cannot drift.
  //
  // 100 TB shape: the build is the one full corpus scan (amortized
  // across every query thereafter); serving tokenizes the |Q| query
  // docs' own text (a doc_id-pushdown read of exactly those rows —
  // never a posting-store scan to recover a query's terms, which the
  // token-sorted layout cannot prune) and joins ≤ |Q|·qTerms
  // broadcast rare terms against the token-IN-pruned posting store.
  // Store scratch is keyed by (dataset, applicationId): two JVMs
  // sharing /tmp on the same dataset each get their own store, so one
  // session's wholesale delete-and-rebuild can never race another's
  // open parquet readers (within a session the queries run
  // sequentially and every build is deterministic). A shutdown hook
  // reclaims the per-app dirs on clean JVM exit — at sf10 the lexical
  // store is GBs, and without the hook every bench/verify JVM would
  // leave its own copy behind.
  private def sessionScratch(prefix: String, s: SparkSession,
      sfDir: String): String =
    graft.operators.Scratch.sessionDir(prefix, s, sfDir)
  private[graft] def lexDir(s: SparkSession, sfDir: String): String =
    sessionScratch("graft_lex_index", s, sfDir)
  /** Scratch dir for the hybrid serve's REQUEST FEED (the arrival
    * queue stand-in) — same (dataset, applicationId) keying as
    * [[lexDir]].
    */
  private[graft] def requestDir(s: SparkSession, sfDir: String): String =
    sessionScratch("graft_rag_requests", s, sfDir)
  private val docBm25Served: Q = (s, d) => {
    import graft.operators.LexIndex
    val dir = lexDir(s, d)
    LexIndex.buildIndex(documents(s, d), dir)
    // the query DOCUMENTS are the caller's input (the interactive
    // contract — at 100 TB this scan reads the |Q| query rows via
    // doc_id pushdown, never the store corpus-wide to recover terms)
    LexIndex.bm25FromIndex(LexIndex.loadIndex(s, dir),
        documents(s, d).filter(col("doc_id") < 5)
          .select(col("doc_id"), col("text")), bm25QTerms)
      .filter(col("rank") <= bm25K)
      .select(col("query_id"), col("rank"), col("doc_id"), col("bm25"),
        col("n_terms"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------------------------ doc_lex_append
  // Incremental maintenance of the persisted lexical index — the
  // ingest half a 100 TB text deployment runs continuously (the
  // emb_index_append discipline on the lexical side): NEW documents
  // land as ADDITIVE SEGMENTS (delta posting files token-range-sorted
  // per segment, delta df/dl rows, a delta totals row) from ONE
  // delta-sized tokenization pass; nothing existing is rewritten, and
  // loadIndex's segment-summed df/totals views reconstruct the
  // monolithic aggregates exactly. The manifest is computed from the
  // RELOADED post-append store — full-store checksums of all four
  // tables plus the delta slice — and the oracle replays the
  // FULL-CORPUS build: hash-green means append ≡ build(base ∪ delta),
  // table for table (LexIndexSpec additionally pins serving equality
  // and segment-level pruning).
  //
  // 100 TB shape: append work is one pass over the delta (map-side
  // aggregates); manifest aggregates are one scan of each stored
  // table with map-side partials; nothing shuffles the base store.
  private[queries] val lexDeltaMod = 10
  private[queries] val lexDeltaRem = 7
  private def lexStatRow(label: String, post: DataFrame): DataFrame = post.agg(
    lit(label).as("artifact"),
    count(lit(1)).as("n_rows"),
    (coalesce(sum(col("doc_id")), lit(0L))
      + coalesce(sum(col("tf")), lit(0L))).as("sum_a"),
    countDistinct(col("token")).cast(DoubleType).as("sum_b"))
  private def lexDfRow(dfT: DataFrame): DataFrame = dfT.agg(
    lit("df").as("artifact"),
    count(lit(1)).as("n_rows"),
    coalesce(sum(col("df")), lit(0L)).as("sum_a"),
    coalesce(max(col("df")), lit(0L)).cast(DoubleType).as("sum_b"))
  private def lexTotalsRow(totals: DataFrame): DataFrame = totals.select(
    lit("totals").as("artifact"),
    col("n_corpus").as("n_rows"),
    col("t_total").as("sum_a"),
    (col("n_corpus") + col("t_total")).cast(DoubleType).as("sum_b"))
  private val docLexAppend: Q = (s, d) => {
    import graft.operators.LexIndex
    val docs = documents(s, d)
    val isDelta = col("doc_id") % lexDeltaMod === lexDeltaRem
    val dir = lexDir(s, d) + "_append"
    LexIndex.buildIndex(docs.filter(!isDelta), dir)
    LexIndex.appendToIndex(docs.filter(isDelta), dir)
    // manifest from the RELOADED post-append artifact
    val loaded = LexIndex.loadIndex(s, dir)
    val dlRow = loaded.dl.agg(
      lit("dl").as("artifact"),
      count(lit(1)).as("n_rows"),
      (coalesce(sum(col("doc_id")), lit(0L))
        + coalesce(sum(col("dl")), lit(0L))).as("sum_a"),
      coalesce(max(col("dl")), lit(0L)).cast(DoubleType).as("sum_b"))
    lexStatRow("postings", loaded.postings)
      // the delta slice is audited by reading JUST the delta segment's
      // files (a segment-sized file-list read — filtering the whole
      // reloaded store by doc_id % mod would scan every posting file,
      // since the token-sorted layout cannot prune a doc predicate);
      // the oracle replays the same rows from the delta DOC SUBSET, so
      // hash equality also proves segment content == delta content
      .unionAll(lexStatRow("delta",
        LexIndex.segmentTable(s, dir, "postings", "seg-a1")))
      .unionAll(lexDfRow(loaded.df))
      .unionAll(dlRow)
      .unionAll(lexTotalsRow(loaded.totals))
      .orderBy(col("artifact"))
  }

  private lazy val docLexAppendSql: String = s"""
    WITH ${lexBuildCtes()},
    row_postings AS (
      SELECT 'postings' AS artifact,
        (SELECT COUNT(*) FROM bpost) AS n_rows,
        (SELECT CAST(COALESCE(SUM(doc_id), 0) + COALESCE(SUM(tf), 0) AS BIGINT)
           FROM bpost) AS sum_a,
        (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) FROM bpost) AS sum_b),
    row_delta AS (
      SELECT 'delta' AS artifact,
        (SELECT COUNT(*) FROM bpost
           WHERE doc_id % $lexDeltaMod = $lexDeltaRem) AS n_rows,
        (SELECT CAST(COALESCE(SUM(doc_id), 0) + COALESCE(SUM(tf), 0) AS BIGINT)
           FROM bpost WHERE doc_id % $lexDeltaMod = $lexDeltaRem) AS sum_a,
        (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) FROM bpost
           WHERE doc_id % $lexDeltaMod = $lexDeltaRem) AS sum_b),
    row_df AS (
      SELECT 'df' AS artifact,
        (SELECT COUNT(*) FROM bdf) AS n_rows,
        (SELECT CAST(COALESCE(SUM(df), 0) AS BIGINT) FROM bdf) AS sum_a,
        (SELECT CAST(COALESCE(MAX(df), 0) AS DOUBLE) FROM bdf) AS sum_b),
    row_dl AS (
      SELECT 'dl' AS artifact,
        (SELECT COUNT(*) FROM bdl) AS n_rows,
        (SELECT CAST(COALESCE(SUM(doc_id), 0) + COALESCE(SUM(dl), 0) AS BIGINT)
           FROM bdl) AS sum_a,
        (SELECT CAST(COALESCE(MAX(dl), 0) AS DOUBLE) FROM bdl) AS sum_b),
    row_totals AS (
      SELECT 'totals' AS artifact,
        (SELECT n_corpus FROM btot) AS n_rows,
        (SELECT t_total FROM btot) AS sum_a,
        (SELECT CAST(n_corpus + t_total AS DOUBLE) FROM btot) AS sum_b)
    SELECT * FROM row_postings
    UNION ALL SELECT * FROM row_delta
    UNION ALL SELECT * FROM row_df
    UNION ALL SELECT * FROM row_dl
    UNION ALL SELECT * FROM row_totals
    ORDER BY artifact"""

  // -------------------------------------------------- doc_lex_shard_merge
  // The DISTRIBUTED lexical build — emb_index_shard_merge's discipline
  // on the text side, and how a 100 TB corpus actually tokenizes: no
  // single job runs the full corpus pass; each shard builds a
  // self-contained store over its doc slice (no trained halves exist
  // on the lexical side, so no cross-shard equality gate is needed)
  // and LexIndex.mergeIndexes unions the segment files FILE-LEVEL —
  // no decode, no shuffle, no row read, cost ∝ file count. Correct
  // because the store is additive segments by design (postings/dl
  // doc-disjoint across shards; segment-summed df/totals views):
  // merge(shards) ≡ build(corpus) row for row. The manifest
  // checksums the RELOADED merged store — all four tables plus each
  // shard's slice — and the oracle replays the FULL-CORPUS build, so
  // hash-green IS that equivalence (LexIndexSpec additionally pins
  // row-level equality, serving equality from the merged store, and
  // the ingest-receipts / staged-compaction refusals).
  private val docLexShardMerge: Q = (s, d) => {
    import graft.operators.LexIndex
    val docs = documents(s, d)
    val base = lexDir(s, d)
    val (dirA, dirB, dirM) =
      (base + "_shard0", base + "_shard1", base + "_merged")
    // the two shard builds are independent job chains over disjoint
    // dirs — exactly how a distributed build runs them (overlapped;
    // guide §2.6)
    graft.operators.Par.jobs(
      () => LexIndex.buildIndex(docs.filter(col("doc_id") % 2 === 0), dirA),
      () => LexIndex.buildIndex(docs.filter(col("doc_id") % 2 === 1), dirB))
    LexIndex.mergeIndexes(s, Seq(dirA, dirB), dirM)
    // manifest from the RELOADED merged artifact
    val loaded = LexIndex.loadIndex(s, dirM)
    val dlRow = loaded.dl.agg(
      lit("dl").as("artifact"),
      count(lit(1)).as("n_rows"),
      (coalesce(sum(col("doc_id")), lit(0L))
        + coalesce(sum(col("dl")), lit(0L))).as("sum_a"),
      coalesce(max(col("dl")), lit(0L)).cast(DoubleType).as("sum_b"))
    lexStatRow("postings", loaded.postings)
      .unionAll(lexStatRow("shard_even",
        loaded.postings.filter(col("doc_id") % 2 === 0)))
      .unionAll(lexStatRow("shard_odd",
        loaded.postings.filter(col("doc_id") % 2 === 1)))
      .unionAll(lexDfRow(loaded.df))
      .unionAll(dlRow)
      .unionAll(lexTotalsRow(loaded.totals))
      .orderBy(col("artifact"))
  }

  private lazy val docLexShardMergeSql: String = s"""
    WITH ${lexBuildCtes()},
    row_postings AS (
      SELECT 'postings' AS artifact,
        (SELECT COUNT(*) FROM bpost) AS n_rows,
        (SELECT CAST(COALESCE(SUM(doc_id), 0) + COALESCE(SUM(tf), 0) AS BIGINT)
           FROM bpost) AS sum_a,
        (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) FROM bpost) AS sum_b),
    row_even AS (
      SELECT 'shard_even' AS artifact,
        (SELECT COUNT(*) FROM bpost WHERE doc_id % 2 = 0) AS n_rows,
        (SELECT CAST(COALESCE(SUM(doc_id), 0) + COALESCE(SUM(tf), 0) AS BIGINT)
           FROM bpost WHERE doc_id % 2 = 0) AS sum_a,
        (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) FROM bpost
           WHERE doc_id % 2 = 0) AS sum_b),
    row_odd AS (
      SELECT 'shard_odd' AS artifact,
        (SELECT COUNT(*) FROM bpost WHERE doc_id % 2 = 1) AS n_rows,
        (SELECT CAST(COALESCE(SUM(doc_id), 0) + COALESCE(SUM(tf), 0) AS BIGINT)
           FROM bpost WHERE doc_id % 2 = 1) AS sum_a,
        (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) FROM bpost
           WHERE doc_id % 2 = 1) AS sum_b),
    row_df AS (
      SELECT 'df' AS artifact,
        (SELECT COUNT(*) FROM bdf) AS n_rows,
        (SELECT CAST(COALESCE(SUM(df), 0) AS BIGINT) FROM bdf) AS sum_a,
        (SELECT CAST(COALESCE(MAX(df), 0) AS DOUBLE) FROM bdf) AS sum_b),
    row_dl AS (
      SELECT 'dl' AS artifact,
        (SELECT COUNT(*) FROM bdl) AS n_rows,
        (SELECT CAST(COALESCE(SUM(doc_id), 0) + COALESCE(SUM(dl), 0) AS BIGINT)
           FROM bdl) AS sum_a,
        (SELECT CAST(COALESCE(MAX(dl), 0) AS DOUBLE) FROM bdl) AS sum_b),
    row_totals AS (
      SELECT 'totals' AS artifact,
        (SELECT n_corpus FROM btot) AS n_rows,
        (SELECT t_total FROM btot) AS sum_a,
        (SELECT CAST(n_corpus + t_total AS DOUBLE) FROM btot) AS sum_b)
    SELECT * FROM row_df
    UNION ALL SELECT * FROM row_dl
    UNION ALL SELECT * FROM row_postings
    UNION ALL SELECT * FROM row_even
    UNION ALL SELECT * FROM row_odd
    UNION ALL SELECT * FROM row_totals
    ORDER BY artifact"""

  // ------------------------------------------------------ doc_lex_delete
  // Takedown + compaction on the persisted lexical index — the
  // emb_index_delete discipline on the text side. Deletes are
  // TOMBSTONES (LexIndex.deleteFromIndex appends doc ids to a side
  // table; the token-sorted store is untouched — removing one doc's
  // postings in place would rewrite the whole token range
  // synchronously per takedown); serving consumes the live views, so
  // a deleted doc is unservable the moment the delete lands; physical
  // removal is LexIndex.compactIndex — the Lucene/LSM segment merge:
  // surviving postings rewritten (token-range-sorted again), df/dl/
  // totals RE-DERIVED exactly from the survivors (until then those
  // corpus statistics stay as-built: the statistics-drift rule, the
  // lexical twin of frozen quantizer drift). The manifest pins the
  // whole discipline in one hash: `live` is the post-delete serving
  // view, `tombstones` the pending set, `compacted`/`df`/`totals` the
  // RAW store after the merge — and the oracle is a pure replay of
  // the build over the SURVIVING corpus.
  //
  // 100 TB shape: the delete writes |deleted| ids; serving pays one
  // broadcast anti-join between delete and compaction; the segment
  // merge is maintenance-cadence work ∝ store size (tiered into
  // segment-local merges in a real deployment), never on serve.
  private[queries] val lexDelMod = 9
  private[queries] val lexDelRem = 4
  private val docLexDelete: Q = (s, d) => {
    import graft.operators.LexIndex
    val docs = documents(s, d)
    val dir = lexDir(s, d) + "_delete"
    LexIndex.buildIndex(docs, dir)
    val isDel = col("doc_id") % lexDelMod === lexDelRem
    LexIndex.deleteFromIndex(docs.filter(isDel).select(col("doc_id")), dir)
    val afterDel = LexIndex.loadIndex(s, dir)
    val tombRow = LexIndex.tombstonesOf(s, dir).agg(
      lit("tombstones").as("artifact"),
      count(lit(1)).as("n_rows"),
      coalesce(sum(col("doc_id")), lit(0L)).as("sum_a"),
      countDistinct(col("doc_id")).cast(DoubleType).as("sum_b"))
    // materialize the pre-compaction rows NOW — compaction rewrites
    // the store (and clears the tombstones) these lazy plans read
    val pre = lexStatRow("live", afterDel.livePostings).unionAll(tombRow)
      .localCheckpoint(true)
    LexIndex.compactIndex(s, dir)
    val after = LexIndex.loadIndex(s, dir)
    lexStatRow("compacted", after.postings)
      .unionAll(lexDfRow(after.df))
      .unionAll(pre)
      .unionAll(lexTotalsRow(after.totals))
      .orderBy(col("artifact"))
  }

  private lazy val docLexDeleteSql: String = s"""
    WITH ${lexBuildCtes(s"WHERE doc_id % $lexDelMod <> $lexDelRem")},
    tomb AS (
      SELECT doc_id FROM documents WHERE doc_id % $lexDelMod = $lexDelRem),
    live_stats AS (
      SELECT
        (SELECT COUNT(*) FROM bpost) AS n_rows,
        (SELECT CAST(COALESCE(SUM(doc_id), 0) + COALESCE(SUM(tf), 0) AS BIGINT)
           FROM bpost) AS sum_a,
        (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) FROM bpost) AS sum_b),
    row_compacted AS (
      SELECT 'compacted' AS artifact, n_rows, sum_a, sum_b FROM live_stats),
    row_live AS (
      SELECT 'live' AS artifact, n_rows, sum_a, sum_b FROM live_stats),
    row_df AS (
      SELECT 'df' AS artifact,
        (SELECT COUNT(*) FROM bdf) AS n_rows,
        (SELECT CAST(COALESCE(SUM(df), 0) AS BIGINT) FROM bdf) AS sum_a,
        (SELECT CAST(COALESCE(MAX(df), 0) AS DOUBLE) FROM bdf) AS sum_b),
    row_tomb AS (
      SELECT 'tombstones' AS artifact,
        (SELECT COUNT(*) FROM tomb) AS n_rows,
        (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM tomb) AS sum_a,
        (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) FROM tomb) AS sum_b),
    row_totals AS (
      SELECT 'totals' AS artifact,
        (SELECT n_corpus FROM btot) AS n_rows,
        (SELECT t_total FROM btot) AS sum_a,
        (SELECT CAST(n_corpus + t_total AS DOUBLE) FROM btot) AS sum_b)
    SELECT * FROM row_compacted
    UNION ALL SELECT * FROM row_df
    UNION ALL SELECT * FROM row_live
    UNION ALL SELECT * FROM row_tomb
    UNION ALL SELECT * FROM row_totals
    ORDER BY artifact"""

  // ---------------------------------------------- doc_lex_compact_tiered
  // SEGMENT-LOCAL compaction — the IvfPq cell-local rewrite bound
  // carried to the text side, and the reason a 100 TB takedown merge
  // is maintenance, not an outage window: segments are doc-disjoint
  // by construction (the append contract doc_lex_shard_merge proves),
  // so a tombstoned doc lives in exactly ONE segment and compaction
  // rewrites ONLY the segments holding tombstoned docs (discovered
  // through the dl roster — one scan of the doc-count-sized dl
  // table), folding their survivors into one new committed segment;
  // every other segment's files are NEVER OPENED. The scenario: base
  // build + two append segments, tombstones landing only in the
  // first append — compaction must rewrite exactly that segment. The
  // manifest pins the whole bound in one hash:
  //   - `rewritten` checksums the NEW segment's files alone (a
  //     segment-sized file-list read) against a pure SQL replay of
  //     the first delta's SURVIVORS — the rewrite unit is exactly
  //     the touched segment, nothing more;
  //   - `untouched` is computed from before/after CONTENT HASHES of
  //     the base and second-append files across all four tables
  //     (sha-256 over the bytes; a deployment compares filesystem
  //     checksums instead of re-reading — this is the audit query,
  //     not the serve path): n_rows = segments fully byte-identical,
  //     sum_a = the all-identical flag — the oracle states 2/1, so a
  //     compactor that quietly rewrote (or dropped) an untouched
  //     file flips the hash;
  //   - `compacted`/`df`/`totals` checksum the RELOADED store against
  //     the build(surviving) replay — statistics exact again;
  //   - `tombstones` pins the applied snapshot cleared.
  //
  // 100 TB shape: rewrite work ∝ touched segments (the delta-sized
  // first append), not store size; discovery is one dl-roster scan;
  // the byte-identity audit reads only the untouched segments' files
  // and exists to PROVE the bound, not to serve.
  private[queries] val tieredDelMod = 20
  private[queries] val tieredDelRem = 7
  private val docLexCompactTiered: Q = (s, d) => {
    import graft.operators.LexIndex
    val docs = documents(s, d)
    val isD1 = col("doc_id") % lexDeltaMod === lexDeltaRem   // → seg a1
    val isD2 = col("doc_id") % lexDeltaMod === lit(8)        // → seg a2
    val isDel = col("doc_id") % tieredDelMod === tieredDelRem // ⊂ d1
    val dir = lexDir(s, d) + "_tiered"
    LexIndex.buildIndex(docs.filter(!isD1 && !isD2), dir)
    LexIndex.appendToIndex(docs.filter(isD1), dir)
    LexIndex.appendToIndex(docs.filter(isD2), dir)
    // content-hash inventory of the UNTOUCHED segments' files, before
    // and after: driver-bounded (segment-file count — a manifest-sized
    // set), hashed distributed via the binaryFile source
    val untouchedSegs = Set("base", "seg-a2")
    def inventory(): Map[String, String] = {
      val files = Seq("postings", "df", "dl", "totals").flatMap(t =>
        LexIndex.liveFiles(s, dir, t)
          .filter(p => untouchedSegs(LexIndex.segmentOf(p.getName)))
          .map(_.toString))
      if (files.isEmpty) Map.empty
      else s.read.format("binaryFile").load(files: _*)
        .select(col("path"), sha2(col("content"), 256).as("h"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    // the tombstone write and the before-inventory hash touch disjoint
    // paths (tombstones/ vs the untouched segments' table files) —
    // overlapped; both must complete before compaction runs
    val (before, _) = graft.operators.Par.two(
      () => inventory(),
      () => LexIndex.deleteFromIndex(
        docs.filter(isDel).select(col("doc_id")), dir))
    LexIndex.compactIndex(s, dir)
    val after = inventory()
    val identical = before == after && before.nonEmpty
    val loaded = LexIndex.loadIndex(s, dir)
    val untouchedRow = s.range(1).select(
      lit("untouched").as("artifact"),
      lit(if (identical) untouchedSegs.size.toLong else 0L).as("n_rows"),
      lit(if (identical) 1L else 0L).as("sum_a"),
      lit(untouchedSegs.size.toDouble).as("sum_b"))
    val tombRow = LexIndex.tombstonesOf(s, dir).agg(
      lit("tombstones").as("artifact"),
      count(lit(1)).as("n_rows"),
      coalesce(sum(col("doc_id")), lit(0L)).as("sum_a"),
      countDistinct(col("doc_id")).cast(DoubleType).as("sum_b"))
    lexStatRow("compacted", loaded.postings)
      .unionAll(lexStatRow("rewritten",
        LexIndex.segmentTable(s, dir, "postings", "seg-c1")))
      .unionAll(lexDfRow(loaded.df))
      .unionAll(lexTotalsRow(loaded.totals))
      .unionAll(untouchedRow)
      .unionAll(tombRow)
      .orderBy(col("artifact"))
  }

  private lazy val docLexCompactTieredSql: String = s"""
    WITH ${lexBuildCtes(
      s"WHERE doc_id % $tieredDelMod <> $tieredDelRem")},
    rtok AS (
      SELECT doc_id,
        unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents
      WHERE doc_id % $lexDeltaMod = $lexDeltaRem
        AND doc_id % $tieredDelMod <> $tieredDelRem),
    rpost AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM rtok GROUP BY doc_id, token),
    row_compacted AS (
      SELECT 'compacted' AS artifact,
        (SELECT COUNT(*) FROM bpost) AS n_rows,
        (SELECT CAST(COALESCE(SUM(doc_id), 0) + COALESCE(SUM(tf), 0) AS BIGINT)
           FROM bpost) AS sum_a,
        (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) FROM bpost) AS sum_b),
    row_rewritten AS (
      SELECT 'rewritten' AS artifact,
        (SELECT COUNT(*) FROM rpost) AS n_rows,
        (SELECT CAST(COALESCE(SUM(doc_id), 0) + COALESCE(SUM(tf), 0) AS BIGINT)
           FROM rpost) AS sum_a,
        (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) FROM rpost) AS sum_b),
    row_df AS (
      SELECT 'df' AS artifact,
        (SELECT COUNT(*) FROM bdf) AS n_rows,
        (SELECT CAST(COALESCE(SUM(df), 0) AS BIGINT) FROM bdf) AS sum_a,
        (SELECT CAST(COALESCE(MAX(df), 0) AS DOUBLE) FROM bdf) AS sum_b),
    row_totals AS (
      SELECT 'totals' AS artifact,
        (SELECT n_corpus FROM btot) AS n_rows,
        (SELECT t_total FROM btot) AS sum_a,
        (SELECT CAST(n_corpus + t_total AS DOUBLE) FROM btot) AS sum_b),
    row_untouched AS (
      SELECT 'untouched' AS artifact, CAST(2 AS BIGINT) AS n_rows,
        CAST(1 AS BIGINT) AS sum_a, CAST(2.0 AS DOUBLE) AS sum_b),
    row_tomb AS (
      SELECT 'tombstones' AS artifact, CAST(0 AS BIGINT) AS n_rows,
        CAST(0 AS BIGINT) AS sum_a, CAST(0.0 AS DOUBLE) AS sum_b)
    SELECT * FROM row_compacted
    UNION ALL SELECT * FROM row_df
    UNION ALL SELECT * FROM row_rewritten
    UNION ALL SELECT * FROM row_tomb
    UNION ALL SELECT * FROM row_totals
    UNION ALL SELECT * FROM row_untouched
    ORDER BY artifact"""

  // --------------------------------------------------------- doc_lex_stats
  // Fragmentation / statistics-drift observability for the lexical
  // store — the `balance` manifest row's text-side twin: what a
  // deployment WATCHES to schedule segment-local compaction. An
  // append-heavy store accumulates segments (per-segment posting
  // volume tells the scheduler what a merge would fold); a
  // delete-heavy store accumulates STALE corpus statistics — df and
  // totals stay as-built until compaction (the frozen-quantizer-drift
  // rule), so the tombstoned share of the token mass is exactly how
  // far BM25's n_corpus/t_total inputs have drifted from the live
  // corpus. Rows:
  //   - `segment:<id>` — per-segment posting stats, each read as a
  //     segment-sized FILE-LIST scan (the store's real physical
  //     layout: a fabricated segment inventory cannot hash green);
  //   - `fragmentation` — live segment count + how many segments hold
  //     pending tombstoned docs (the rewrite bill of the next
  //     compaction);
  //   - `staleness` — tombstoned doc count, their dl token mass, and
  //     the drift fraction ROUND(stale_dl / t_total, 6) a deployment
  //     alarms on.
  // The oracle replays every number from the scenario's doc subsets;
  // the engine derives them from the STORE (file-attributed segment
  // reads, the dl roster, the pending tombstone set).
  private val docLexStats: Q = (s, d) => {
    import graft.operators.LexIndex
    val docs = documents(s, d)
    val isDelta = col("doc_id") % lexDeltaMod === lexDeltaRem
    val isDel = col("doc_id") % lexDelMod === lexDelRem
    val dir = lexDir(s, d) + "_stats"
    LexIndex.buildIndex(docs.filter(!isDelta), dir)
    // the delta-segment append and the tombstone write stage
    // concurrently (§2.6) and commit their manifest versions in turn;
    // the stats read side below runs only after both land
    graft.operators.Par.jobs(
      () => LexIndex.appendToIndex(docs.filter(isDelta), dir),
      () => LexIndex.deleteFromIndex(
        docs.filter(isDel).select(col("doc_id")), dir))
    val segs = LexIndex.segmentsOf(s, dir, "postings").keys.toSeq.sorted
    val segRows = segs.map(seg =>
        lexStatRow(s"segment:$seg",
          LexIndex.segmentTable(s, dir, "postings", seg)))
      .reduceOption(_.unionAll(_))
      .getOrElse(s.range(0).select(lit("segment:none").as("artifact"),
        lit(0L).as("n_rows"), lit(0L).as("sum_a"), lit(0.0).as("sum_b")))
    val tombs = LexIndex.tombstonesOf(s, dir)
    val loaded = LexIndex.loadIndex(s, dir)
    // which segments hold pending tombstoned docs: the dl roster
    // attributed per segment — the SAME one-job discovery scan
    // compaction runs (LexIndex.segmentsHolding; this replaced a
    // per-segment join-probe loop, one Spark job per segment)
    val holding = LexIndex.segmentsHolding(s, dir, tombs)
    val tombSegs = segs.count(holding.contains)
    val fragRow = s.range(1).select(
      lit("fragmentation").as("artifact"),
      lit(segs.size.toLong).as("n_rows"),
      lit(tombSegs.toLong).as("sum_a"),
      lit(segs.size.toDouble).as("sum_b"))
    val staleRow = loaded.dl.join(tombs, Seq("doc_id"), "left_semi")
      .crossJoin(loaded.totals)
      .agg(lit("staleness").as("artifact"),
        count(lit(1)).as("n_rows"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_a"),
        round(when(coalesce(first(col("t_total")), lit(0L)) === 0, lit(0.0))
          .otherwise(coalesce(sum(col("dl")), lit(0L)).cast(DoubleType) /
            first(col("t_total")).cast(DoubleType)), 6).as("sum_b"))
    segRows.unionAll(fragRow).unionAll(staleRow)
      .orderBy(col("artifact"))
  }

  private lazy val docLexStatsSql: String = s"""
    WITH ${lexBuildCtes()},
    base_post AS (
      SELECT * FROM bpost WHERE doc_id % $lexDeltaMod <> $lexDeltaRem),
    delta_post AS (
      SELECT * FROM bpost WHERE doc_id % $lexDeltaMod = $lexDeltaRem),
    tomb AS (
      SELECT doc_id FROM documents WHERE doc_id % $lexDelMod = $lexDelRem),
    row_seg_base AS (
      SELECT 'segment:base' AS artifact,
        (SELECT COUNT(*) FROM base_post) AS n_rows,
        (SELECT CAST(COALESCE(SUM(doc_id), 0) + COALESCE(SUM(tf), 0) AS BIGINT)
           FROM base_post) AS sum_a,
        (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) FROM base_post) AS sum_b),
    row_seg_a1 AS (
      SELECT 'segment:seg-a1' AS artifact,
        (SELECT COUNT(*) FROM delta_post) AS n_rows,
        (SELECT CAST(COALESCE(SUM(doc_id), 0) + COALESCE(SUM(tf), 0) AS BIGINT)
           FROM delta_post) AS sum_a,
        (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) FROM delta_post) AS sum_b),
    row_frag AS (
      SELECT 'fragmentation' AS artifact, CAST(2 AS BIGINT) AS n_rows,
        (SELECT CAST(COUNT(DISTINCT doc_id % $lexDeltaMod = $lexDeltaRem)
           AS BIGINT) FROM tomb) AS sum_a,
        CAST(2.0 AS DOUBLE) AS sum_b),
    row_stale AS (
      SELECT 'staleness' AS artifact,
        (SELECT COUNT(*) FROM tomb) AS n_rows,
        (SELECT CAST(COALESCE(SUM(dl), 0) AS BIGINT)
           FROM bdl WHERE doc_id IN (SELECT doc_id FROM tomb)) AS sum_a,
        (SELECT ROUND(
            CAST((SELECT COALESCE(SUM(dl), 0) FROM bdl
              WHERE doc_id IN (SELECT doc_id FROM tomb)) AS DOUBLE) /
            CAST((SELECT t_total FROM btot) AS DOUBLE), 6)) AS sum_b)
    SELECT * FROM row_frag
    UNION ALL SELECT * FROM row_seg_base
    UNION ALL SELECT * FROM row_seg_a1
    UNION ALL SELECT * FROM row_stale
    ORDER BY artifact"""

  // ---------------------------------------------------- doc_hybrid_rrf
  // TRUE hybrid retrieval — the production RAG shape emb_rrf_fusion's
  // scaladoc points at: a LEXICAL retriever (the BM25 ranking above)
  // fused with a VECTOR retriever (cosine over the aligned embeddings
  // table — doc_id ≡ vec_id in this corpus) by reciprocal-rank fusion
  // over the UNION of both candidate sets (a doc found by only one
  // retriever scores that side's 1/(60+rank) alone — the standard
  // Cormack/Clarke/Buettcher form, no score calibration across
  // modalities). Each retriever contributes its top-`hybridDepth`;
  // the fused top-10 is what a RAG pipeline would hand the reranker.
  //
  // 100 TB shape: the lexical side is the bounded BM25 chain; the
  // vector side is exact here (the oracle needs a replayable ranking)
  // but rank-space fusion is retriever-agnostic — the served IVF+PQ
  // top-k (st_ivfpq_serve_topk) slots in unchanged, which is the
  // point of fusing RANKS. The fusion itself joins two ≤ depth·|Q|
  // relations — driver-free, broadcast-sized.
  private[queries] val hybridDepth = 20

  /** Rank-space reciprocal-rank fusion over the UNION of two
    * candidate sets — `lex(query_id, doc_id, rank_lex)` ⟗
    * `vec(query_id, doc_id, rank_vec)`, 1/(60+rank) per present side
    * (Cormack/Clarke/Büttcher). ONE function fuses every hybrid
    * variant and RetrievalSpec's invariance pin calls it directly:
    * the fused output is a pure function of the two rank relations,
    * which is WHY any vector retriever — exact or the served
    * IVF+PQ — slots in without touching the fusion.
    */
  private[graft] def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame =
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(60.0) + col("rank_lex")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60.0) + col("rank_vec")), lit(0.0)), 6))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_score").desc, col("doc_id"))))
      .filter(col("fused_rank") <= 10)
      .select(col("query_id"), col("fused_rank"), col("doc_id"),
        col("rrf_score"), col("rank_lex"), col("rank_vec"))
      .orderBy(col("query_id"), col("fused_rank"))

  /** The lexical top-`hybridDepth` — shared by both hybrid variants. */
  private def hybridLex(s: SparkSession, d: String): DataFrame =
    bm25Ranked(s, d)
      .filter(col("rank") <= hybridDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("rank_lex"))

  private val docHybridRrf: Q = (s, d) => {
    import org.apache.spark.sql.types.ArrayType
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val vq = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val vec = e.select(col("vec_id").as("doc_id"), col("v").as("cv"))
      .crossJoin(broadcast(vq))
      .filter(col("query_id") =!= col("doc_id"))
      .withColumn("rank_vec", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(GraftFunctions.cosineSimilarity(col("qv"), col("cv")).desc,
            col("doc_id"))))
      .filter(col("rank_vec") <= hybridDepth)
      .select(col("query_id"), col("doc_id"), col("rank_vec"))
    rrfFuse(hybridLex(s, d), vec)
  }

  /** The RRF fusion + terminal projection — the SQL mirror of
    * [[rrfFuse]]. Requires `lex(query_id, doc_id, rank_lex)` and
    * `vec(query_id, doc_id, rank_vec)` CTEs; both hybrid oracles end
    * with exactly this text, so the fusion arithmetic cannot drift
    * between the exact-vector and ANN-vector variants.
    */
  private lazy val rrfFusionTailSql: String = s"""
    fused AS (
      SELECT COALESCE(l.query_id, v.query_id) AS query_id,
        COALESCE(l.doc_id, v.doc_id) AS doc_id,
        ROUND(COALESCE(1.0 / (60.0 + l.rank_lex), 0.0)
          + COALESCE(1.0 / (60.0 + v.rank_vec), 0.0), 6) AS rrf_score,
        l.rank_lex, v.rank_vec
      FROM lex l
      FULL OUTER JOIN vec v
        ON v.query_id = l.query_id AND v.doc_id = l.doc_id),
    franked AS (
      SELECT query_id, doc_id, rrf_score, rank_lex, rank_vec,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY rrf_score DESC, doc_id) AS fused_rank
      FROM fused)
    SELECT query_id, fused_rank, doc_id, rrf_score, rank_lex, rank_vec
    FROM franked
    WHERE fused_rank <= 10
    ORDER BY query_id, fused_rank"""

  private lazy val docHybridRrfSql: String = s"""
    WITH $bm25Ctes,
    lex AS (
      SELECT query_id, doc_id, brank AS rank_lex
      FROM bm25r WHERE brank <= $hybridDepth),
    ve AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    vranked AS (
      SELECT query_id, doc_id,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_raw DESC, doc_id) AS rank_vec
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
          ${Vectors.cosFold("q.v", "c.v", 64)} AS cos_raw
        FROM ve q JOIN ve c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)),
    vec AS (SELECT * FROM vranked WHERE rank_vec <= $hybridDepth),
    $rrfFusionTailSql"""

  // ------------------------------------------------ doc_hybrid_rrf_ann
  // Hybrid retrieval over the PRODUCTION vector retriever: the same
  // BM25 lexical side fused — by the SAME rank-space RRF ([[rrfFuse]])
  // — with the COMPOSED IVF+PQ search (IvfPq.topK: probe → true ADC
  // over the coded inverted file → exact re-rank), not the exact
  // brute-force ranking doc_hybrid_rrf keeps as its replayable
  // baseline. This is the shape a RAG deployment actually runs at
  // 10⁸+ docs: the vector side touches |cell|·nprobe codes per query
  // instead of rescanning the corpus, and because fusion consumes
  // RANKS, swapping the retriever changed nothing else —
  // RetrievalSpec pins that invariance (fused rows = rrfFuse of the
  // two rankings, lexical side bit-identical across retrievers).
  //
  // 100 TB shape: lexical = the bounded rare-term BM25 chain (posting
  // file never shuffles); vector = emb_ivfpq_topk's index path
  // (cell-bucketed coded file, broadcast survivor re-rank); fusion =
  // a full-outer join of two ≤ depth·|Q| relations — broadcast-sized.
  // The oracle replays BOTH chains (bm25Ctes + the full IVF/PQ/ADC
  // training replay) and the identical fusion tail.
  private val docHybridRrfAnn: Q = (s, d) => {
    import org.apache.spark.sql.types.ArrayType
    import graft.operators.IvfPq
    val corpus = embeddings(s, d)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()
    val queries = corpus.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("v").as("qv"))
    val vec = IvfPq.topK(corpus, n, dim = 64, queries, k = hybridDepth,
        nprobe = Vectors.ivfpqNprobe, rerank = Vectors.ivfpqRerank,
        m = Vectors.pqM, dsub = Vectors.pqDsub, kCodes = Vectors.pqK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("rank_vec"))
    rrfFuse(hybridLex(s, d), vec)
  }

  private[queries] lazy val docHybridRrfAnnSql: String = s"""
    WITH $bm25Ctes,
    lex AS (
      SELECT query_id, doc_id, brank AS rank_lex
      FROM bm25r WHERE brank <= $hybridDepth),
    ${ScaleOps.ivfCtes()},
    ${Vectors.pqCtesComposable},${ScaleOps.probesCte(s"${Vectors.ivfpqNprobe}")},
    ${Vectors.adcCtes("probes", "inverted", 64)},
    ${Vectors.ivfpqRerankCtes(Vectors.ivfpqRerank, 64)},
    vec AS (
      SELECT query_id, neighbor_id AS doc_id, rank AS rank_vec
      FROM ranked WHERE rank <= $hybridDepth),
    $rrfFusionTailSql"""

  val entries: Map[String, Q] = Map(
    "doc_bm25_topk" -> docBm25Topk,
    "doc_bm25_served" -> docBm25Served,
    "doc_lex_append" -> docLexAppend,
    "doc_lex_delete" -> docLexDelete,
    "doc_lex_compact_tiered" -> docLexCompactTiered,
    "doc_lex_stats" -> docLexStats,
    "doc_lex_shard_merge" -> docLexShardMerge,
    "doc_hybrid_rrf" -> docHybridRrf,
    "doc_hybrid_rrf_ann" -> docHybridRrfAnn,
    "doc_winnowing" -> docWinnowing,
    "doc_mixture_apply" -> docMixtureApply,
    "doc_bpe_pairs" -> docBpePairs,
    "doc_source_reputation" -> docSourceReputation,
    "doc_tfidf_topk" -> docTfidfTopk,
    "doc_containment_pairs" -> docContainmentPairs,
    "doc_segment_dedup" -> docSegmentDedup,
    "doc_mixture_plan" -> docMixturePlan,
    "doc_dup_ngrams" -> docDupNgrams,
    "doc_ngram_novelty" -> docNgramNovelty,
    "doc_dup_spans" -> docDupSpans)

  val oracles: Map[String, String] = Map(
    "doc_bm25_topk" -> docBm25TopkSql,
    "doc_bm25_served" -> docBm25TopkSql,
    "doc_lex_append" -> docLexAppendSql,
    "doc_lex_delete" -> docLexDeleteSql,
    "doc_lex_compact_tiered" -> docLexCompactTieredSql,
    "doc_lex_stats" -> docLexStatsSql,
    "doc_lex_shard_merge" -> docLexShardMergeSql,
    "doc_hybrid_rrf" -> docHybridRrfSql,
    "doc_hybrid_rrf_ann" -> docHybridRrfAnnSql,
    "doc_winnowing" -> docWinnowingSql,
    "doc_mixture_apply" -> docMixtureApplySql,
    "doc_bpe_pairs" -> docBpePairsSql,
    "doc_source_reputation" -> docSourceReputationSql,
    "doc_tfidf_topk" -> docTfidfTopkSql,
    "doc_containment_pairs" -> docContainmentPairsSql,
    "doc_segment_dedup" -> docSegmentDedupSql,
    "doc_mixture_plan" -> docMixturePlanSql,
    "doc_dup_ngrams" -> docDupNgramsSql,
    "doc_ngram_novelty" -> docNgramNoveltySql,
    "doc_dup_spans" -> docDupSpansSql)
}
