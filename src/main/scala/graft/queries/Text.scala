package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables._

/** Block C — training-data text pipeline (SURVEY §2.C) over
  * `documents`. These are the operations a 100 TB LLM-data pipeline
  * runs: exact/near dedup, language ID, quality scoring, token
  * counting. Everything below is pure `functions._` expressions
  * (whole-stage codegen), no UDFs.
  */
object Text {
  type Q = (SparkSession, String) => DataFrame

  /** Number of occurrences of `w` in `' '+lower(text)+' '` — identical
    * replace/length semantics in Spark and DuckDB.
    */
  private def occurrences(padded: Column, w: String): Column =
    (length(padded) - length(expr(s"replace(padded, '$w', '')"))) / w.length

  private[queries] def occSql(w: String): String =
    s"(length(padded) - length(replace(padded, '$w', ''))) / ${w.length}"

  // --------------------------------------------------- doc_exact_dedup
  // Exact dedup by FULL-text content hash: two documents collide only
  // when their entire text is byte-identical. Scales as a single
  // hash-aggregate on the 16-byte digest — the canonical 100 TB exact
  // dedup plan (the text itself never shuffles, only its hash).
  /** The content-hash dedup aggregate itself, shared by the batch
    * entry, the streaming form (st_exact_dedup_stream), and specs —
    * one definition so batch and stream can never drift apart while
    * claiming the same oracle.
    */
  def exactDedupAgg(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_key", md5(col("text")))
      .groupBy(col("content_key"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_dups"))

  private val docExactDedup: Q = (s, d) =>
    exactDedupAgg(documents(s, d)).orderBy(col("keep_doc_id"))

  private val docExactDedupSql = """
    SELECT md5(text) AS content_key,
      MIN(doc_id) AS keep_doc_id,
      COUNT(*) AS n_dups
    FROM documents
    GROUP BY 1
    ORDER BY keep_doc_id"""

  // --------------------------------------------------- doc_prefix_dedup
  // Normalized-PREFIX dedup (md5 of the lowercased 40-char prefix):
  // the deliberately coarser key that catches title/boilerplate-level
  // duplicates with different tails — named for what it is, next to
  // the strict full-text doc_exact_dedup. Same single-hash-aggregate
  // 100 TB plan.
  private val docPrefixDedup: Q = (s, d) =>
    documents(s, d)
      .withColumn("prefix_key", md5(substring(lower(col("text")), 1, 40)))
      .groupBy(col("prefix_key"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("keep_doc_id"))

  private val docPrefixDedupSql = """
    SELECT md5(substr(lower(text), 1, 40)) AS prefix_key,
      MIN(doc_id) AS keep_doc_id,
      COUNT(*) AS n_dups
    FROM documents
    GROUP BY 1
    ORDER BY keep_doc_id"""

  // --------------------------------------------------- doc_ngram_jaccard_pairs
  // Brute-force character-3-gram Jaccard near-dup pairs. This is the
  // small-scale ORACLE/baseline; the scale path is doc_minhash_lsh
  // (candidates via banding, never O(n²)). Capped to doc_id < 200 so
  // the pair count is sf-independent.
  private val docNgramJaccard: Q = (s, d) => {
    import graft.functions.expressions.GraftFunctions
    // shingle sets carried as sorted distinct 64-bit hashes: the
    // merge-walk intersection kernel replaces per-pair string-set
    // building; jaccard is unchanged (set cardinalities are hash-
    // invariant), so the string-based DuckDB oracle still applies
    val g = documents(s, d)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
        graft.operators.Dedup.charGramHashes("text", 3).as("grams"))
    val a = g.select(col("doc_id").as("a_id"), col("grams").as("a_grams"))
    val b = g.select(col("doc_id").as("b_id"), col("grams").as("b_grams"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("a_grams"), col("b_grams")))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("a_grams")) + size(col("b_grams")) - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= 0.8)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val docNgramJaccardSql = """
    WITH g AS (
      SELECT doc_id,
        list_distinct(list_transform(generate_series(1, greatest(length(text)-2, 1)),
                                     i -> substr(text, CAST(i AS INT), 3))) AS grams
      FROM documents WHERE doc_id < 200),
    p AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        len(list_intersect(a.grams, b.grams)) AS inter,
        len(a.grams) AS na, len(b.grams) AS nb
      FROM g a JOIN g b ON a.doc_id < b.doc_id)
    SELECT a_id, b_id,
      CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jaccard
    FROM p
    WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= 0.8
    ORDER BY a_id, b_id"""

  // --------------------------------------------------- doc_lang_id
  // Heuristic language ID: CJK codepoint detection, else argmax of
  // per-language stopword occurrence counts (fixed priority on ties).
  // Pure string ops — deterministic and cheap enough to run inline
  // with the scan at 100 TB.
  private val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " la ", " et "),
    "es" -> Seq(" el ", " que ", " los "))

  /** (all document columns) + score_* + pred_lang — the language-ID
    * stage, exposed for pipeline composition (doc_pipeline_filter). */
  def langScored(s: SparkSession, d: String): DataFrame =
    langScoredDf(documents(s, d))

  /** Column-level form of [[langScored]]: stacks the language scores
    * onto an existing documents frame, so composed pipelines stay one
    * scan instead of re-reading and self-joining.
    */
  def langScoredDf(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("padded", concat(lit(" "), lower(col("text")), lit(" ")))
      .withColumn("cjk", regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")))
    val scored = langStops.foldLeft(base) { case (df, (l, ws)) =>
      df.withColumn(s"score_$l", ws.map(w => occurrences(col("padded"), w)).reduce(_ + _))
    }
    scored.withColumn("pred_lang",
      when(col("cjk") > 0, "zh")
        .when(col("score_en") >= col("score_de") && col("score_en") >= col("score_fr") && col("score_en") >= col("score_es"), "en")
        .when(col("score_de") >= col("score_fr") && col("score_de") >= col("score_es"), "de")
        .when(col("score_fr") >= col("score_es"), "fr")
        .otherwise("es"))
  }

  private val docLangId: Q = (s, d) => {
    val scored = langScored(s, d)
    scored.select(
        col("doc_id"), col("lang").as("labeled_lang"), col("pred_lang"),
        col("score_en"), col("score_de"), col("score_fr"), col("score_es"))
      .orderBy(col("doc_id"))
  }

  private val docLangIdSql = {
    val scores = langStops.map { case (l, ws) =>
      ws.map(occSql).mkString(" + ") + s" AS score_$l"
    }.mkString(",\n        ")
    s"""
    WITH base AS (
      SELECT doc_id, lang, text,
        ' ' || lower(text) || ' ' AS padded,
        len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk
      FROM documents),
    scored AS (
      SELECT doc_id, lang, cjk,
        $scores
      FROM base)
    SELECT doc_id, lang AS labeled_lang,
      CASE WHEN cjk > 0 THEN 'zh'
           WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
           WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
           WHEN score_fr >= score_es THEN 'fr'
           ELSE 'es' END AS pred_lang,
      score_en, score_de, score_fr, score_es
    FROM scored
    ORDER BY doc_id"""
  }

  // --------------------------------------------------- doc_quality_score
  // Quality features: length, word count, punctuation ratio,
  // stopword ratio, and a fixed weighted score — the filter stage of a
  // pretraining pipeline.
  /** (all document columns) + quality features — the quality-scoring
    * stage, exposed for pipeline composition (doc_pipeline_filter). */
  def qualityScored(s: SparkSession, d: String): DataFrame =
    qualityScoredDf(documents(s, d))

  /** Column-level form of [[qualityScored]] (see [[langScoredDf]]). */
  def qualityScoredDf(docs: DataFrame): DataFrame =
    docs
      .withColumn("padded", concat(lit(" "), lower(col("text")), lit(" ")))
      .withColumn("n_chars_m", length(col("text")))
      .withColumn("n_words", size(split(trim(col("text")), "\\s+")))
      .withColumn("punct_cnt", length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
      .withColumn("stop_cnt",
        occurrences(col("padded"), " the ") + occurrences(col("padded"), " a "))
      // zero-length docs exist in real corpora: ANSI mode turns the
      // unguarded divide into a job-killing error at scale
      .withColumn("punct_ratio",
        when(col("n_chars_m") > 0,
          col("punct_cnt").cast(DoubleType) / col("n_chars_m").cast(DoubleType))
          .otherwise(0.0))
      .withColumn("stop_ratio", col("stop_cnt").cast(DoubleType) / col("n_words").cast(DoubleType))
      .withColumn("quality",
        least(lit(1.0), col("n_words").cast(DoubleType) / 200.0) * 0.4
          + (lit(1.0) - col("punct_ratio")) * 0.3
          + least(lit(1.0), col("stop_ratio") * 10.0) * 0.3)

  private val docQualityScore: Q = (s, d) =>
    qualityScored(s, d)
      .select(col("doc_id"), col("n_chars_m"), col("n_words"), col("punct_cnt"),
        col("stop_cnt"), col("punct_ratio"), col("stop_ratio"), col("quality"))
      .orderBy(col("doc_id"))

  private val docQualityScoreSql = s"""
    WITH base AS (
      SELECT doc_id, text, ' ' || lower(text) || ' ' AS padded,
        length(text) AS n_chars_m,
        len(string_split_regex(trim(text), '\\s+')) AS n_words,
        length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt,
        ${occSql(" the ")} + ${occSql(" a ")} AS stop_cnt
      FROM documents),
    ratios AS (
      SELECT doc_id, n_chars_m, n_words, punct_cnt, stop_cnt,
        CASE WHEN n_chars_m > 0
             THEN CAST(punct_cnt AS DOUBLE) / CAST(n_chars_m AS DOUBLE)
             ELSE 0.0 END AS punct_ratio,
        CAST(stop_cnt AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio
      FROM base)
    SELECT doc_id, n_chars_m, n_words, punct_cnt, stop_cnt,
      punct_ratio, stop_ratio,
      LEAST(1.0, CAST(n_words AS DOUBLE) / 200.0) * 0.4
        + (1.0 - punct_ratio) * 0.3
        + LEAST(1.0, stop_ratio * 10.0) * 0.3 AS quality
    FROM ratios
    ORDER BY doc_id"""

  // --------------------------------------------------- doc_token_count
  // Token counting: whitespace tokens and a BPE-ish regex
  // (letter-runs | digit-runs | single punctuation).
  private val tokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  private val docTokenCount: Q = (s, d) =>
    documents(s, d)
      .withColumn("ws_tokens", size(split(trim(col("text")), "\\s+")))
      .withColumn("re_tokens", regexp_count(col("text"), lit(tokenRe)))
      .select(col("doc_id"), col("ws_tokens"), col("re_tokens"),
        length(col("text")).as("n_chars_m"))
      .orderBy(col("doc_id"))

  private val docTokenCountSql = s"""
    SELECT doc_id,
      len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
      len(regexp_extract_all(text, '$tokenRe')) AS re_tokens,
      length(text) AS n_chars_m
    FROM documents
    ORDER BY doc_id"""

  // --------------------------------------------------- doc_hash_split
  // Deterministic train/val/test split: bucket = first 8 hex chars of
  // md5(doc_id ‖ salt) mod 100 → 90/5/5. THE way to split a 100 TB
  // corpus: stable under re-runs, partition order, and corpus growth
  // (a document's split never changes when others are added), no RNG
  // state anywhere. Pure scan-level projection + one aggregate.
  // The rule lives in ONE place per engine (splitDf / splitBucketSql):
  // doc_contamination partitions by the same rule, and a drifted copy
  // would silently check contamination against a different split.
  /** The split-bucket rule over an arbitrary key column — doc-level
    * callers pass doc_id; doc_leakage_safe_split passes the near-dup
    * CLUSTER representative so whole clusters move between splits as
    * one unit (for a singleton the cluster IS the doc_id, so the two
    * rules agree wherever leakage is impossible).
    */
  def splitBucket(key: Column): Column =
    conv(substring(md5(concat(key.cast("string"), lit("|graft-split-v1"))), 1, 8), 16, 10)
      .cast("long") % 100

  def splitName(bucket: Column): Column =
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")

  def splitDf(docs: DataFrame): DataFrame =
    docs
      .withColumn("bucket", splitBucket(col("doc_id")))
      .withColumn("split", splitName(col("bucket")))

  def splitBucketSqlOf(key: String): String =
    s"CAST(('0x' || substr(md5(CAST($key AS VARCHAR) || '|graft-split-v1'), 1, 8)) AS BIGINT) % 100"
  val splitBucketSql: String = splitBucketSqlOf("doc_id")
  val splitCaseSql: String =
    "CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END"

  private val docHashSplit: Q = (s, d) =>
    splitDf(documents(s, d))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("split"))

  private val docHashSplitSql = s"""
    WITH b AS (
      SELECT doc_id, $splitBucketSql AS bucket
      FROM documents)
    SELECT $splitCaseSql AS split,
      COUNT(*) AS n_docs,
      MIN(doc_id) AS min_doc_id,
      MAX(doc_id) AS max_doc_id
    FROM b
    GROUP BY 1
    ORDER BY 1"""

  // --------------------------------------------------- doc_top_tokens
  // Corpus vocabulary: global top-N tokens by term frequency with
  // document frequency alongside — the vocabulary/stopword-discovery
  // pass of a pretraining pipeline. One explode + one hash-aggregate
  // (map-side partials over high-cardinality token keys) + a bounded
  // global top-N (TakeOrderedAndProject, never a full sort).
  private val docTopTokens: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(50)

  private val docTopTokensSql = """
    WITH tok AS (
      SELECT doc_id,
        unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      FROM documents)
    SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM tok
    GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 50"""

  // --------------------------------------------------- doc_heavy_hitters
  // Exact corpus heavy hitters (tokens with tf > n/200) found WITHOUT
  // shuffling the vocabulary: pass 1 is one Misra–Gries sketch
  // aggregate (≤ 200 counters per partition partial, mergeable, a
  // guaranteed superset of every true heavy hitter — see the
  // MisraGries scaladoc), pass 2 broadcast-joins the ≤ 200 candidates
  // back and recounts them exactly. At 100 TB this is the difference
  // between shuffling billions of distinct n-gram keys and shuffling
  // 200·partitions counters; the sketch is a prefilter, so the final
  // answer (and the DuckDB oracle) is exact SQL, not an estimate.
  // doc_top_tokens answers "the global tf ranking" (full vocabulary
  // aggregate); this answers "who exceeds a frequency share" with
  // bounded memory.
  private val HhK = 200

  private val docHeavyHitters: Q = (s, d) => {
    val tok = documents(s, d)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
    val sketch = tok
      .agg(graft.functions.expressions.GraftFunctions.misraGries(col("token"), HhK).as("sk"))
      .select(col("sk.n").as("n"), explode(col("sk.candidates")).as("token"))
    val exact = tok
      .join(broadcast(sketch.select(col("n"), col("token"))), Seq("token"))
      .groupBy(col("token"), col("n"))
      .agg(count(lit(1)).as("tf"))
    exact
      .filter(col("tf") * HhK > col("n"))
      .select(col("token"), col("tf"),
        (col("tf").cast(DoubleType) / col("n").cast(DoubleType)).as("share"))
      .orderBy(col("tf").desc, col("token"))
  }

  private val docHeavyHittersSql = s"""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM tok)
    SELECT token, COUNT(*) AS tf,
      CAST(COUNT(*) AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE) AS share
    FROM tok
    GROUP BY token
    HAVING COUNT(*) * $HhK > (SELECT n FROM tot)
    ORDER BY tf DESC, token"""

  // --------------------------------------------------- doc_dist_drift
  // Token-distribution drift between the train and val splits — the
  // "did this slice come from the same distribution" audit a pipeline
  // runs when a new crawl lands or a split rule changes: per-token
  // KL-divergence contribution p·ln(p/q) under Laplace smoothing
  // (p = train, q = val), reporting the top-20 drift tokens by
  // |contribution|. Per-token math only — NEVER a cross-token double
  // sum, whose fold order would differ between engines; the total KL
  // is the consumer's trivial reduction of the full per-token frame.
  // One conditional aggregate computes both splits' tf in one pass
  // over the tokenized scan; the three scalars (totals + vocab) ride
  // back on a broadcast one-row frame; top-20 is a bounded
  // TakeOrderedAndProject.
  private val docDistDrift: Q = (s, d) => {
    val tok = splitDf(documents(s, d))
      .filter(col("split").isin("train", "val"))
      .select(col("split"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
    val counts = tok.groupBy(col("token"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("tf_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("tf_val"))
    val totals = counts.agg(sum(col("tf_train")).as("n_train"),
      sum(col("tf_val")).as("n_val"), count(lit(1)).as("vocab"))
    val p = (col("tf_train") + 1).cast(DoubleType) /
      (col("n_train") + col("vocab")).cast(DoubleType)
    val q = (col("tf_val") + 1).cast(DoubleType) /
      (col("n_val") + col("vocab")).cast(DoubleType)
    counts.crossJoin(broadcast(totals))
      .select(col("token"), col("tf_train"), col("tf_val"),
        round(p, 8).as("p_train"), round(q, 8).as("p_val"),
        round(p * log(p / q), 8).as("kl_contrib"))
      .orderBy(abs(col("kl_contrib")).desc, col("token"))
      .limit(20)
  }

  private val docDistDriftSql = """
    WITH tok AS (
      SELECT CASE WHEN b < 90 THEN 'train' ELSE 'val' END AS split,
        unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      FROM (SELECT text,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft-split-v1'), 1, 8)) AS BIGINT) % 100 AS b
        FROM documents)
      WHERE b < 95),
    counts AS (
      SELECT token,
        CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS tf_train,
        CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS tf_val
      FROM tok GROUP BY token),
    totals AS (
      SELECT CAST(SUM(tf_train) AS BIGINT) AS n_train,
        CAST(SUM(tf_val) AS BIGINT) AS n_val, COUNT(*) AS vocab
      FROM counts)
    SELECT token, tf_train, tf_val,
      ROUND(CAST(tf_train + 1 AS DOUBLE) / CAST(n_train + vocab AS DOUBLE), 8) AS p_train,
      ROUND(CAST(tf_val + 1 AS DOUBLE) / CAST(n_val + vocab AS DOUBLE), 8) AS p_val,
      ROUND((CAST(tf_train + 1 AS DOUBLE) / CAST(n_train + vocab AS DOUBLE))
        * LN((CAST(tf_train + 1 AS DOUBLE) / CAST(n_train + vocab AS DOUBLE))
            / (CAST(tf_val + 1 AS DOUBLE) / CAST(n_val + vocab AS DOUBLE))), 8) AS kl_contrib
    FROM counts, totals
    ORDER BY abs(kl_contrib) DESC, token
    LIMIT 20"""

  // ---------------------------------------------- doc_repetition_stats
  // Repetition-based quality filter, the published pretraining rule
  // family (Gopher/MassiveText heuristics): the share of all word
  // bigrams taken by the single most frequent one, plus the distinct-
  // word ratio — repetitive/boilerplate docs spike the former and
  // crater the latter. Distributed shape: explode bigrams → one hash
  // aggregate on (doc, bigram) → per-doc top-1 (max_by) → join back to
  // scan-level word stats. Flag thresholds are the Gopher ballpark.
  private val docRepetitionStats: Q = (s, d) => {
    val words = documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
    val wordStats = words.select(col("doc_id"),
      size(col("words")).as("n_words"),
      size(array_distinct(col("words"))).as("n_distinct"))
    val topBigram = words
      // a single-word doc has no bigrams: two-arg sequence(0,-1) would
      // step BACKWARD to [0,-1] and emit null bigram rows, where the
      // oracle's range(1,1) is empty — drop such docs up front (the
      // inner join below drops them on the oracle side)
      .where(size(col("words")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(words)-2), i -> concat(words[i], ' ', words[i+1]))")).as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(max(col("tf")).as("top_bigram_tf"),
        expr("max_by(bigram, struct(tf, bigram))").as("top_bigram"))
    wordStats.join(topBigram, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        col("top_bigram"), col("top_bigram_tf"),
        (col("top_bigram_tf").cast(DoubleType) /
          (col("n_words") - 1).cast(DoubleType)).as("top_bigram_frac"),
        (col("n_distinct").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("distinct_ratio"))
      .withColumn("repetitive",
        col("top_bigram_frac") > 0.18 || col("distinct_ratio") < 0.3)
      .orderBy(col("doc_id"))
  }

  private val docRepetitionStatsSql = """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
      FROM documents),
    ws AS (
      SELECT doc_id, len(words) AS n_words,
        len(list_distinct(words)) AS n_distinct
      FROM w),
    bg AS (
      SELECT doc_id,
        unnest(list_transform(range(1, len(words)),
          i -> words[CAST(i AS INT)] || ' ' || words[CAST(i AS INT) + 1])) AS bigram
      FROM w),
    tf AS (
      SELECT doc_id, bigram, COUNT(*) AS tf FROM bg GROUP BY 1, 2),
    top AS (
      SELECT doc_id, tf AS top_bigram_tf, bigram AS top_bigram
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY tf DESC, bigram DESC) AS rn FROM tf)
      WHERE rn = 1)
    SELECT ws.doc_id, ws.n_words, ws.n_distinct,
      top.top_bigram, top.top_bigram_tf,
      CAST(top.top_bigram_tf AS DOUBLE) / CAST(ws.n_words - 1 AS DOUBLE) AS top_bigram_frac,
      CAST(ws.n_distinct AS DOUBLE) / CAST(ws.n_words AS DOUBLE) AS distinct_ratio,
      (CAST(top.top_bigram_tf AS DOUBLE) / CAST(ws.n_words - 1 AS DOUBLE)) > 0.18
        OR (CAST(ws.n_distinct AS DOUBLE) / CAST(ws.n_words AS DOUBLE)) < 0.3 AS repetitive
    FROM ws JOIN top ON top.doc_id = ws.doc_id
    ORDER BY ws.doc_id"""

  // ---------------------------------------------- doc_quality_histogram
  // Pipeline observability: document counts per (predicted language ×
  // quality decile) — the dashboard a 100 TB cleaning job is steered
  // by. Composes the lang-ID and quality stages in one plan.
  private val docQualityHistogram: Q = (s, d) => {
    // one scan: stack both stages on the same frame (the
    // doc_pipeline_filter composition) — scan + self-join on doc_id
    // would read the table twice and shuffle the whole corpus by id
    qualityScoredDf(langScoredDf(documents(s, d)))
      .withColumn("quality_decile",
        least(floor(col("quality") * 10).cast("long"), lit(9L)))
      .groupBy(col("pred_lang"), col("quality_decile"))
      .agg(count(lit(1)).as("n_docs"),
        // exact decimal sum (order-independent) before the divide —
        // a raw double AVG would drift by ulps across partitionings
        round((sum(col("quality").cast(org.apache.spark.sql.types.DecimalType(28, 15)))
          .cast(DoubleType) / count(lit(1))), 6).as("avg_quality"))
      .orderBy(col("pred_lang"), col("quality_decile"))
  }

  // lazy: langPredSql/qualitySql are declared below (object-init order)
  private lazy val docQualityHistogramSql = s"""
    WITH lang AS ($langPredSql),
    qual AS ($qualitySql),
    j AS (
      SELECT l.pred_lang,
        LEAST(CAST(FLOOR(q.quality * 10) AS BIGINT), 9) AS quality_decile,
        q.quality
      FROM lang l JOIN qual q ON q.doc_id = l.doc_id)
    SELECT pred_lang, quality_decile, COUNT(*) AS n_docs,
      ROUND(CAST(SUM(CAST(quality AS DECIMAL(28,15))) AS DOUBLE) / COUNT(*), 6) AS avg_quality
    FROM j
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  // --------------------------------------------------- mm_binary_meta
  // Multimodal plumbing: materialize an opaque binary column (UTF-8
  // bytes of the text — in production: image/audio payloads) plus
  // typed metadata: byte length, leading-bytes magic, multibyte flag.
  private val mmBinaryMeta: Q = (s, d) =>
    documents(s, d)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("byte_len"),
        substring(hex(col("payload")), 1, 8).as("magic_hex"),
        length(col("text")).as("n_chars_utf8"),
        (octet_length(col("payload")) > length(col("text"))).as("is_multibyte"))
      .orderBy(col("doc_id"))

  private val mmBinaryMetaSql = """
    SELECT doc_id,
      octet_length(encode(text)) AS byte_len,
      substr(hex(encode(text)), 1, 8) AS magic_hex,
      length(text) AS n_chars_utf8,
      octet_length(encode(text)) > length(text) AS is_multibyte
    FROM documents
    ORDER BY doc_id"""

  // ---------------------------------------------------- mm_exact_dedup
  // Byte-exact payload dedup — the first stage of every multimodal
  // pipeline (identical images/audio recur massively in web crawls;
  // dedup by payload digest BEFORE any decode spends compute). Same
  // single hash-aggregate shape as doc_exact_dedup, keyed on the md5
  // of the binary payload rather than the text: the payload never
  // shuffles, only its 16-byte digest does.
  private val mmExactDedup: Q = (s, d) =>
    documents(s, d)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .groupBy(md5(col("payload")).as("payload_md5"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        max(octet_length(col("payload"))).as("byte_len"))
      .orderBy(col("keep_id"))

  // DuckDB's md5 takes VARCHAR and hashes its UTF-8 bytes — exactly
  // the payload digest Spark computes over encode(text, 'UTF-8')
  private val mmExactDedupSql = """
    SELECT md5(text) AS payload_md5,
      MIN(doc_id) AS keep_id,
      COUNT(*) AS n_copies,
      MAX(octet_length(encode(text))) AS byte_len
    FROM documents
    GROUP BY 1
    ORDER BY keep_id"""

  /** CTE-ready oracle SQL of the language stage: (doc_id, pred_lang).
    * Same expression shapes as docLangIdSql (hash-match proven). */
  val langPredSql: String = {
    val scores = langStops.map { case (l, ws) =>
      ws.map(occSql).mkString(" + ") + s" AS score_$l"
    }.mkString(",\n          ")
    s"""SELECT doc_id,
      CASE WHEN cjk > 0 THEN 'zh'
           WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
           WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
           WHEN score_fr >= score_es THEN 'fr'
           ELSE 'es' END AS pred_lang
    FROM (
      SELECT doc_id, cjk,
          $scores
      FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS padded,
              len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk
            FROM documents))"""
  }

  /** CTE-ready oracle SQL of the quality stage: (doc_id, quality).
    * Same expression shapes as docQualityScoreSql. */
  val qualitySql: String = s"""SELECT doc_id,
      LEAST(1.0, CAST(n_words AS DOUBLE) / 200.0) * 0.4
        + (1.0 - CASE WHEN n_chars_m > 0
                      THEN CAST(punct_cnt AS DOUBLE) / CAST(n_chars_m AS DOUBLE)
                      ELSE 0.0 END) * 0.3
        + LEAST(1.0, CAST(stop_cnt AS DOUBLE) / CAST(n_words AS DOUBLE) * 10.0) * 0.3 AS quality
    FROM (SELECT doc_id, length(text) AS n_chars_m,
            len(string_split_regex(trim(text), '\\s+')) AS n_words,
            length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt,
            ${occSql(" the ")} + ${occSql(" a ")} AS stop_cnt
          FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS padded FROM documents))"""

  // ------------------------------------------------------ doc_seq_pack
  // Sequence packing — the "concatenate and chunk" step that turns a
  // cleaned corpus into fixed-length training sequences: docs are laid
  // out end-to-end in deterministic order inside each shard, and every
  // doc learns which packed sequence (and offset) its tokens start at.
  // Distributed shape: one shuffle by shard (a shard stands in for an
  // output partition/file at 100 TB), one running-sum window inside the
  // shard, then pure projection — no global ordering anywhere.
  private val seqBudget = 512

  /** The packing layout frame (doc_id, shard, n_tokens, start_off,
    * seq_id, seq_off) — shared by the pack query and its efficiency
    * audit so both describe the SAME layout.
    */
  private def seqPackFrame(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .withColumn("shard", col("doc_id") % 8)
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
      .withColumn("start_off",
        coalesce(sum(col("n_tokens").cast("long")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("start_off"),
        expr(s"start_off div $seqBudget").as("seq_id"),
        (col("start_off") % seqBudget).as("seq_off"))
  }

  private val docSeqPack: Q = (s, d) =>
    seqPackFrame(documents(s, d)).orderBy(col("doc_id"))

  // ------------------------------------------------ doc_pack_efficiency
  // Packing-efficiency audit over the SAME layout frame as
  // doc_seq_pack — the report a pipeline publishes before committing
  // to a sequence budget: per shard, how many documents straddle a
  // sequence boundary (their tokens split across training sequences —
  // the rows whose attention masking needs care), and how full the
  // shard's sequences are (concatenate-and-chunk wastes only the tail
  // of the LAST sequence, so fill ≈ 1 − waste/(n_seqs·budget)).
  // Fragmentation rate is THE lever for choosing the budget: a larger
  // budget cuts fragment count but wastes more tail. One aggregate
  // over the shared frame — same single shard shuffle as the pack.
  private val docPackEfficiency: Q = (s, d) =>
    seqPackFrame(documents(s, d))
      .withColumn("straddles", col("n_tokens") > 0 &&
        expr(s"(start_off + n_tokens - 1) div $seqBudget") =!= col("seq_id"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        count(when(col("straddles"), 1)).as("straddling_docs"))
      .withColumn("n_seqs",
        expr(s"(total_tokens + ${seqBudget - 1}) div $seqBudget"))
      .withColumn("frag_rate",
        round(col("straddling_docs").cast(DoubleType) / col("n_docs").cast(DoubleType), 6))
      .withColumn("fill_rate",
        round(col("total_tokens").cast(DoubleType)
          / (col("n_seqs") * seqBudget).cast(DoubleType), 6))
      .orderBy(col("shard"))

  private val docPackEfficiencySql = s"""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS shard,
        len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents),
    o AS (
      SELECT doc_id, shard, n_tokens,
        COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS start_off
      FROM t),
    f AS (
      SELECT shard, n_tokens,
        n_tokens > 0 AND
          (start_off + n_tokens - 1) // $seqBudget <> start_off // $seqBudget
          AS straddles
      FROM o),
    agg AS (
      SELECT shard, COUNT(*) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        COUNT(CASE WHEN straddles THEN 1 END) AS straddling_docs
      FROM f GROUP BY 1)
    SELECT shard, n_docs, total_tokens, straddling_docs,
      (total_tokens + ${seqBudget - 1}) // $seqBudget AS n_seqs,
      ROUND(CAST(straddling_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS frag_rate,
      ROUND(CAST(total_tokens AS DOUBLE)
        / CAST(((total_tokens + ${seqBudget - 1}) // $seqBudget) * $seqBudget AS DOUBLE), 6)
        AS fill_rate
    FROM agg
    ORDER BY shard"""

  private val docSeqPackSql = s"""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS shard,
        len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents),
    o AS (
      SELECT doc_id, shard, n_tokens,
        COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS start_off
      FROM t)
    SELECT doc_id, shard, n_tokens, start_off,
      start_off // $seqBudget AS seq_id,
      start_off % $seqBudget AS seq_off
    FROM o
    ORDER BY doc_id"""

  // -------------------------------------------------- doc_contamination
  // Train/test contamination check: for every train document, the
  // fraction of its distinct word-8-grams that also occur anywhere in
  // the held-out test split (the published eval-decontamination rule
  // family). Distributed shape: one gram explode per side, an equi-join
  // on the 60-bit gram hash (never on gram text), one hash-aggregate
  // per train doc. Gram hashing is md5-prefix based so DuckDB replays
  // it bit-exactly; the split rule is doc_hash_split's.
  /** The contamination gram stage — (doc_id, split, gram) with one
    * row per distinct word-8-gram per document; shared by
    * doc_contamination and doc_bloom_prefilter.
    */
  def contaminationGrams(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    splitDf(docs)
      .withColumn("words", split(trim(col("text")), "\\s+"))
      // guard: <8 words → no 8-grams (two-arg sequence would step backward)
      .where(size(col("words")) >= 8)
      .select(col("doc_id"), col("split"), explode(expr(
        "array_distinct(transform(sequence(0, size(words)-8), " +
          "i -> cast(conv(substring(md5(array_join(slice(words, i+1, 8), ' ')), 1, 15), 16, 10) AS BIGINT)))"))
        .as("gram"))

  private val docContamination: Q = (s, d) => {
    val grams = contaminationGrams(documents(s, d))
    val testGrams = grams.where(col("split") === "test")
      .select(col("gram")).distinct().withColumn("hit", lit(1))
    grams.where(col("split") === "train")
      .join(testGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("hit")), lit(0)).cast("long").as("n_matched"))
      .select(col("doc_id"), col("n_grams"), col("n_matched"),
        round(col("n_matched").cast(DoubleType) / col("n_grams").cast(DoubleType), 6)
          .as("overlap_frac"),
        (col("n_matched").cast(DoubleType) / col("n_grams").cast(DoubleType) >= 0.1)
          .as("contaminated"))
      .orderBy(col("doc_id"))
  }

  private val docContaminationSql = s"""
    WITH w AS (
      SELECT doc_id, $splitBucketSql AS bucket,
        string_split_regex(trim(text), '\\s+') AS words
      FROM documents),
    g AS (
      SELECT doc_id, $splitCaseSql AS split,
        unnest(list_distinct(list_transform(range(0, len(words) - 7),
          i -> CAST(('0x' || substr(md5(array_to_string(words[CAST(i AS INT) + 1:CAST(i AS INT) + 8], ' ')), 1, 15)) AS BIGINT)))) AS gram
      FROM w
      WHERE len(words) >= 8),
    t AS (SELECT DISTINCT gram FROM g WHERE split = 'test')
    SELECT g.doc_id, COUNT(*) AS n_grams,
      CAST(SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      ROUND(CAST(SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS overlap_frac,
      CAST(SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.1 AS contaminated
    FROM g LEFT JOIN t ON t.gram = g.gram
    WHERE g.split = 'train'
    GROUP BY g.doc_id
    ORDER BY g.doc_id"""

  // ---------------------------------------------- doc_bloom_prefilter
  // doc_contamination's 100 TB form: the held-out split's gram set
  // builds ONE bloom filter (a few MB, broadcast), and train-side grams
  // probe it BEFORE the exact equi-join — at scale almost every gram of
  // an uncontaminated corpus is dropped at the scan, so the shuffle
  // carries only probable hits. Blooms have no false negatives and the
  // exact join removes the false positives, so the result is provably
  // identical to doc_contamination — it shares that oracle verbatim
  // (and BloomSpec asserts row-level equality of the two plans).
  private val docBloomPrefilter: Q = (s, d) => {
    import graft.functions.expressions.GraftFunctions
    val grams = contaminationGrams(documents(s, d))
    val testGrams = grams.where(col("split") === "test").select(col("gram")).distinct()
    // the built filter is a bounded ~1 MB byte array — materialize it
    // once and inline it as a constant (might_contain requires a
    // constant/scalar-subquery bloom; same driver-side small-side
    // pattern as the IVF centroids)
    val bf: Array[Byte] = testGrams
      .agg(GraftFunctions.bloomAgg(col("gram")).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val train = grams.where(col("split") === "train")
    val counts = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val matched = train
      .where(GraftFunctions.bloomContains(lit(bf), col("gram")))
      .join(testGrams, Seq("gram"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    counts.join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_matched"),
        round(coalesce(col("n_hit"), lit(0L)).cast(DoubleType) /
          col("n_grams").cast(DoubleType), 6).as("overlap_frac"),
        (coalesce(col("n_hit"), lit(0L)).cast(DoubleType) /
          col("n_grams").cast(DoubleType) >= 0.1).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------- doc_incremental_dedup
  // Incremental-ingest dedup — the daily reality of a 100 TB corpus:
  // a NEW batch (here: the top 20% of doc ids) is deduped against the
  // EXISTING corpus without reprocessing it. Every new doc is
  // classified dup_of_existing (content hash already in the corpus
  // index), dup_in_batch (an earlier new doc has the same hash), or
  // unique. Shape: the existing side collapses to (16-byte hash →
  // min id) — the persisted dedup index — then one equi-join on the
  // hash + one window inside the new batch; the existing TEXT is
  // never re-read past its hash.
  private val docIncrementalDedup: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("content_key"))
    val cut = documents(s, d).agg(expr("(max(doc_id)*4) div 5").as("cutoff"))
    val tagged = documents(s, d).crossJoin(broadcast(cut))
      .withColumn("content_key", md5(col("text")))
    val existing = tagged.where(col("doc_id") < col("cutoff"))
      .groupBy(col("content_key")).agg(min(col("doc_id")).as("existing_match"))
    tagged.where(col("doc_id") >= col("cutoff"))
      .withColumn("batch_min", min(col("doc_id")).over(w))
      .join(existing, Seq("content_key"), "left")
      .select(col("doc_id"),
        when(col("existing_match").isNotNull, "dup_of_existing")
          .when(col("batch_min") < col("doc_id"), "dup_in_batch")
          .otherwise("unique").as("status"),
        coalesce(col("existing_match"),
          when(col("batch_min") < col("doc_id"), col("batch_min"))).as("match_doc_id"))
      .orderBy(col("doc_id"))
  }

  private val docIncrementalDedupSql = """
    WITH c AS (SELECT MAX(doc_id) * 4 // 5 AS cutoff FROM documents),
    t AS (SELECT doc_id, md5(text) AS content_key, cutoff FROM documents, c),
    e AS (SELECT content_key, MIN(doc_id) AS existing_match
          FROM t WHERE doc_id < cutoff GROUP BY 1),
    n AS (SELECT doc_id, content_key,
            MIN(doc_id) OVER (PARTITION BY content_key) AS batch_min
          FROM t WHERE doc_id >= cutoff)
    SELECT n.doc_id,
      CASE WHEN e.existing_match IS NOT NULL THEN 'dup_of_existing'
           WHEN n.batch_min < n.doc_id THEN 'dup_in_batch'
           ELSE 'unique' END AS status,
      COALESCE(e.existing_match,
        CASE WHEN n.batch_min < n.doc_id THEN n.batch_min END) AS match_doc_id
    FROM n LEFT JOIN e ON e.content_key = n.content_key
    ORDER BY n.doc_id"""

  // ------------------------------------------------------- doc_shuffle
  // Deterministic corpus shuffle: every doc gets a keyed-hash shuffle
  // key, an output bucket (= target partition/file at 100 TB), and a
  // position inside that bucket — stable under re-runs, input
  // partitioning, and corpus growth (a new doc displaces only its own
  // bucket's tail, never reshuffles the world). Shape: one shuffle by
  // bucket + a per-bucket window; there is deliberately NO global
  // order — the bucket decomposition is what makes the op scale.
  private val docShuffle: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("shuffle_key"), col("doc_id"))
    documents(s, d)
      .withColumn("shuffle_key",
        md5(concat(col("doc_id").cast("string"), lit("|graft-shuffle-v1"))))
      .withColumn("bucket",
        conv(substring(col("shuffle_key"), 1, 8), 16, 10).cast("long") % 16)
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("bucket"), col("pos"))
      .orderBy(col("bucket"), col("pos"))
  }

  private val docShuffleSql = """
    WITH h AS (
      SELECT doc_id,
        md5(CAST(doc_id AS VARCHAR) || '|graft-shuffle-v1') AS shuffle_key
      FROM documents),
    b AS (
      SELECT doc_id, shuffle_key,
        CAST(('0x' || substr(shuffle_key, 1, 8)) AS BIGINT) % 16 AS bucket
      FROM h)
    SELECT doc_id, bucket,
      ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY shuffle_key, doc_id) AS pos
    FROM b
    ORDER BY bucket, pos"""

  // ------------------------------------------------------ doc_pii_scrub
  // PII scrubbing: count and redact emails/URLs in one scan-level
  // projection (regexp_count + chained regexp_replace — codegen'd, no
  // UDF). The synthetic corpus contains no PII, so a deterministic
  // doc_id-keyed suffix injects known matches first — documented test
  // scaffolding, identical on the oracle side; the md5 of the scrubbed
  // body proves the replacements (not just the counts) agree.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlRe = "https?://[A-Za-z0-9./_-]+"
  private val docPiiScrub: Q = (s, d) =>
    documents(s, d)
      .withColumn("body", concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.org now"))).otherwise(""),
        when(col("doc_id") % 7 === 0,
          concat(lit(" docs at https://example.com/d/"), col("doc_id"), lit(" ok"))).otherwise("")))
      .select(col("doc_id"),
        regexp_count(col("body"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("body"), lit(urlRe)).cast("long").as("n_urls"),
        md5(regexp_replace(regexp_replace(col("body"), urlRe, "<URL>"), emailRe, "<EMAIL>"))
          .as("scrub_md5"))
      .orderBy(col("doc_id"))

  private val docPiiScrubSql = s"""
    WITH b AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.org now' ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN ' docs at https://example.com/d/' || doc_id || ' ok' ELSE '' END AS body
      FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(body, '$emailRe')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(body, '$urlRe')) AS BIGINT) AS n_urls,
      md5(regexp_replace(regexp_replace(body, '$urlRe', '<URL>', 'g'), '$emailRe', '<EMAIL>', 'g')) AS scrub_md5
    FROM b
    ORDER BY doc_id"""

  // ------------------------------------------- doc_stratified_sample
  // Stratified downsampling: each language stratum keeps a configured
  // fraction, decided per document by a salted hash threshold — the
  // language-rebalancing pass of a pretraining mix. No global or
  // per-stratum counts are needed to DECIDE membership (contrast
  // exact-fraction samplers, which need a count-then-take pass): the
  // keep/drop rule is a pure scan-level projection, stable under
  // re-runs, partition order, and corpus growth, so at 100 TB the
  // sample is reproducible and the op costs one scan + one map-side-
  // combinable aggregate for the audit summary.
  private val sampleRates: Seq[(String, Int)] = Seq(
    // permyriad (out of 10 000) keep-rates per stratum
    "en" -> 2500, "de" -> 5000, "fr" -> 5000, "es" -> 7500, "zh" -> 10000)

  private val docStratifiedSample: Q = (s, d) => {
    val rate = sampleRates.foldLeft(lit(10000)) { case (e, (l, r)) =>
      when(col("lang") === l, r).otherwise(e)
    }
    documents(s, d)
      .withColumn("sample_bucket",
        conv(substring(md5(concat(col("doc_id").cast("string"), lit("|graft-sample-v1"))), 1, 8), 16, 10)
          .cast("long") % 10000)
      .withColumn("kept", col("sample_bucket") < rate)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        min(when(col("kept"), col("doc_id"))).as("min_kept_id"),
        max(when(col("kept"), col("doc_id"))).as("max_kept_id"))
      .withColumn("kept_frac",
        col("n_kept").cast(DoubleType) / col("n_total").cast(DoubleType))
      .orderBy(col("lang"))
  }

  private val docStratifiedSampleSql = {
    val rateCase = sampleRates.map { case (l, r) =>
      s"WHEN lang = '$l' THEN $r"
    }.mkString("CASE ", " ", " ELSE 10000 END")
    s"""
    WITH b AS (
      SELECT doc_id, lang,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft-sample-v1'), 1, 8)) AS BIGINT) % 10000
          < $rateCase AS kept
      FROM documents)
    SELECT lang,
      COUNT(*) AS n_total,
      CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      MIN(CASE WHEN kept THEN doc_id END) AS min_kept_id,
      MAX(CASE WHEN kept THEN doc_id END) AS max_kept_id,
      CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS kept_frac
    FROM b
    GROUP BY 1
    ORDER BY 1"""
  }

  // -------------------------------------- doc_quality_quantile_filter
  // Per-stratum quantile gating: drop every document below its
  // language's 25th-percentile quality score. The thresholds table is
  // |languages| rows — an aggregate that collapses to almost nothing —
  // and joins back by broadcast, so the plan is scan → tiny agg →
  // broadcast-join → filter: no global sort, no per-group window over
  // the corpus. Quality is discretized to integer micro-units BEFORE
  // the percentile so the interpolation ((1-f)·a + f·b with integer
  // a,b and f a multiple of 0.25) is exact binary arithmetic — the
  // threshold is bit-identical in any engine and the boundary compare
  // cannot flap. At 100 TB the same plan runs with approx_percentile
  // (mergeable sketch, no sort); exact percentile here is the
  // verifiable gate form (same pairing as q16/q18).
  private val docQualityQuantileFilter: Q = (s, d) => {
    val scored = qualityScoredDf(documents(s, d))
      .withColumn("micro_q", round(col("quality") * 1e6, 0).cast("long"))
    val thresholds = scored
      .groupBy(col("lang"))
      .agg(expr("percentile(micro_q, 0.25)").as("q25_micro"),
        count(lit(1)).as("n_lang"))
    scored
      .join(broadcast(thresholds), Seq("lang"))
      .where(col("micro_q").cast(DoubleType) >= col("q25_micro"))
      .select(col("doc_id"), col("lang"), col("micro_q"),
        col("q25_micro"), col("n_lang"))
      .orderBy(col("doc_id"))
  }

  private val docQualityQuantileFilterSql = s"""
    WITH base AS (
      SELECT doc_id, lang, text, ' ' || lower(text) || ' ' AS padded,
        length(text) AS n_chars_m,
        len(string_split_regex(trim(text), '\\s+')) AS n_words,
        length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt,
        ${occSql(" the ")} + ${occSql(" a ")} AS stop_cnt
      FROM documents),
    ratios AS (
      SELECT doc_id, lang, n_words,
        CASE WHEN n_chars_m > 0
             THEN CAST(punct_cnt AS DOUBLE) / CAST(n_chars_m AS DOUBLE)
             ELSE 0.0 END AS punct_ratio,
        CAST(stop_cnt AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio
      FROM base),
    scored AS (
      SELECT doc_id, lang,
        CAST(round((LEAST(1.0, CAST(n_words AS DOUBLE) / 200.0) * 0.4
          + (1.0 - punct_ratio) * 0.3
          + LEAST(1.0, stop_ratio * 10.0) * 0.3) * 1e6, 0) AS BIGINT) AS micro_q
      FROM ratios),
    thresholds AS (
      SELECT lang, quantile_cont(micro_q, 0.25) AS q25_micro,
        COUNT(*) AS n_lang
      FROM scored
      GROUP BY 1)
    SELECT s.doc_id, s.lang, s.micro_q, t.q25_micro, t.n_lang
    FROM scored s JOIN thresholds t USING (lang)
    WHERE CAST(s.micro_q AS DOUBLE) >= t.q25_micro
    ORDER BY s.doc_id"""

  // ------------------------------------------- doc_unigram_logprob
  // Unigram LM scoring — the perplexity-proxy quality filter (CCNet
  // lineage): token log-probabilities from the corpus's own unigram
  // frequencies, averaged per document; low avg_logprob = improbable
  // token soup, high = boilerplate-probable text. Distributed shape:
  // one explode + one hash-aggregate builds the vocab (bounded by
  // distinct tokens, NOT corpus size), broadcast back onto the token
  // stream — the corpus text shuffles zero times. Log sums run through
  // DECIMAL(28,15) so the per-doc mean is order-independent; exp() at
  // the end is rounded like every cross-engine pow.
  private val docUnigramLogprob: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks
      .join(broadcast(vocab), Seq("tok"))
      .crossJoin(broadcast(total))
      .withColumn("lp",
        log(col("tf").cast(DoubleType) / col("n_total").cast(DoubleType)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("lp").cast(DecimalType(28, 15))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("avg_lp"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_lp"), 6).as("avg_logprob"),
        round(exp(negate(col("avg_lp"))), 4).as("ppl_proxy"))
      .orderBy(col("doc_id"))
  }

  private val docUnigramLogprobSql = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents),
    vocab AS (
      SELECT tok, COUNT(*) AS tf FROM toks GROUP BY 1),
    total AS (
      SELECT COUNT(*) AS n_total FROM toks),
    scored AS (
      SELECT t.doc_id,
        ln(CAST(v.tf AS DOUBLE) / CAST(tt.n_total AS DOUBLE)) AS lp
      FROM toks t JOIN vocab v USING (tok), total tt),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
        CAST(SUM(CAST(lp AS DECIMAL(28,15))) AS DOUBLE) / COUNT(*) AS avg_lp
      FROM scored GROUP BY 1)
    SELECT doc_id, n_tokens,
      ROUND(avg_lp, 6) AS avg_logprob,
      ROUND(exp(-avg_lp), 4) AS ppl_proxy
    FROM agg
    ORDER BY doc_id"""

  // ------------------------------------------------------- doc_entropy
  // Shannon character entropy per document — the gibberish detector of
  // the quality family: repeated boilerplate collapses toward 0 bits,
  // key-mash/noise runs high, natural prose sits ~3.5–4.5 bits/char.
  // Flags are decided on the ROUNDED value so they cannot flap across
  // engines; the entropy itself follows the pinned fold-order contract
  // in ExprKernels.charEntropyBits (ascending char code, 4dp).
  //
  // 100 TB shape: one compiled counting pass per document at the scan
  // (CharEntropy expression — no explode of characters, no UDF); the
  // output is a pure projection, so the plan is scan → project.
  private val docEntropy: Q = (s, d) => {
    import graft.functions.expressions.GraftFunctions
    documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        round(GraftFunctions.charEntropy(col("text")), 4).as("entropy_bits"))
      .withColumn("low_entropy", col("entropy_bits") < 3.0)
      .withColumn("high_entropy", col("entropy_bits") > 5.2)
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay: per-char counts via unnest(split), the same
    * Σ c·ln(c) fold in ascending char order (list_reduce over counts
    * ordered by the char's binary collation = code order), same
    * H = (ln n − Σ/n)/ln 2 shape, same 4dp rounding before flags.
    */
  private val docEntropySql = """
    WITH ch AS (
      SELECT doc_id, unnest(split(text, '')) AS c
      FROM documents WHERE length(text) > 0),
    cnt AS (
      SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k
      FROM ch GROUP BY 1, 2),
    ent AS (
      SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n,
        list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
            list_transform(list(k ORDER BY c), x -> CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE)))),
          (a, b) -> a + b) AS s
      FROM cnt GROUP BY 1),
    scored AS (
      SELECT doc_id, n,
        ROUND((ln(CAST(n AS DOUBLE)) - s / CAST(n AS DOUBLE)) / ln(2.0), 4) AS h
      FROM ent)
    SELECT doc_id, n AS n_chars, h AS entropy_bits,
      h < 3.0 AS low_entropy, h > 5.2 AS high_entropy
    FROM scored
    ORDER BY doc_id"""

  val entries: Map[String, Q] = Map(
    "doc_entropy" -> docEntropy,
    "mm_exact_dedup" -> mmExactDedup,
    "doc_unigram_logprob" -> docUnigramLogprob,
    "doc_bloom_prefilter" -> docBloomPrefilter,
    "doc_exact_dedup" -> docExactDedup,
    "doc_prefix_dedup" -> docPrefixDedup,
    "doc_ngram_jaccard_pairs" -> docNgramJaccard,
    "doc_lang_id" -> docLangId,
    "doc_quality_score" -> docQualityScore,
    "doc_token_count" -> docTokenCount,
    "doc_hash_split" -> docHashSplit,
    "doc_top_tokens" -> docTopTokens,
    "doc_heavy_hitters" -> docHeavyHitters,
    "doc_dist_drift" -> docDistDrift,
    "doc_quality_histogram" -> docQualityHistogram,
    "doc_repetition_stats" -> docRepetitionStats,
    "doc_seq_pack" -> docSeqPack,
    "doc_pack_efficiency" -> docPackEfficiency,
    "doc_contamination" -> docContamination,
    "doc_pii_scrub" -> docPiiScrub,
    "doc_shuffle" -> docShuffle,
    "doc_incremental_dedup" -> docIncrementalDedup,
    "doc_stratified_sample" -> docStratifiedSample,
    "doc_quality_quantile_filter" -> docQualityQuantileFilter,
    "mm_binary_meta" -> mmBinaryMeta)

  val oracles: Map[String, String] = Map(
    "doc_entropy" -> docEntropySql,
    "mm_exact_dedup" -> mmExactDedupSql,
    "doc_unigram_logprob" -> docUnigramLogprobSql,
    // the bloom prefilter provably returns doc_contamination's exact
    // result — it shares that oracle verbatim
    "doc_bloom_prefilter" -> docContaminationSql,
    "doc_exact_dedup" -> docExactDedupSql,
    "doc_prefix_dedup" -> docPrefixDedupSql,
    "doc_ngram_jaccard_pairs" -> docNgramJaccardSql,
    "doc_lang_id" -> docLangIdSql,
    "doc_quality_score" -> docQualityScoreSql,
    "doc_token_count" -> docTokenCountSql,
    "doc_hash_split" -> docHashSplitSql,
    "doc_top_tokens" -> docTopTokensSql,
    "doc_heavy_hitters" -> docHeavyHittersSql,
    "doc_dist_drift" -> docDistDriftSql,
    "doc_quality_histogram" -> docQualityHistogramSql,
    "doc_repetition_stats" -> docRepetitionStatsSql,
    "doc_seq_pack" -> docSeqPackSql,
    "doc_pack_efficiency" -> docPackEfficiencySql,
    "doc_contamination" -> docContaminationSql,
    "doc_pii_scrub" -> docPiiScrubSql,
    "doc_shuffle" -> docShuffleSql,
    "doc_incremental_dedup" -> docIncrementalDedupSql,
    "doc_stratified_sample" -> docStratifiedSampleSql,
    "doc_quality_quantile_filter" -> docQualityQuantileFilterSql,
    "mm_binary_meta" -> mmBinaryMetaSql)
}
