package graft

import org.apache.spark.sql.functions._

/** The statistical quality/anomaly operators: unigram LM scoring and
  * MAD-based outlier detection.
  */
class QualitySpec extends SparkSpec {

  test("unigram logprob: every doc scored, probabilities are probabilities") {
    val out = SparkEntry.queries("doc_unigram_logprob")(spark, sf).collect()
    assert(out.length == Tables.documents(spark, sf).count())
    out.foreach { r =>
      val n = r.getLong(1); val lp = r.getDouble(2); val ppl = r.getDouble(3)
      assert(n >= 1)
      // log of a frequency < 1 is strictly negative; ppl = e^{-lp} > 1
      assert(lp < 0.0, s"doc ${r.getLong(0)} avg_logprob $lp")
      assert(ppl > 1.0, s"doc ${r.getLong(0)} ppl $ppl")
    }
    // token accounting matches the whitespace tokenizer used elsewhere
    val nTok = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ws = SparkEntry.queries("doc_token_count")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(nTok == ws)
  }

  test("bloom prefilter returns exactly doc_contamination's rows (no false negatives)") {
    val exact = SparkEntry.queries("doc_contamination")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val bloomed = SparkEntry.queries("doc_bloom_prefilter")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(bloomed == exact)
  }

  test("bloom_agg / bloom_contains are callable from SQL") {
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("x").createOrReplaceTempView("bloom_probe_t")
    val hits = spark.sql("""
      SELECT x, bloom_contains(
        (SELECT bloom_agg(x) FROM bloom_probe_t WHERE x < 3), x) AS hit
      FROM bloom_probe_t ORDER BY x""")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(hits(1L) && hits(2L)) // members always hit
  }

  test("mad anomalies: every flagged event is >3 scaled MADs from its group median") {
    val out = SparkEntry.queries("qan_anomaly_mad")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(math.abs(r.getDouble(6)) > 3.0, s"event ${r.getLong(0)} score ${r.getDouble(6)}")
      assert(r.getDouble(5) > 0.0) // mad strictly positive by the gate
    }
    // robustness sanity: anomalies are a minority of events (~7-8% on
    // this heavy-tailed synthetic value distribution — a normal corpus
    // would flag ~0.3%)
    val total = Tables.events(spark, sf).count()
    assert(out.length.toDouble / total < 0.15,
      s"${out.length} of $total events flagged — threshold not selective")
  }

  test("char entropy: information-theoretic bounds, flags follow the rounded value") {
    val out = SparkEntry.queries("doc_entropy")(spark, sf).collect()
    val nonEmpty = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")) > 0).count()
    assert(out.length === nonEmpty, "every non-empty doc is scored")
    out.foreach { r =>
      val (n, h) = (r.getLong(1), r.getDouble(2))
      assert(h >= 0.0, "entropy is non-negative")
      // H <= log2(n): cannot exceed one symbol per character
      assert(h <= math.log(n.toDouble) / math.log(2.0) + 1e-9)
      assert(r.getBoolean(3) === (h < 3.0))
      assert(r.getBoolean(4) === (h > 5.2))
    }
    // natural prose sits in the 3–5 bit band on this corpus
    val mean = out.map(_.getDouble(2)).sum / out.length
    assert(mean > 3.0 && mean < 5.0, s"mean entropy $mean outside prose band")
  }

  test("char entropy kernel: uniform and constant strings hit closed forms") {
    import graft.functions.expressions.ExprKernels
    import org.apache.spark.unsafe.types.UTF8String
    assert(ExprKernels.charEntropyBits(UTF8String.fromString("aaaaaaa")) === 0.0)
    // 16 distinct chars, once each: exactly 4 bits
    val uniform = ('a' to 'p').mkString
    assert(math.abs(ExprKernels.charEntropyBits(UTF8String.fromString(uniform)) - 4.0) < 1e-12)
    assert(ExprKernels.charEntropyBits(UTF8String.fromString("")) === 0.0)
    // reference cross-check on arbitrary text
    val s = "the quick brown fox jumps over the lazy dog"
    val counts = s.groupBy(identity).view.mapValues(_.length)
    val n = s.length.toDouble
    val want = counts.values.map(k => -(k / n) * (math.log(k / n) / math.log(2.0))).sum
    assert(math.abs(ExprKernels.charEntropyBits(UTF8String.fromString(s)) - want) < 1e-9)
  }

  test("dist drift: per-token KL contribution reproduces from the tf counts and smoothing rule") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("doc_dist_drift")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // recompute the scalars independently from the split rule
    val tok = graft.queries.Text.splitDf(Tables.documents(spark, sf))
      .filter(col("split").isin("train", "val"))
      .select(col("split"), explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
    val nTrain = tok.filter(col("split") === "train").count()
    val nVal = tok.filter(col("split") === "val").count()
    val vocab = tok.select(col("token")).distinct().count()
    rows.foreach { r =>
      val (tfT, tfV) = (r.getLong(1), r.getLong(2))
      val p = (tfT + 1).toDouble / (nTrain + vocab)
      val q = (tfV + 1).toDouble / (nVal + vocab)
      assert(math.abs(r.getDouble(3) - p) < 1e-7, s"p_train off for ${r.getString(0)}")
      assert(math.abs(r.getDouble(5) - p * math.log(p / q)) < 1e-7,
        s"kl_contrib off for ${r.getString(0)}")
    }
    // |contribution| ordering is what the top-20 claims
    val contribs = rows.map(r => math.abs(r.getDouble(5)))
    assert(contribs.zip(contribs.tail).forall { case (a, b) => a >= b - 1e-12 })
  }
}
