package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TopK

class PlanSpec extends SparkSpec {

  /** Final (post-AQE) physical plan: execute first, then read the
    * plan — before execution AdaptiveSparkPlan hides codegen stages
    * and runtime join selections.
    */
  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("TopKPerGroup matches the ROW_NUMBER window formulation exactly") {
    val p = Tables.part(spark, sf)
    val expected = p
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc, col("p_partkey"))))
      .filter(col("rn") <= 3)
      .select(col("p_brand"), col("rn"), col("p_partkey"), col("p_retailprice"))
      .collect().map(_.toString).sorted.toSeq
    val got = TopK.perGroup(p, Seq("p_brand"),
        Seq(("p_retailprice", true), ("p_partkey", false)), 3)
      .select(col("p_brand"), col("rn"), col("p_partkey"), col("p_retailprice"))
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected)
  }

  test("TopKPerGroup plans one hash shuffle and no sort") {
    val plan = SparkEntry.queries("q11_window_topn_per_group")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), plan)
    // the outer orderBy sorts 75 result rows; the TopK child itself
    // must not sort — its input side has an exchange and no Sort below
    val belowTopK = plan.substring(plan.indexOf("TopKPerGroup"))
    assert(!belowTopK.contains("Sort [") || belowTopK.indexOf("Sort [") > belowTopK.indexOf("Scan"),
      s"unexpected sort below TopKPerGroup:\n$plan")
  }

  test("q06 pushes its filters and prunes columns at the parquet scan") {
    val plan = executedPlan("q06_selective_agg")
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("l_shipdate"), plan)
    val schemaPart = plan.substring(plan.indexOf("ReadSchema"))
    assert(!schemaPart.contains("l_orderkey"), s"unpruned scan: $plan")
  }

  test("q02/q05 broadcast their dimension sides") {
    assert(executedPlan("q02_top_orders").contains("BroadcastHashJoin"))
    assert(executedPlan("q05_region_revenue").contains("BroadcastHashJoin"))
  }

  test("q01 aggregates inside whole-stage codegen") {
    val plan = executedPlan("q01_pricing_summary")
    // "*(n)" prefixes mark whole-stage-codegen spans in plan strings
    assert(plan.contains("*("), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("partial_sum"), s"no map-side partial aggregation: $plan")
  }

  test("global top-N (q02) plans as TakeOrderedAndProject, not a full sort") {
    assert(executedPlan("q02_top_orders").contains("TakeOrderedAndProject"))
  }

  /** Adaptive plans print both the final and the initial tree; count
    * nodes in the final one only. */
  private def finalPlan(name: String): String = {
    val plan = executedPlan(name)
    val cut = plan.indexOf("== Initial Plan ==")
    if (cut >= 0) plan.substring(0, cut) else plan
  }

  test("snapshot→delta runs on a single data shuffle (repartition serves both windows)") {
    // HashPartitioning(instance, digest) satisfies the day-grained
    // cumulative window's ClusteredDistribution AND the delta lag's —
    // the only hash exchange is the explicit pre-partition
    val plan = finalPlan("qan_snapshot_delta")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$plan")
  }

  test("multi-counter delta collapses all N+1 lags into one Window node") {
    val plan = finalPlan("qan_multi_counter_delta")
    val windows = "Window \\[".r.findAllIn(plan).size
    assert(windows == 2, s"expected 2 Window nodes (cumulatives + lags), got $windows:\n$plan")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$plan")
  }

  test("pg block stats: windows, lags AND the rollup all reuse one hash exchange") {
    // HashPartitioning(instance, digest) satisfies the day window, the
    // delta lags, and the final groupBy(instance, digest) — the whole
    // pipeline runs on the single explicit pre-partition
    val plan = finalPlan("qan_pg_block_stats")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$plan")
  }

  test("ANN kernels are native codegen projections, not interpreted HOF folds") {
    // the corpus bucket-coding scan must carry the native
    // hyperplane_code expression inside a codegen span — the previous
    // aggregate(zip_with(...)) formulation interpreted bits×dim
    // lambdas per row
    val lsh = executedPlan("emb_ann_lsh")
    assert(lsh.contains("hyperplane_code"), lsh)
    assert(!lsh.contains("aggregate("), s"interpreted HOF fold left in plan:\n$lsh")
    assert("\\*\\(\\d+\\)".r.findFirstIn(lsh).isDefined, s"no codegen span:\n$lsh")
    val ivf = executedPlan("emb_ann_ivf")
    assert(ivf.contains("nearest_cell"), ivf)
    assert(!ivf.contains("aggregate("), s"interpreted HOF fold left in plan:\n$ivf")
  }

  test("IVF assignment stage is a pure projection: no Window, no Exchange") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val e = Tables.embeddings(spark, sf)
      .withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
    val (ids, cents) = graft.operators.AnnIvf.collectCentroids(
      graft.operators.AnnIvf.refinedCentroids(corpus, cells = 16, dim = 64))
    val inv = graft.operators.AnnIvf.invertedFile(corpus, ids, cents)
    inv.collect()
    val plan = inv.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window shuffle in assignment stage:\n$plan")
    assert(!plan.contains("Exchange"), s"exchange in assignment stage:\n$plan")
  }

  test("two-level IVF assignment: corpus side is projection + broadcast joins — no Window, no corpus shuffle") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.{AnnIvf, IvfPq}
    val e = Tables.embeddings(spark, sf)
      .withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
    val idx = AnnIvf.twoLevelIndex(corpus, cells = 16, dim = 64, corpus.count())
    val inv = IvfPq.assign(idx, corpus)
    inv.collect()
    val plan = inv.queryExecution.executedPlan.toString
    // neighborhoods arrive through broadcast hash joins; the packed
    // argmin (the nprobe-1 packed probe) is a compiled projection. The only hash exchanges allowed
    // are inside the ≤cells-row fine-group broadcast subtree — the
    // CORPUS must never shuffle, window, or sort-merge.
    assert(plan.contains("nearest_cells_in_group"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), s"window in two-level assignment:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffle join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("qan_workload_outlier: sparse cosine — no dense grid, no collect_list, digest equi-join") {
    // trim to the final AQE plan: the dump repeats the pre-adaptive
    // "Initial Plan" section, which would double-count join nodes
    val full = executedPlan("qan_workload_outlier")
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    // the r7 form built an |instances|×|digests| zero-filled grid
    // (inst crossJoin types) + per-instance collect_list dense vectors
    // purely to feed aligned arrays to the cosine kernel — zeros
    // contribute nothing to a dot product
    assert(!plan.contains("collect_list"), s"dense vector build left in plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast digest equi-join:\n$plan")
    // exactly one nested-loop join: the one-row fleet-norm attach
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnl == 1, s"expected only the one-row norm crossJoin, got $bnl:\n$plan")
  }

  test("PQ coding stage is a pure projection: no Window, no Exchange, native kernels") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val e = Tables.embeddings(spark, sf)
      .withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
    val books = graft.operators.AnnPq.collectCodebooks(
      graft.operators.AnnPq.refinedCodebooks(corpus, m = 16, dsub = 4, k = 64), m = 16)
    val coded = graft.operators.AnnPq.encode(corpus, books, dsub = 4)
    coded.collect()
    val plan = coded.queryExecution.executedPlan.toString
    assert(plan.contains("nearest_cell"), plan)
    assert(!plan.contains("Window"), s"window shuffle in coding stage:\n$plan")
    assert(!plan.contains("Exchange"), s"exchange in coding stage:\n$plan")
    assert(!plan.contains("aggregate("), s"interpreted HOF fold in coding stage:\n$plan")
  }

  test("doc_tfidf_topk ranks through TopKPerGroup and broadcasts the corpus count") {
    val plan = executedPlan("doc_tfidf_topk")
    assert(plan.contains("TopKPerGroup"), s"row_number not rewritten:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"corpus count not broadcast:\n$plan")
  }

  test("doc_source_reputation joins the per-source table as a broadcast") {
    val plan = executedPlan("doc_source_reputation")
    assert(plan.contains("BroadcastHashJoin"), s"source join-back not broadcast:\n$plan")
  }

  test("doc_seq_pack runs on one hash shuffle (shard) + one window, no global sort before it") {
    // AQE's toString appends an "== Initial Plan ==" copy — count only
    // the final plan section
    val plan = executedPlan("doc_seq_pack").split("== Initial Plan ==")(0)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges:\n$plan")
    val windows = "\\bWindow\\b".r.findAllIn(plan).length
    assert(windows == 1, s"expected 1 window, got $windows:\n$plan")
  }

  test("doc_contamination joins grams as an equi-join, never a nested loop") {
    val plan = executedPlan("doc_contamination")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("emb_cell_dedup pairs within cells via an equi-join, never an all-pairs loop") {
    // the SemDeDup scale form: candidate pairs must come from the
    // cell equi-join (work Σ|cell|²), not a corpus×corpus nested loop
    val plan = executedPlan("emb_cell_dedup")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("doc_pii_scrub is a single scan-level codegen projection") {
    val plan = executedPlan("doc_pii_scrub")
    assert(!plan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$plan")
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(plan).isDefined, s"projection not codegen'd:\n$plan")
  }

  test("q22 range join decomposes to an equi-join on bucket, never a nested loop") {
    val plan = executedPlan("q22_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in range join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("topN family: no partition-less window anywhere in the plan") {
    // a Window with an empty partitionSpec funnels its whole input
    // through ONE task — Ranking.globalRowNumber (range-partitioned
    // two-phase rank), TakeOrderedAndProject day-picking and the
    // sorted-array rank must have eliminated every one of these, so a
    // 10⁶-digest dimension aggregate still ranks distributed
    for (q <- Seq("qan_topn_others", "qan_topn_approx_audit",
        "qan_rank_movers", "doc_bpe_pairs", "doc_dup_ngrams")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val offenders = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      assert(offenders.isEmpty,
        s"$q: partition-less window(s) in plan:\n${offenders.mkString("\n")}")
    }
  }

  test("workload_diff / retention_tiering: broadcast scalar + one hash aggregate, no window") {
    // both compare every event against a one-row corpus aggregate
    // (midpoint / head ts) — that scalar must arrive by broadcast and
    // the body must stay a single map-side-combinable hash aggregate:
    // zero windows, zero sort-merge joins at any corpus size
    for (q <- Seq("qan_workload_diff", "qan_diff_significance", "qan_retention_tiering")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.isEmpty, s"$q: window in plan:\n${windows.mkString("\n")}")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastExchange"), s"$q: scalar not broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q: shuffle join against scalar:\n$plan")
      assert(plan.contains("HashAggregate"), s"$q plan:\n$plan")
    }
  }

  test("Ops surface: no partition-less windows, aggregate-only where promised") {
    // timezone_rollup / routing_advice / storage_usage: ONE hash
    // aggregate over the scan, zero windows, zero joins;
    // replication_lag / explain_candidates: windows are partitioned
    // (cluster_id / digest×day) so no single-task funnel exists
    for (q <- Seq("qan_timezone_rollup", "qan_routing_advice", "qan_storage_usage")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.isEmpty, s"$q: window in plan:\n${windows.mkString("\n")}")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$q: unexpected join:\n$plan")
      assert(plan.contains("HashAggregate"), s"$q plan:\n$plan")
    }
    for (q <- Seq("qan_replication_lag", "qan_explain_candidates")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val offenders = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      assert(offenders.isEmpty,
        s"$q: partition-less window(s) in plan:\n${offenders.mkString("\n")}")
    }
  }

  test("qan_topn_others ranks only the collapsed aggregate, never raw events") {
    val plan = executedPlan("qan_topn_others")
    // the ranking window (partitioned, via globalRowNumber) sits above
    // the dimension aggregate: some aggregate must appear below it
    val win = plan.indexOf("Window")
    assert(win >= 0, plan)
    assert(plan.indexOf("HashAggregate", win) >= 0,
      s"no aggregate below the ranking window:\n$plan")
  }

  test("qan_funnel is aggregates + key joins, no window over raw events") {
    val plan = executedPlan("qan_funnel")
    assert(!plan.contains("Window"), s"funnel must not window raw events:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  /** AQE prints "== Final Plan ==" followed by "== Initial Plan ==";
    * node-count assertions must scope to the final section only.
    */
  private def finalSection(plan: String): String = {
    val cut = plan.indexOf("== Initial Plan ==")
    if (cut < 0) plan else plan.substring(0, cut)
  }

  test("qan_gapfill joins its spine as an equi-join and windows once per key") {
    val plan = finalSection(executedPlan("qan_gapfill"))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"spine join must be an equi-join:\n$plan")
    assert(plan.split("Window \\[").length - 1 === 1,
      s"expected exactly one LOCF window:\n$plan")
  }

  test("q23_pivot compiles to one conditional-aggregate pass, no values-discovery job") {
    val df = SparkEntry.queries("q23_pivot")(spark, sf)
    df.collect()
    val plan = finalSection(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("Expand"), s"explicit-values pivot must not Expand:\n$plan")
    // one partial + one final aggregate pair over a single scan
    assert(plan.split("Scan parquet").length - 1 === 1,
      s"pivot must read orders exactly once:\n$plan")
  }

  test("doc_segment_dedup never windows the corpus; the per-doc re-aggregate is a hash agg") {
    val plan = executedPlan("doc_segment_dedup")
    assert(!plan.contains("Window"), s"segment dedup must not window:\n$plan")
    assert(plan.contains("SortAggregate") || plan.contains("HashAggregate") ||
      plan.contains("ObjectHashAggregate"), plan)
  }

  test("doc_leakage_safe_split: cluster pipeline + hash aggregates, no window, no nested loop") {
    val plan = executedPlan("doc_leakage_safe_split")
    assert(!plan.contains("Window"), s"split audit must not window:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("doc_ngram_novelty tokenizes the corpus once: df via window, no gd self-join") {
    // df must come from a count window over the single (gram, doc)
    // aggregate — a gd ⟗ df self-join re-runs the explode+aggregate
    // (ReuseExchange doesn't fire across the join side's pushed
    // isnotnull filter), doubling the dominant cost at 100 TB
    // AQE's toString prints Final Plan + Initial Plan — count only the
    // final section or a non-AQE plan counts every node twice
    val plan = executedPlan("doc_ngram_novelty").split("== Initial Plan ==").head
    val tokenizes = "word_grams".r.findAllIn(plan).length
    assert(tokenizes == 1, s"corpus tokenized $tokenizes times:\n$plan")
  }

  test("doc_mixture_plan folds its plan on a broadcast, reading documents once per side") {
    val plan = executedPlan("doc_mixture_plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the one-row fold must broadcast:\n$plan")
  }

  test("doc_winnowing: compiled selection at the scan, equi-join matching, no nested loop") {
    val p = executedPlan("doc_winnowing")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"winnowing pair matching must be an equi-join:\n$p")
    assert(p.contains("winnow_fingerprints"), p)
    // the selection kernel runs scan-side, BEFORE the explode — the
    // corpus text itself never reaches the join
    val gen = p.indexOf("Generate explode")
    assert(gen >= 0, s"no explode stage:\n$p")
    assert(p.indexOf("winnow_fingerprints") > gen,
      s"fingerprints must be selected below the explode (scan side):\n$p")
  }

  test("qan_markov_transitions: one window shuffle, totals broadcast back") {
    val p = finalPlan("qan_markov_transitions")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"row totals must broadcast:\n$p")
    // the raw stream sees exactly one hash-partition exchange (the
    // per-instance lead window); everything after runs on aggregates
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(exchanges === 1, s"expected one raw-data exchange, got $exchanges:\n$p")
  }

  test("qan_metric_correlation: marginals broadcast, raw events aggregate before pairing") {
    val p = finalPlan("qan_metric_correlation")
    assert(p.contains("BroadcastHashJoin"), s"spine join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the only cross join is the tiny hours×digests spine (broadcast NL):\n$p")
  }

  test("emb_rrf_fusion / emb_matryoshka_recall: both rankings share one query_id shuffle") {
    for (q <- Seq("emb_rrf_fusion", "emb_matryoshka_recall")) {
      val p = finalPlan(q)
      val exchanges = "Exchange hashpartitioning\\(query_id".r.findAllIn(p).length
      assert(exchanges <= 1, s"$q: both windows must reuse one query_id exchange:\n$p")
    }
  }

  test("qan_m4_downsample: role winners via struct min/max aggregate — no Window, no sort of raw events") {
    val p = finalPlan("qan_m4_downsample")
    assert(!p.contains("Window"), s"M4 selection must be an aggregate, not a window:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"join-back must be an equi-join:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_max"),
      s"no map-side partial aggregation of the role winners:\n$p")
  }

  test("doc_heavy_hitters: sketch aggregate partials, broadcast recount, no vocabulary sort-merge") {
    val p = executedPlan("doc_heavy_hitters")
    // the MG sketch must run as an ObjectHashAggregate with a map-side
    // partial (the ≤k-counter buffers are what shuffles, not tokens)
    assert(p.contains("ObjectHashAggregate"), s"sketch not an object hash aggregate:\n$p")
    // candidates join back by broadcast — the recount side must never
    // plan a sort-merge join against a ≤k-row candidate set
    assert(p.contains("BroadcastHashJoin"), s"candidate join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge on the candidate join:\n$p")
  }

  test("doc_dup_spans: doc-partitioned windows only, equi-joins only") {
    val df = SparkEntry.queries("doc_dup_spans")(spark, sf)
    val offenders = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(offenders.isEmpty,
      s"partition-less window(s) in dup_spans:\n${offenders.mkString("\n")}")
    val p = executedPlan("doc_dup_spans")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"gram match must be an equi-join:\n$p")
  }

  test("emb_ood_score: one codegen'd scan + bounded TakeOrderedAndProject, no join, no window") {
    // the centroids live INSIDE the compiled kernel (literal), so the
    // scoring query itself must plan as scan → project → top-N: any
    // Exchange/Join/Window would mean the centroid table leaked out
    // into the plan as a relation
    val p = executedPlan("emb_ood_score")
    assert(p.contains("TakeOrderedAndProject"), s"global top-N not bounded:\n$p")
    assert(!p.contains("Window"), s"window in scoring scan:\n$p")
    assert(!p.contains("Join"), s"join in scoring scan:\n$p")
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(p).isDefined,
      s"scoring projection not codegen'd:\n$p")
  }

  test("emb_dim_profile: the ×dim explode aggregates map-side, no join, no window") {
    // the explode multiplies rows by dim, but only dim × partitions
    // PARTIAL rows may shuffle — the aggregate must carry map-side
    // partial min/max (combine before the exchange)
    val p = executedPlan("emb_dim_profile")
    assert(p.contains("partial_min") && p.contains("partial_max"),
      s"no map-side partial aggregation after the explode:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"), s"unexpected join/window:\n$p")
  }

  test("drift pair: per-row math over broadcast scalars — no window, no nested loop") {
    // doc_dist_drift and qan_drift_psi both promise fold-order-free
    // emitted doubles: totals ride back on broadcast one-row/tiny
    // frames and every contribution is per-token/per-bucket math
    for (q <- Seq("doc_dist_drift", "qan_drift_psi")) {
      val p = executedPlan(q)
      assert(!p.contains("Window"), s"$q: window over the scan:\n$p")
      assert(p.contains("BroadcastExchange"), s"$q: totals not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q: totals join degraded to SMJ:\n$p")
    }
  }

  test("tree rollup: recursion joins the frontier, never a nested loop; rollup is a hash agg") {
    val p = executedPlan("qan_tree_rollup")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"ancestor closure must join by key:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"subtree rollup must be a hash aggregate:\n$p")
  }

  test("emb_ivfpq_topk: equi-joins only, survivors broadcast into the exact re-rank") {
    val plan = executedPlan("emb_ivfpq_topk")
    // probe→coded-file is an equi-join on cell; the exact re-rank
    // joins the corpus against the BROADCAST ≤ rerank·|Q| survivor
    // table — the composed search must never cartesian or shuffle the
    // corpus for the re-rank fetch
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast survivor fetch in the re-rank stage:\n$plan")
  }

  test("emb_ivfpq_rerank_curve: no cartesian; the only nested loop is the bounded exact baseline") {
    val plan = executedPlan("emb_ivfpq_rerank_curve")
    // the recall denominator reuses emb_cosine_topk — the INTENTIONAL
    // bounded brute-force baseline (5 queries × corpus, a BROADCAST
    // nested loop; AQE's toString repeats it across final/initial/
    // cache sections so its count is not assertable). Everything else
    // is equi-joins: no cartesian anywhere, and any nested loop must
    // be the broadcast form (bounded build side), never a full
    // CartesianProduct
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast survivor fetch before the depth explode:\n$plan")
  }

  test("index delete: the live view anti-joins tombstones BROADCAST — the store side never shuffles") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfPq
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val dir = tmpDir("idx_plan")
    IvfPq.buildIndex(all, all.count(), dim = 64, m = 16, dsub = 4,
      kCodes = 64, dir = dir)
    // no pending deletes: the live view IS the raw store — no join node
    val clean = IvfPq.loadIndex(spark, dir).live
    assert(!clean.queryExecution.executedPlan.toString.contains("Join"),
      "live view must be join-free when no deletes are pending")
    // pending deletes: a broadcast LEFT ANTI against the (small)
    // tombstone set — the corpus-sized coded file must not shuffle or
    // sort for the delete filter
    IvfPq.deleteFromIndex(all.filter(col("id") % 5 === 0).select(col("id")), dir)
    val live = IvfPq.loadIndex(spark, dir).live
    live.collect()
    val plan = live.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected a broadcast left-anti tombstone filter:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the store side must never shuffle for a delete filter:\n$plan")
  }

  test("custom expressions stay inside whole-stage codegen") {
    // the "*(n)" prefix marks codegen spans; the fingerprint/simhash
    // projections must carry it (no CodegenFallback breaking the span)
    val fp = executedPlan("doc_fingerprint")
    assert(fp.contains("*("), fp)
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(fp).isDefined, s"projection not codegen'd:\n$fp")
    val sh = executedPlan("doc_simhash")
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(sh).isDefined, s"projection not codegen'd:\n$sh")
    // int8 quantization kernels must be compiled projections too —
    // no interpreted per-element HOFs on the full-corpus scan
    val qz = executedPlan("emb_int8_quantize")
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(qz).isDefined, s"projection not codegen'd:\n$qz")
    assert(!qz.contains("aggregate(") && !qz.contains("transform("),
      s"interpreted HOF left in quantize plan:\n$qz")
  }

  test("df stages never window over the posting relation") {
    // a Window partitioned by token serializes every posting row of a
    // token into ONE task — df("the") ≈ |docs| rows on one core at
    // web scale. df must come from a map-side-combined groupBy(token)
    // (joined back for tf-idf; riding the bounded query-term relation
    // for BM25) — hot join partitions are AQE-skew-splittable, window
    // partitions are not.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (name <- Seq("doc_tfidf_topk", "doc_bm25_topk", "doc_hybrid_rrf")) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      val tokenWindows = plan.collect {
        case w: LWindow if w.partitionSpec.exists(
          _.references.exists(_.name == "token")) => w
      }
      assert(tokenWindows.isEmpty,
        s"$name windows over the posting relation:\n${tokenWindows.mkString("\n")}")
    }
  }
}
