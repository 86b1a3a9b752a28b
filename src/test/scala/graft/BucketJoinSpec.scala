package graft

import org.apache.spark.sql.functions._

/** SURVEY §5 claims bucketing co-locates fact-fact joins; this proves
  * it on this engine's tables: lineitem⋈orders written bucketed+sorted
  * by orderkey plans a SortMergeJoin with NO exchange and NO sort on
  * the join key — at 100 TB that's the entire shuffle of both fact
  * tables eliminated for every downstream key-aligned join.
  */
class BucketJoinSpec extends SparkSpec {

  test("cell-bucketed coded index joins probes without an exchange on the static side") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfPq
    // Both streaming serves broadcast the coded file in the sandbox and
    // CLAIM "at 100 TB it is bucketed by cell" — this makes the claim
    // checkable: the persisted coded inverted file written as a
    // cell-bucketed table joins the (batch stand-in) probe relation on
    // cell with the static side read straight out of its buckets —
    // exactly ONE exchange in the whole plan (the arriving probes
    // shuffling to the bucket layout), zero on the index side. At 100
    // TB that is the entire per-micro-batch shuffle of the
    // memory-resident index eliminated.
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val n = corpus.count()
    val dir = tmpDir("idx_bucket")
    val (index, _) = IvfPq.buildIndex(corpus, n, dim = 64, m = 16,
      dsub = 4, kCodes = 64, dir = dir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      IvfPq.loadIndex(spark, dir).inverted
        .write.mode("overwrite").bucketBy(8, "cell").sortBy("cell")
        .saveAsTable("graft_coded_b")
      val probes = IvfPq.probe(index, corpus.limit(50)
          .select(col("id").as("query_id"), col("v").as("qv")), "qv", 2)
        .select(col("query_id"), col("cell"))
      val j = probes.join(spark.table("graft_coded_b"), Seq("cell"))
        .filter(col("query_id") =!= col("id"))
        .select(col("query_id"), col("id").as("neighbor_id"))
      assert(j.collect().nonEmpty)
      val plan = j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"exactly the probe side may shuffle (static side reads its buckets):\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"the index scan must come straight out of its buckets:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_coded_b")
    }
  }

  test("bucketed+sorted fact tables join without exchange or sort on the key") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sf).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("graft_orders_b")
      Tables.lineitem(spark, sf).write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("graft_lineitem_b")
      val j = spark.table("graft_lineitem_b")
        .join(spark.table("graft_orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("hashpartitioning(l_orderkey"),
        s"lineitem still shuffles on the join key:\n$plan")
      assert(!plan.contains("hashpartitioning(o_orderkey"),
        s"orders still shuffles on the join key:\n$plan")
      // bucket-local sort files: no Sort operator feeding the join either
      val joinSection = plan.substring(0, plan.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Sort ["), s"unexpected sort above the join:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
    }
  }
}
