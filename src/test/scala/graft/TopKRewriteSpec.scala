package graft

import org.apache.spark.sql.functions._

/** The TopKRewriteRule optimizer rule: standard SQL
  * `row_number() <= k` window filters silently plan as the
  * bounded-heap TopKPerGroup operator (no Window, no Sort).
  */
class TopKRewriteSpec extends SparkSpec {

  private val topnSql = """
    SELECT p_brand, p_partkey, p_retailprice, rn FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part) WHERE rn <= 3"""

  /** Driver-side re-implementation of the query — the rule-independent
    * truth (a window-formulated expected would itself be rewritten
    * once the rule is installed on the shared session). */
  private def expectedTop3(): Seq[(String, Long, Double, Int)] = {
    Tables.part(spark, sf)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq
      .flatMap { case (brand, rows) =>
        rows.sortBy { case (_, pk, price) => (-price, pk) }
          .take(3).zipWithIndex
          .map { case ((b, pk, price), i) => (b, pk, price, i + 1) }
      }
      .sortBy { case (b, pk, _, _) => (b, pk) }
  }

  private def run(sql: String) = {
    Tables.part(spark, sf).createOrReplaceTempView("part")
    spark.sql(sql)
  }

  test("row_number <= k rewrites to TopKPerGroup with identical results") {
    val df = run(topnSql)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("TopKPerGroup"), optimized)
    assert(!optimized.contains("Window"), optimized)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy { case (b, pk, _, _) => (b, pk) }.toSeq
    assert(got == expectedTop3())
    // physical: heap operator present, no sort below it
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), plan)
    val below = plan.substring(plan.indexOf("TopKPerGroup"))
    assert(!below.contains("Sort ["), s"sort below TopKPerGroup:\n$plan")
  }

  test("exact-rank and compound predicates keep their residual filter") {
    val df = run("""
      SELECT p_brand, p_partkey, rn FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part) WHERE rn = 2 AND p_partkey % 2 = 0""")
    assert(df.queryExecution.optimizedPlan.toString.contains("TopKPerGroup"))
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val exp = expectedTop3()
      .collect { case (b, pk, _, 2) if pk % 2 == 0 => (b, pk, 2) }.toSet
    assert(got == exp)
  }

  test("partition-key conjuncts are pushed below the heap to the scan") {
    // pick a real brand so the result set is non-trivial
    val brand = Tables.part(spark, sf).select(min(col("p_brand")))
      .collect()(0).getString(0)
    val df = run(s"""
      SELECT p_brand, p_partkey, rn FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part) WHERE rn <= 3 AND p_brand = '$brand'""")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("TopKPerGroup"), optimized)
    // the brand conjunct must sit BELOW the heap node (pushable through
    // a window over the same key: dropping whole groups cannot change
    // ranks in surviving groups), where scan pushdown can consume it
    val below = optimized.substring(optimized.indexOf("TopKPerGroup"))
    assert(below.contains(brand), s"brand filter not below TopKPerGroup:\n$optimized")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val exp = expectedTop3()
      .collect { case (b, pk, _, rn) if b == brand => (b, pk, rn) }.toSet
    assert(got == exp)
  }

  test("rank() and global row_number do not rewrite") {
    // rank() can emit >k rows under ties — the heap cannot represent it
    val rankDf = run(topnSql.replace("row_number()", "rank()"))
    assert(!rankDf.queryExecution.optimizedPlan.toString.contains("TopKPerGroup"))
    assert(rankDf.queryExecution.optimizedPlan.toString.contains("Window"))
    // no PARTITION BY: the per-group heap exec has no global exchange
    val globalDf = run("""
      SELECT p_partkey FROM (
        SELECT p_partkey, row_number() OVER (ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part) WHERE rn <= 3""")
    assert(!globalDf.queryExecution.optimizedPlan.toString.contains("TopKPerGroup"))
  }
}
