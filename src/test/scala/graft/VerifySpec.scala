package graft

import java.nio.file.{Files, Paths}

class VerifySpec extends SparkSpec {

  test("a throwing query is reported while every other query and the oracles are dumped") {
    val out = tmpDir("verify_dump", create = true)
    val queries = Seq[(String, GraftSession.Query)](
      "bad" -> ((_, _) => throw new IllegalStateException("boom")),
      "good" -> ((s, d) => Tables.table(s, d, "region")))
    val failed = Verify.dump(spark, queries, sf, out)
    assert(failed == Seq("bad"))
    assert(spark.read.parquet(s"$out/good").count() ==
      Tables.table(spark, sf, "region").count())
    assert(!Files.exists(Paths.get(s"$out/bad")))
    val oracles = new String(Files.readAllBytes(Paths.get(s"$out/oracle_sql.json")), "UTF-8")
    assert(oracles.contains("\"qan_top_queries\""))
  }

  test("the 16-cell IVF guard finds the one- and two-level IVF oracles") {
    val family = Verify.ivfFamily
    Seq("emb_ann_ivf", "emb_ann_ivf_two_level", "emb_ivfpq_topk", "st_ivfpq_serve")
      .foreach(name => assert(family(name), s"$name missing from $family"))
  }

  test("the 16-cell IVF guard leaves out the PQ-only oracles") {
    val family = Verify.ivfFamily
    Seq("emb_pq_codes", "emb_pq_topk")
      .foreach(name => assert(!family(name), s"$name builds no IVF index but is in $family"))
  }
}
