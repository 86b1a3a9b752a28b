package graft.tools

import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Dump `.explain("formatted")` of selected queries to files — the
  * optimization-round evidence trail (plans/<tag>/<name>_<suffix>.txt).
  * Queries with build side effects run those jobs during DataFrame
  * construction; the dumped plan is the RETURNED frame's plan, which
  * is what the bench times through the noop sink.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *        SPARK_GRAFT_ONLY=doc_bm25_served,st_bm25_serve \
  *        runMain graft.tools.PlanDump plans/r15 before
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "plans/r15"
    val suffix = if (args.length > 1) args(1) else "before"
    val sfDir = GraftSession.sfDir
    val spark = GraftSession(GraftSession.cpus)
    Files.createDirectories(Paths.get(outDir))
    GraftSession.eachQuery(spark, GraftSession.selected(), "plandump") { (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"), plan.getBytes("UTF-8"))
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
