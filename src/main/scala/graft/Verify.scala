package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1,
  * after the whole dump, if any query threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession(GraftSession.cpus)
    val queries = GraftSession.selected()
    // The IVF-family oracles inline ScaleOps.OracleIvfCells centroid
    // literals (ScaleOps.ivfCtes) while the Spark side sizes the index
    // with AnnIvf.adaptiveCells(count) — the coupling holds only while
    // the verify corpus keeps adaptiveCells there (≤ ~2.1k embeddings).
    // Fail HERE with the real cause rather than letting a grown corpus
    // surface as an opaque per-query hash mismatch.
    if (queries.exists { case (name, _) => ivfFamily(name) }) {
      val nEmb = Tables.table(spark, sfDir, "embeddings").count()
      val cells = graft.operators.AnnIvf.adaptiveCells(nEmb)
      val want = graft.queries.ScaleOps.OracleIvfCells
      require(cells == want,
        s"IVF oracles assume $want cells but adaptiveCells($nEmb) = $cells — " +
          "the verify corpus outgrew the static centroid-literal replay; " +
          s"regenerate ScaleOps.ivfCtes sizing for ${ivfFamily.mkString(", ")}")
    }
    val failed = dump(spark, queries, sfDir, outDir)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** The oracles that replay the oracle-sized IVF index: every IVF replay
    * block starts from the centroid literal CTE ScaleOps marks. */
  lazy val ivfFamily: Set[String] = SparkEntry.oracleSql.collect {
    case (name, sql) if sql.contains(graft.queries.ScaleOps.IvfCentroidMarker) => name
  }.toSet

  /** Writes each query's result to `outDir/<name>` (one parquet file)
    * and every oracle to `outDir/oracle_sql.json`; a query that throws
    * is skipped. Returns the names that threw.
    */
  def dump(spark: SparkSession, queries: Seq[(String, GraftSession.Query)],
      sfDir: String, outDir: String): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = GraftSession.eachQuery(spark, queries, "verify") { (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
