package graft.operators

import org.apache.spark.sql.SparkSession

/** Session-keyed scratch directories for persisted store artifacts
  * (lexical index, vector index, request feeds): paths are keyed by
  * (dataset, applicationId) so two JVMs sharing /tmp on the same
  * dataset each get their own store — one session's wholesale
  * delete-and-rebuild can never race another session's open parquet
  * readers (within a session the queries run sequentially and every
  * build is deterministic). One JVM shutdown hook reclaims every dir
  * registered with [[deleteAtExit]] on clean exit — at sf10 a store is
  * GBs, and without it every bench/verify JVM would leave its own copy
  * behind.
  */
object Scratch {

  private val atExit =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => atExit.forEach(dir => deleteFamily(dir))))

  private[graft] def deleteTree(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteTree)
    f.delete(): Unit
  }

  /** `dir` and its `<dir>_<suffix>` siblings (the stores a query
    * derives from a session dir, e.g. `<index>_append`). */
  private[graft] def deleteFamily(dir: String): Unit = {
    val f = new java.io.File(dir)
    deleteTree(f)
    val sibs = f.getParentFile.listFiles()
    if (sibs != null) sibs.filter(_.getName.startsWith(f.getName + "_"))
      .foreach(deleteTree)
  }

  /** Deletes `dir` and its `<dir>_<suffix>` siblings when the JVM
    * exits: for dirs a lazy result still reads after the call that
    * made them returns. Returns `dir`. */
  def deleteAtExit(dir: String): String = {
    hook
    atExit.add(dir)
    dir
  }

  /** `/tmp/<prefix>_<dataset>_<applicationId>`, reclaimed at exit. */
  def sessionDir(prefix: String, spark: SparkSession,
      sfDir: String): String =
    deleteAtExit(s"${System.getProperty("java.io.tmpdir", "/tmp")}/${prefix}_" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_") +
      "_" + spark.sparkContext.applicationId)
}
