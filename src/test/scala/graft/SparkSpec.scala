package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the same factory, confs and
  * extensions Bench and Verify run under (one per JVM via lazy val). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A fresh `<java.io.tmpdir>/graft_<tag>_<8 hex>` path (made only if
    * `create`), deleted after the suite with everything under it and
    * its `<dir>_<suffix>` siblings. */
  def tmpDir(tag: String, create: Boolean = false): String = {
    val dir = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_${tag}_" +
      java.util.UUID.randomUUID.toString.take(8)
    if (create) new java.io.File(dir).mkdirs()
    tmpDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tmpDirs.forEach(d => graft.operators.Scratch.deleteFamily(d))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(4)
}
