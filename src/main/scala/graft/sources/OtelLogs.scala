package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** OTel-log-shaped export/import of QAN deltas, and the owner of that
  * wire's contract.
  *
  * Mirrors the reference's log emission
  * (otel-collector/extension/qanprocessor/mysql/collector.go:208
  * deltaToLogs): one log record per digest delta, resource attributes
  * for service/system/instance, numeric delta attributes, digest text
  * as the body, and records with a non-positive calls delta skipped.
  *
  * The wire format is JSON-lines (one log record per line), written
  * and read with Spark's native JSON source — partition-parallel on
  * both sides, no driver involvement. The file sink's commit protocol
  * makes a write atomic per job; the reader is given [[WireSchema]],
  * so it never infers, prunes the columns a consumer does not select
  * and pushes string filters into the scan.
  */
object OtelLogs {

  /** The collector's log-record contract, as [[toLogRecords]] emits it. */
  val WireSchema: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("severity_text", StringType),
    StructField("service_name", StringType),
    StructField("db_system", StringType),
    StructField("resource_instance_id", StringType),
    StructField("db_statement_digest", StringType),
    StructField("body", StringType),
    StructField("delta_value", DoubleType)))

  /** Flatten a delta DataFrame `(ts, user_id, event_type, delta_value)`
    * into OTel-log-record rows. */
  def toLogRecords(deltas: DataFrame): DataFrame =
    deltas
      .filter(col("delta_value") > 0)
      .select(
        col("ts").as("timestamp"),
        lit("INFO").as("severity_text"),
        lit("graft").as("service_name"),
        when(col("user_id") % 2 === 0, "mysql").otherwise("postgresql").as("db_system"),
        concat(lit("instance-"), col("user_id")).as("resource_instance_id"),
        col("event_type").as("db_statement_digest"),
        col("event_type").as("body"),
        col("delta_value"))

  /** Microsecond-exact timestamp format for the JSON wire: the default
    * JSON timestampFormat keeps milliseconds only, which would corrupt
    * the collector's event times on the way through the file.
    */
  private val TsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** Write records to `path`, replacing whatever an earlier write left. */
  def writeJson(records: DataFrame, path: String): Unit =
    records.write.mode("overwrite")
      .option("timestampFormat", TsFormat).json(path)

  /** Read the wire under the pinned [[WireSchema]]: the record shape is
    * a contract, not something to re-infer per file at 100 TB
    * (inference is an extra full pass over the data).
    */
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(WireSchema).option("timestampFormat", TsFormat).json(path)
}
