package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Rawstore — the reference's schema-on-read log store (daisy:
  * `src/Server/RestRouterHandlers/RawstoreTableRestRouterHandler.cpp:84-95`:
  * fixed columns `_raw String, _time, _index_time, sourcetype, source,
  * host`; fields inside `_raw` are extracted at QUERY time, not ingest
  * time).
  *
  * Spark mapping: the fixed StructType below + `from_json`/regexp
  * extraction Columns. Extraction stays codegen'd and pushdown-friendly
  * (a sourcetype filter prunes before any parsing happens).
  */
object Rawstore {

  val schema: StructType = StructType(Seq(
    StructField("_raw", StringType, nullable = false),
    StructField("_time", TimestampType, nullable = false),
    StructField("_index_time", TimestampType, nullable = false),
    StructField("sourcetype", StringType, nullable = false),
    StructField("source", StringType, nullable = true),
    StructField("host", StringType, nullable = true)))

  /** Shape an arbitrary frame into the rawstore schema. `rawCol` becomes
    * `_raw`; `_index_time` defaults to ingestion time. */
  def ingest(df: DataFrame, rawCol: String, timeCol: String,
             sourcetype: String, source: String = "app",
             host: String = "localhost"): DataFrame =
    df.select(
      col(rawCol).cast("string").as("_raw"),
      coalesce(col(timeCol), current_timestamp()).as("_time"),
      current_timestamp().as("_index_time"),
      lit(sourcetype).as("sourcetype"),
      lit(source).as("source"),
      lit(host).as("host"))

  /** Query-time JSON field extraction from `_raw` (daisy queries rawstores
    * with JSONExtract* over `_raw`). */
  def jsonField(field: String): org.apache.spark.sql.Column =
    get_json_object(col("_raw"), s"$$.$field")
}
