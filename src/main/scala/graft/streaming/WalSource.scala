package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The ingest write-ahead-log source, abstracted over transport.
  *
  * The reference's entire write side is a Kafka WAL: producers append
  * blocks to a topic, a consumer tails it and commits batches to the
  * table, and the committed sequence number IS the Kafka offset
  * (daisy `src/DistributedWriteAheadLog/KafkaWAL.cpp:346-470` append /
  * consume, `DistributedMergeTreeBlockOutputStream.cpp:108-198` ack
  * modes). Structured Streaming has the same contract natively: a
  * replayable offset-tracked source + checkpointed sink = exactly-once
  * table commits.
  *
  * Two transports behind one record schema:
  *
  *  - [[kafka]] — `readStream.format("kafka")`, the production path. The
  *    connector jar (`spark-sql-kafka-0-10`) is resolved by Spark at
  *    runtime from the cluster's classpath; THIS build environment has no
  *    Kafka artifact and no network, so the wiring compiles (the format
  *    is late-bound by name) but can only execute on a real deployment —
  *    which is exactly where it would run.
  *  - [[files]] — the file-drop WAL used by the test suite
  *    (StreamingSpec): each dropped JSON file is an appended WAL segment;
  *    checkpointed offsets play the commit-SN role identically.
  *
  * Both normalize to the WAL record shape `(value, _wal_time)` so the
  * downstream commit pipeline (`StreamOps.dedupByIdem` →
  * `withTimeDefaulting` → table append) is transport-agnostic — swapping
  * file-WAL for Kafka-WAL changes ONE reader call, not the pipeline.
  *
  * Ack modes map onto the producer, not this source: the reference's
  * acks=all/1/0 are Kafka producer settings
  * (`DistributedMergeTreeBlockOutputStream.cpp` request_required_acks);
  * REST ingest (`rest/Catalog.ingest`) is the synchronous acks=all
  * analogue in this build.
  */
object WalSource {

  /** Kafka transport (production): offsets are the commit SNs; the
    * `startingOffsets` default resumes from the checkpoint exactly like
    * the reference's recovered `last_sn`. */
  def kafka(spark: SparkSession, brokers: String, topic: String,
            startingOffsets: String = "earliest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(col("value").cast("string").as("value"),
        col("timestamp").as("_wal_time"))

  /** File-drop transport (tests / air-gapped): each file in `dir` is an
    * appended WAL segment of JSON rows; `maxFilesPerTrigger` bounds the
    * per-batch commit size like the reference's consume batch cap
    * (`KafkaWAL.cpp` consume `max_rows`). */
  def files(spark: SparkSession, dir: String,
            maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .select(col("value"), current_timestamp().as("_wal_time"))

  /** One consumed broker record as seen by the streaming pipeline:
    * `_wal_sn` is the broker offset = the commit sequence number. */
  final case class BrokerRecord(value: String, _wal_partition: Int,
                                _wal_sn: Long, _wal_time: java.sql.Timestamp)

  /** Fake-broker transport: tails a [[FakeBroker]] into a MemoryStream so
    * the FULL commit pipeline (consume → decode → idem dedup →
    * checkpointed commit) actually executes against a replayable
    * non-file source in this broker-less environment. Plays the role of
    * `KafkaWALConsumer` (daisy `KafkaWAL.cpp` consume loop): [[pump]] is
    * one consumer poll; the tail owns its fetch positions, the broker
    * stays a dumb log. Swapping this for [[kafka]] changes one reader
    * call — the record shape and pipeline are identical. */
  final class BrokerTail(broker: FakeBroker, spark: SparkSession) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream: MemoryStream[BrokerRecord] = MemoryStream[BrokerRecord]
    private val positions = Array.fill(broker.numPartitions)(0L)

    /** One consumer poll over all partitions (consume batch cap `max`
      * per partition, like `KafkaWAL.cpp` `max_rows`). Returns the
      * number of records pulled into the stream. */
    def pump(max: Int = 10000): Int = synchronized {
      var n = 0
      for (p <- 0 until broker.numPartitions) {
        val recs = broker.fetch(p, positions(p), max)
        if (recs.nonEmpty) {
          stream.addData(recs.map(r =>
            BrokerRecord(r.value, r.partition, r.offset, r.walTime)))
          positions(p) = recs.last.offset + 1
          n += recs.length
        }
      }
      n
    }

    /** The WAL record shape shared with the kafka()/files() transports,
      * keeping the SN and partition as metadata columns. */
    def toDF: DataFrame =
      stream.toDF().select(col("value"), col("_wal_time"),
        col("_wal_partition"), col("_wal_sn"))
  }

  /** Decode JSON WAL payloads to typed rows (the consumer side of
    * `KafkaWAL.cpp` deserializeBlock): malformed records become null
    * structs the caller can route to a dead-letter sink instead of
    * poisoning the commit loop. */
  def decodeJson(wal: DataFrame, rowSchema: StructType): DataFrame = {
    // keep every transport metadata column (_wal_time, and for the broker
    // transport _wal_partition/_wal_sn) alongside the decoded payload
    val meta = wal.columns.filter(_ != "value").map(col).toSeq
    wal.select(from_json(col("value"), rowSchema).as("row") +: meta: _*)
      .select(col("row.*") +: meta: _*)
  }
}
