package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamOps
import graft.streaming.StreamOps.IngestRow

/** Drives the streaming operators with MemoryStream sources and memory
  * sinks (batch-synchronous via processAllAvailable). */
class StreamingSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("ingest pipeline: _time defaulting + idempotent dedup") {
    implicit val sql = spark.sqlContext
    val src = MemoryStream[IngestRow]
    val deduped = StreamOps.dedupByIdem(
      StreamOps.withTimeDefaulting(src.toDF()))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      src.addData(
        IngestRow("k1", ts(0), 1L, "view", 1.0),
        IngestRow("k1", ts(0), 1L, "view", 1.0), // dup _idem
        IngestRow("k2", ts(1), 1L, "click", 2.0),
        IngestRow("k3", null, 2L, "view", 3.0))  // null _time → defaulted
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      assert(rows.length == 3)
      assert(rows.forall(!_.isNullAt(rows.head.fieldIndex("_time"))))
    } finally q.stop()
  }

  test("file-source ingest: JSON dir → idem dedup → checkpointed parquet commit") {
    // the closest this environment gets to the Kafka WAL tail (no broker
    // ships with the image): a REAL file source with schema, checkpointed
    // offsets (= commit SNs), cross-batch idempotent dedup, parquet
    // commit, then a time-bounded read over the committed table.
    import org.apache.spark.sql.types._
    val base = tmp("stream_file_") + System.nanoTime()
    val inDir = new java.io.File(base + "/in"); inDir.mkdirs()
    def writeBatch(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        new java.io.File(inDir, name).toPath, rows.mkString("\n"))
    val schema = StructType(Seq(
      StructField("_idem", StringType), StructField("_time", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    writeBatch("b1.json", Seq(
      """{"_idem":"a","_time":"2024-03-01T10:00:00.000Z","user_id":1,"event_type":"view","value":1.5}""",
      """{"_idem":"b","_time":"2024-03-01T10:01:00.000Z","user_id":2,"event_type":"click","value":2.0}""",
      """{"_idem":"a","_time":"2024-03-01T10:00:00.000Z","user_id":1,"event_type":"view","value":1.5}"""))
    val stream = spark.readStream.schema(schema).json(base + "/in")
    val q = StreamOps.dedupByIdem(StreamOps.withTimeDefaulting(stream))
      .writeStream.format("parquet")
      .option("path", base + "/out")
      .option("checkpointLocation", base + "/ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      writeBatch("b2.json", Seq(
        """{"_idem":"b","_time":"2024-03-01T10:01:00.000Z","user_id":2,"event_type":"click","value":2.0}""",
        """{"_idem":"c","_time":"2024-03-01T10:02:00.000Z","user_id":3,"event_type":"view","value":4.0}"""))
      q.processAllAvailable()
    } finally q.stop()
    val committed = spark.read.schema(schema).parquet(base + "/out")
    // within-batch AND cross-batch _idem dups dropped: a, b, c survive
    assert(committed.count() == 3)
    committed.createOrReplaceTempView("stream_committed")
    val bounded = graft.sql.Search.timeBounded(spark,
      "SELECT user_id, value, _time FROM stream_committed",
      "2024-03-01 10:00:00", "2024-03-01 10:01:00")
    assert(bounded.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("WAL source abstraction: file transport → json decode → dedup → " +
    "commit (transport-swappable with the kafka() reader)") {
    import org.apache.spark.sql.types._
    val base = tmp("stream_wal_") + System.nanoTime()
    val inDir = new java.io.File(base + "/in"); inDir.mkdirs()
    val schema = StructType(Seq(
      StructField("_idem", StringType), StructField("_time", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    java.nio.file.Files.writeString(new java.io.File(inDir, "seg1.jsonl").toPath,
      Seq(
        """{"_idem":"x","_time":"2024-03-01T10:00:00.000Z","user_id":1,"event_type":"view","value":1.0}""",
        """{"_idem":"y","_time":"2024-03-01T10:01:00.000Z","user_id":2,"event_type":"click","value":2.0}""",
        """{"_idem":"x","_time":"2024-03-01T10:00:00.000Z","user_id":1,"event_type":"view","value":1.0}""",
        """not json at all""").mkString("\n"))
    val wal = graft.streaming.WalSource.files(spark, base + "/in")
    val decoded = graft.streaming.WalSource.decodeJson(wal, schema)
    // route undecodable segments out instead of poisoning the commit
    val valid = decoded.filter($"_idem".isNotNull).drop("_wal_time")
    val q = StreamOps.dedupByIdem(StreamOps.withTimeDefaulting(valid))
      .writeStream.format("parquet")
      .option("path", base + "/out")
      .option("checkpointLocation", base + "/ckpt")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val committed = spark.read.schema(schema).parquet(base + "/out")
    assert(committed.count() == 2) // dup dropped, malformed routed out
  }

  test("tumbling event-time aggregation with watermark") {
    implicit val sql = spark.sqlContext
    val src = MemoryStream[IngestRow]
    val agg = StreamOps.tumblingAgg(src.toDF(), "_time", "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tumble_out").start()
    try {
      src.addData(
        IngestRow("a", ts(0), 1L, "view", 1.0),
        IngestRow("b", ts(1), 1L, "view", 2.0),
        IngestRow("c", ts(6), 2L, "view", 3.0),
        IngestRow("d", ts(7), 2L, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("tumble_out")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00.0", "view", 2L),
        ("2024-01-01 10:05:00.0", "view", 1L),
        ("2024-01-01 10:05:00.0", "click", 1L)))
    } finally q.stop()
  }

  test("stream-static enrichment join sees dimension updates per batch") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dimPath = tmp("enrich_dim_") + System.nanoTime()
    Seq((1L, "gold"), (2L, "basic")).toDF("dim_id", "tier")
      .write.mode("overwrite").parquet(dimPath)
    val src = MemoryStream[IngestRow]
    val enriched = StreamOps.enrich(src.toDF(),
        spark.read.parquet(dimPath), "user_id", "dim_id")
      .select($"_idem", $"user_id", $"tier")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      src.addData(IngestRow("a", ts(0), 1L, "view", 1.0),
        IngestRow("b", ts(1), 3L, "view", 2.0)) // 3 has no dim row yet
      q.processAllAvailable()
      val r1 = spark.table("enrich_out").collect()
        .map(r => r.getString(0) -> Option(r.getString(2))).toMap
      assert(r1 == Map("a" -> Some("gold"), "b" -> None))
    } finally q.stop()

    // Periodic dictionary reload (the reference's dictGet MV pattern):
    // join inside foreachBatch with a fresh dimension read per batch —
    // a mid-stream dimension rewrite IS visible to later batches.
    val src2 = MemoryStream[IngestRow]
    val seen = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val q2 = src2.toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamOps.enrich(batch, spark.read.parquet(dimPath),
            "user_id", "dim_id")
          .select($"_idem", $"tier").collect()
          .foreach(r => seen.put(r.getString(0),
            Option(r.getString(1)).getOrElse("null")))
    }.start()
    try {
      src2.addData(IngestRow("a", ts(0), 3L, "view", 1.0))
      q2.processAllAvailable()
      assert(seen.get("a") == "null")
      Seq((1L, "gold"), (2L, "basic"), (3L, "silver")).toDF("dim_id", "tier")
        .write.mode("overwrite").parquet(dimPath)
      src2.addData(IngestRow("b", ts(2), 3L, "view", 2.0))
      q2.processAllAvailable()
      assert(seen.get("b") == "silver", seen.toString)
    } finally q2.stop()
  }

  test("session windows close on gap") {
    implicit val sql = spark.sqlContext
    val src = MemoryStream[IngestRow]
    val agg = StreamOps.sessionAgg(src.toDF(), "_time", "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("sess_out").start()
    try {
      // user 1: two events 2min apart (one session), then 20min gap (new session)
      src.addData(
        IngestRow("a", ts(0), 1L, "view", 1.0),
        IngestRow("b", ts(2), 1L, "view", 1.0),
        IngestRow("c", ts(22), 1L, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
        .map(r => (r.getLong(1), r.getLong(2)))
      assert(rows.sorted.toSeq == Seq((1L, 1L), (1L, 2L)))
    } finally q.stop()
  }

  test("ReplacingMergeTree latest-row via flatMapGroupsWithState across batches") {
    implicit val sql = spark.sqlContext
    val src = MemoryStream[IngestRow]
    val latest = StreamOps.latestPerKey(src.toDS())
    // unbounded-key state must run on the spill-capable RocksDB provider
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    val q = latest.writeStream.outputMode("update")
      .format("memory").queryName("latest_out").start()
    try {
      src.addData(IngestRow("a", ts(0), 1L, "view", 1.0))
      q.processAllAvailable()
      src.addData(IngestRow("b", ts(5), 1L, "purchase", 9.0)) // newer
      src.addData(IngestRow("c", ts(2), 1L, "click", 5.0))    // older — ignored
      q.processAllAvailable()
      // last Update-mode emission for key 1 must be the ts(5) purchase
      val emissions = spark.table("latest_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      assert(emissions.last._3 == "purchase" ||
        emissions.count(_._3 == "purchase") == 1)
      assert(!emissions.exists(e => e._3 == "click" && e._2 > ts(5).getTime * 1000))
    } finally q.stop()
  }

  test("CollapsingMergeTree streaming state matches the batch FINAL emit rules across batches") {
    implicit val sql = spark.sqlContext
    import StreamOps.SignedRow
    val src = MemoryStream[SignedRow]
    val q = StreamOps.collapsingState(src.toDS()).writeStream
      .outputMode("update").format("memory").queryName("collapse_out").start()
    try {
      // batch 1: key 1 gets a state row; key 2 a state row
      src.addData(SignedRow(1L, 1L, 1, 10.0), SignedRow(2L, 2L, 1, 7.0))
      q.processAllAvailable()
      // batch 2: key 1 cancelled (balanced, ends on cancel → 0 survivors);
      // key 2 cancelled then re-stated (net +1 → 1 survivor, newest state)
      src.addData(SignedRow(1L, 3L, -1, 10.0),
        SignedRow(2L, 4L, -1, 7.0), SignedRow(2L, 5L, 1, 8.0))
      q.processAllAvailable()
      val last = spark.table("collapse_out").collect()
        .map(r => (r.getLong(0), r)).groupBy(_._1)
        .map { case (k, rs) => k -> rs.map(_._2).maxBy(_.getLong(4)) } // last_seq
      assert(last(1L).getInt(9) == 0, s"key 1 must fully cancel: ${last(1L)}")
      assert(last(2L).getInt(9) == 1 &&
        last(2L).getAs[Long]("last_pos_seq") == 5L &&
        last(2L).getAs[Double]("last_pos_value") == 8.0,
        s"key 2 must survive with the newest state row: ${last(2L)}")
      // cross-check against the batch operator on the same rows
      val batchRows = Seq((1L, 1L, 1, 10.0), (2L, 2L, 1, 7.0),
        (1L, 3L, -1, 10.0), (2L, 4L, -1, 7.0), (2L, 5L, 1, 8.0))
        .toDF("user_id", "seq", "sign", "value")
      val fin = graft.operators.MergeEngines
        .collapseFinal(batchRows, Seq("user_id"), "sign", "seq")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(fin.toSet == Set((2L, 5L)), fin.mkString(","))
    } finally q.stop()
  }

  test("streaming exact dedup canonicalizes across batches, lowest id wins") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.{ContentRow, DedupDecision}
    val src = MemoryStream[ContentRow]
    val q = StreamOps.streamingExactDedup(src.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      // batch 1: two copies of A (higher id first — min must win), one B
      src.addData(ContentRow(7L, "A"), ContentRow(3L, "A"), ContentRow(5L, "B"))
      q.processAllAvailable()
      // batch 2: A returns much later — still canonicalized to 3
      src.addData(ContentRow(9L, "A"), ContentRow(6L, "C"))
      q.processAllAvailable()
      val out = spark.table("dedup_out").as[DedupDecision].collect()
        .map(d => d.doc_id -> ((d.canonical_id, d.is_duplicate))).toMap
      assert(out == Map(
        7L -> ((3L, true)), 3L -> ((3L, false)), 5L -> ((5L, false)),
        9L -> ((3L, true)), 6L -> ((6L, false))))
    } finally q.stop()
  }

  test("materialized view via foreachBatch with periodic trigger") {
    implicit val sql = spark.sqlContext
    val src = MemoryStream[IngestRow]
    val q = src.toDF().writeStream
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.groupBy($"event_type").count()
          .write.mode("overwrite").format("noop").save()
        ()
      }.start()
    try {
      src.addData(IngestRow("a", ts(0), 1L, "view", 1.0))
      q.processAllAvailable()
      assert(q.lastProgress != null || q.status != null)
    } finally q.stop()
  }
}
