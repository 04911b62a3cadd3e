package graft

import java.sql.Timestamp
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}
import org.scalatest.time.{Millis, Seconds, Span}

import graft.streaming._
import graft.streaming.FakeBroker.ErrQueueFull

/** Executes the Kafka/WAL ingest contract end-to-end against the
  * in-memory [[FakeBroker]]: all four ingest/ack modes
  * (daisy `DistributedMergeTreeBlockOutputStream.cpp:108-198`), async
  * ingest-status polling (`StorageDistributedMergeTree.cpp:871-901`),
  * out-of-order commit-SN sequencing (`:998-1070`), and the full
  * produce → consume → checkpointed-commit pipeline where the committed
  * offsets ARE the commit sequence numbers. */
class FakeWalSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def payload(idem: String, minute: Int, user: Long): String =
    s"""{"_idem":"$idem","_time":"2024-03-01T10:${"%02d".format(minute)}:00.000Z","user_id":$user,"event_type":"view","value":1.0}"""

  private val rowSchema = StructType(Seq(
    StructField("_idem", StringType), StructField("_time", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  test("ordered mode: blocking appends return strictly ordered SNs per partition") {
    val broker = new FakeBroker(numPartitions = 2)
    try {
      val producer = new WalProducer(broker)
      val res = producer.write(Seq(
        (0, payload("a", 0, 1)), (1, payload("b", 1, 2)),
        (0, payload("c", 2, 3)), (0, payload("d", 3, 4))), "ordered")
      // per-partition offsets are contiguous from 0 in append order
      assert(res.sns.filter(_._1 == 0).map(_._2) == Seq(0L, 1L, 2L))
      assert(res.sns.filter(_._1 == 1).map(_._2) == Seq(0L))
      assert(broker.endOffset(0) == 3 && broker.endOffset(1) == 1)
    } finally broker.shutdown()
  }

  test("ordered mode: broker error fails the whole insert") {
    val broker = new FakeBroker()
    try {
      broker.failNextAppends.set(1)
      val ex = intercept[IllegalStateException] {
        new WalProducer(broker).write(Seq((0, payload("a", 0, 1))), "ordered")
      }
      assert(ex.getMessage.contains(ErrQueueFull.toString))
      assert(broker.endOffset(0) == 0) // nothing committed
    } finally broker.shutdown()
  }

  test("sync mode: returns only after every delivery callback (committed == outstanding)") {
    val broker = new FakeBroker(numPartitions = 4)
    try {
      val producer = new WalProducer(broker)
      val blocks = (0 until 64).map(i => (i, payload(s"k$i", i % 60, i.toLong)))
      val res = producer.write(blocks, "sync")
      // by the time write() returns, every block has a delivered SN
      assert(res.sns.length == 64 && res.sns.forall(_._2 >= 0))
      assert((0 until 4).map(broker.endOffset).sum == 64)
    } finally broker.shutdown()
  }

  test("sync mode: one failed delivery fails the insert") {
    val broker = new FakeBroker()
    try {
      broker.failNextAppends.set(1)
      val ex = intercept[IllegalStateException] {
        new WalProducer(broker).write(
          (0 until 3).map(i => (0, payload(s"k$i", i, i.toLong))), "sync")
      }
      assert(ex.getMessage.contains("sync"))
    } finally broker.shutdown()
  }

  test("async mode: poll-id status goes processing → committed with the commit SNs") {
    val broker = new FakeBroker()
    try {
      val producer = new WalProducer(broker)
      val res = producer.write(
        (0 until 5).map(i => (0, payload(s"k$i", i, i.toLong))), "async",
        pollId = "poll-1")
      assert(res.pollId == "poll-1")
      eventually(timeout(Span(5, Seconds)), interval(Span(20, Millis))) {
        val st = producer.ingesting.status("poll-1").get
        assert(st.status == "committed" && st.committed == 5)
        // the reported ingest-status offsets ARE the broker commit SNs
        assert(st.sns == Seq(0L, 1L, 2L, 3L, 4L))
      }
      assert(producer.ingesting.status("nope").isEmpty)
    } finally broker.shutdown()
  }

  test("async mode: delivery error surfaces as failed status") {
    val broker = new FakeBroker()
    try {
      val producer = new WalProducer(broker)
      broker.failNextAppends.set(1)
      producer.write((0 until 2).map(i => (0, payload(s"k$i", i, i.toLong))),
        "async", pollId = "poll-err")
      eventually(timeout(Span(5, Seconds)), interval(Span(20, Millis))) {
        val st = producer.ingesting.status("poll-err").get
        assert(st.status == "failed" && st.err == ErrQueueFull)
      }
    } finally broker.shutdown()
  }

  test("fire_and_forget mode: returns immediately, records land, no status") {
    val broker = new FakeBroker()
    try {
      val producer = new WalProducer(broker)
      val res = producer.write(
        (0 until 3).map(i => (0, payload(s"k$i", i, i.toLong))),
        "fire_and_forget", pollId = "poll-ff")
      assert(res.sns.isEmpty)
      assert(producer.ingesting.status("poll-ff").isEmpty) // no tracking at all
      eventually(timeout(Span(5, Seconds)), interval(Span(20, Millis))) {
        assert(broker.endOffset(0) == 3)
      }
    } finally broker.shutdown()
  }

  test("fetch without a cap returns the rest of the log from any offset") {
    val broker = new FakeBroker()
    try {
      (0 until 5).foreach(i => broker.append(0, s"k$i", payload(s"k$i", i, i.toLong)))
      assert(broker.fetch(0, 2L).map(_.offset) == Seq(2L, 3L, 4L))
      assert(broker.fetch(0, 3L, max = 1).map(_.offset) == Seq(3L))
    } finally broker.shutdown()
  }

  test("unknown ingest mode rejected") {
    val broker = new FakeBroker()
    try intercept[IllegalArgumentException] {
      new WalProducer(broker).write(Seq((0, "x")), "mostly_sync")
    } finally broker.shutdown()
  }

  test("commit tracker: out-of-order commits fold into a contiguous committed SN") {
    val t = new CommitTracker()
    assert(t.committedSN == -1L)
    t.recordCommitted(0); assert(t.committedSN == 0L)
    t.recordCommitted(2); assert(t.committedSN == 0L) // gap at 1
    assert(t.pending == Seq(2L))
    t.recordCommitted(1); assert(t.committedSN == 2L) // gap closed, folds forward
    assert(t.pending.isEmpty)
    t.recordCommitted(3); assert(t.committedSN == 3L)
  }

  test("end-to-end: produce → consume → checkpointed commit → offsets = commit SN, " +
    "idem dedup across batches, resume from checkpoint without re-commit") {
    val broker = new FakeBroker()
    val baseDir = java.nio.file.Files.createTempDirectory("fakewal")
    val base = baseDir.toString
    try {
      val producer = new WalProducer(broker)
      val tail = new WalSource.BrokerTail(broker, spark)
      val decoded = WalSource.decodeJson(tail.toDF, rowSchema)
      val pipeline = StreamOps.withTimeDefaulting(decoded)
      val committer = new WalCommitter(base + "/out")

      def start() = pipeline.writeStream
        .option("checkpointLocation", base + "/ckpt")
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          committer.commitBatch(batch)
        }.start()

      // batch 1: sync-mode produce, one in-batch duplicate idem key
      producer.write(Seq(
        (0, payload("a", 0, 1)), (0, payload("b", 1, 2)),
        (0, payload("a", 0, 1))), "sync")
      var q = start()
      try { tail.pump(); q.processAllAvailable() } finally q.stop()

      // ALL three SNs are table-committed — the deduped record still
      // advances the committed SN (reference :1093)
      assert(committer.committedSN(0) == 2L)
      val afterB1 = spark.read.schema(rowSchema).parquet(base + "/out")
      assert(afterB1.count() == 2) // dup "a" dropped by idem dedup

      // batch 2 while the query is DOWN: ordered-mode produce, one
      // cross-batch duplicate ("b") and one new key
      producer.write(Seq(
        (0, payload("b", 1, 2)), (0, payload("e", 4, 5))), "ordered")

      // resume from the checkpoint: same source, same checkpoint dir —
      // the recovered offset (= committed SN) means batch 1 is NOT re-read
      q = start()
      try { tail.pump(); q.processAllAvailable() } finally q.stop()

      assert(committer.committedSN(0) == broker.endOffset(0) - 1) // = 4
      val committed = spark.read.schema(rowSchema).parquet(base + "/out")
        .select("_idem").as[String].collect().sorted.toSeq
      // a,b from batch 1; e from batch 2; cross-batch dup "b" dropped;
      // nothing from batch 1 re-committed on resume
      assert(committed == Seq("a", "b", "e"))
    } finally {
      broker.shutdown()
      org.apache.commons.io.FileUtils.deleteDirectory(baseDir.toFile)
    }
  }
}
