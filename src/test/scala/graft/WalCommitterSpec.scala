package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Millis, Seconds, Span}

import graft.streaming.{FakeBroker, WalCommitter, WalSource}

/** The consumer commit contract of [[WalCommitter.commitBatch]]
  * (daisy `StorageDistributedMergeTree.cpp:1041-1101`): the first record
  * per idempotent key wins within a batch, keys in the recent-key index
  * are dropped across batches, keyless records are never deduped,
  * dropped records still advance the committed SN, and an evicted key is
  * admitted again. The last case pins that a commit's work does not grow
  * with the size of the recent-key index. */
class WalCommitterSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val rowSchema = StructType.fromDDL("_idem STRING, user_id BIGINT")

  private def payload(idem: String, user: Long): String =
    if (idem == null) s"""{"user_id":$user}"""
    else s"""{"_idem":"$idem","user_id":$user}"""

  /** One consumer poll: every record of `broker` at or past `from(p)` in
    * each partition p, decoded as the streaming pipeline decodes it;
    * advances `from`. */
  private def consume(broker: FakeBroker, from: Array[Long]): DataFrame = {
    val recs = (0 until broker.numPartitions).flatMap { p =>
      val r = broker.fetch(p, from(p))
      if (r.nonEmpty) from(p) = r.last.offset + 1
      r
    }
    WalSource.decodeJson(
      recs.map(r => (r.value, r.partition, r.offset))
        .toDF("value", "_wal_partition", "_wal_sn"), rowSchema)
  }

  private def committed(table: String): Seq[(String, Long)] =
    spark.read.schema(rowSchema).parquet(table)
      .as[(String, Long)].collect().toSeq.sortBy(r => (Option(r._1), r._2))

  private def withTable(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("walcommit")
    try body(dir.resolve("t").toString)
    finally FileUtils.deleteDirectory(dir.toFile)
  }

  test("the same idem key in two partitions of one batch commits once, from its lowest SN") {
    withTable { table =>
      val broker = new FakeBroker(numPartitions = 2)
      try {
        val from = Array(0L, 0L)
        broker.append(0, "c", payload("c", 1))
        broker.append(1, "a", payload("a", 2)) // partition 1, SN 0
        broker.append(0, "a", payload("a", 3)) // partition 0, SN 1
        broker.append(1, "b", payload("b", 4))
        val committer = new WalCommitter(table)
        committer.commitBatch(consume(broker, from))
        assert(committed(table) == Seq(("a", 2L), ("b", 4L), ("c", 1L)))
        assert(committer.committedSN(0) == 1L && committer.committedSN(1) == 1L)
      } finally broker.shutdown()
    }
  }

  test("keyless records are always kept, within and across batches") {
    withTable { table =>
      val broker = new FakeBroker()
      try {
        val from = Array(0L)
        val committer = new WalCommitter(table)
        Seq(null, null, "a").foreach(k => broker.append(0, k, payload(k, 7)))
        committer.commitBatch(consume(broker, from))
        Seq(null, "a").foreach(k => broker.append(0, k, payload(k, 7)))
        committer.commitBatch(consume(broker, from))
        assert(committed(table) == Seq((null, 7L), (null, 7L), (null, 7L), ("a", 7L)))
        assert(committer.committedSN(0) == 4L)
      } finally broker.shutdown()
    }
  }

  test("a batch of only known keys appends nothing but still advances the committed SN") {
    withTable { table =>
      val broker = new FakeBroker()
      try {
        val from = Array(0L)
        val committer = new WalCommitter(table)
        Seq("a", "b").foreach(k => broker.append(0, k, payload(k, 1)))
        committer.commitBatch(consume(broker, from))
        Seq("b", "a", "a").foreach(k => broker.append(0, k, payload(k, 2)))
        committer.commitBatch(consume(broker, from))
        assert(committed(table) == Seq(("a", 1L), ("b", 1L)))
        assert(committer.committedSN(0) == 4L)
      } finally broker.shutdown()
    }
  }

  test("a key evicted from a small recent-key index is admitted again") {
    withTable { table =>
      val broker = new FakeBroker()
      try {
        val from = Array(0L)
        val committer = new WalCommitter(table, maxIdemKeys = 2)
        broker.append(0, "a", payload("a", 1))
        committer.commitBatch(consume(broker, from))
        Seq("b", "c").foreach(k => broker.append(0, k, payload(k, 2)))
        committer.commitBatch(consume(broker, from)) // evicts "a"
        Seq("a", "b").foreach(k => broker.append(0, k, payload(k, 3)))
        committer.commitBatch(consume(broker, from))
        assert(committed(table) == Seq(("a", 1L), ("a", 3L), ("b", 2L), ("c", 2L)))
        assert(committer.committedSN(0) == 4L)
      } finally broker.shutdown()
    }
  }

  test("the append's plan does not grow with the recent-key index") {
    withTable { table =>
      val appends = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          if (qe.analyzed.exists {
                case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString.endsWith(table)
                case _ => false
              }) appends.add(qe)
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      val broker = new FakeBroker()
      spark.listenerManager.register(listener)
      try {
        val from = Array(0L)
        val committer = new WalCommitter(table)
        val batches = 6
        val perBatch = 20
        (0 until batches).foreach { b =>
          // every batch repeats the previous batch's keys and adds new ones
          (math.max(0, b - 1) * perBatch until (b + 1) * perBatch)
            .foreach(i => broker.append(0, s"k$i", payload(s"k$i", b)))
          committer.commitBatch(consume(broker, from))
        }
        assert(committed(table).map(_._1).distinct.size == batches * perBatch)
        eventually(timeout(Span(10, Seconds)), interval(Span(20, Millis))) {
          assert(appends.size == batches)
        }
        val last = appends.toArray(Array.empty[QueryExecution]).last
        val inSizes = last.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
          case i: In => i.list.size
          case s: InSet => s.hset.size
        }))
        // the recent-key index holds (batches - 1) * perBatch keys before
        // the last batch; a literal list that long means the commit
        // ships the index into every plan
        assert(inSizes.forall(_ <= 2 * perBatch),
          s"append plan holds IN lists of $inSizes values")
      } finally {
        spark.listenerManager.unregister(listener)
        broker.shutdown()
      }
    }
  }
}
