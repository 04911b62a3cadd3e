package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable

/** An in-memory broker implementing the write-ahead-log append/consume
  * contract of the reference's Kafka WAL, so the ingest pipeline can be
  * EXECUTED in an environment with no broker and no Kafka jar.
  *
  * Contract mirrored (daisy `src/DistributedWriteAheadLog/KafkaWAL.cpp`):
  *  - `append` assigns a per-partition monotone offset — the offset IS
  *    the commit sequence number (`KafkaWAL.cpp:346-370` waits for the
  *    delivery report and returns `{.sn = dr->offset}`).
  *  - Delivery reports fire asynchronously on a broker thread
  *    (`rd_kafka_poll` driving `deliveryReport`), never on the caller's
  *    thread, so sync/async producer modes are genuinely exercised.
  *  - Records carry an optional idempotent key header
  *    (`Record::IDEMPOTENT_KEY`, `Record.h:19,39-41`).
  *  - Consumers poll `(partition, fromOffset)` batches
  *    (`KafkaWALConsumer` consume with `max_rows`) and own their commit
  *    positions — the broker is a dumb replayable log.
  *
  * Failure injection (`failNextAppends`) stands in for
  * `RD_KAFKA_RESP_ERR__QUEUE_FULL`-style producer errors so the error
  * paths of all four ingest modes are testable.
  *
  * This is the test/air-gapped transport; `WalSource.kafka` remains the
  * late-bound production path — the two meet at the same record shape
  * and the same downstream commit pipeline.
  */
final class FakeBroker(val numPartitions: Int = 1) {
  import FakeBroker._

  private val logs: Array[mutable.ArrayBuffer[WalRecord]] =
    Array.fill(numPartitions)(mutable.ArrayBuffer.empty[WalRecord])
  /** Simulated producer-side broker errors: the next N appends fail. */
  val failNextAppends = new AtomicInteger(0)

  // Single-threaded delivery executor = rdkafka's poll thread: delivery
  // reports are ordered and asynchronous w.r.t. the producing caller.
  private val deliveryPool = Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "fake-broker-delivery"); t.setDaemon(true); t
  })

  /** Synchronous append: assign the offset, then (like the reference's
    * blocking `append`) deliver the report before returning. */
  def append(partitionKey: Int, idemKey: String, value: String): AppendResult = {
    val latch = new CountDownLatch(1)
    @volatile var res: AppendResult = null
    appendAsync(partitionKey, idemKey, value, r => { res = r; latch.countDown() })
    latch.await()
    res
  }

  /** Async append: the offset is assigned under the log lock (brokers
    * serialize appends per partition); the delivery report — success or
    * injected error — arrives later on the delivery thread. */
  def appendAsync(partitionKey: Int, idemKey: String, value: String,
                  onDelivery: AppendResult => Unit): Unit = {
    val p = math.floorMod(partitionKey, numPartitions)
    val res =
      if (failNextAppends.getAndUpdate(n => math.max(0, n - 1)) > 0)
        AppendResult(err = ErrQueueFull, sn = -1L, partition = p)
      else logs(p).synchronized {
        val off = logs(p).length.toLong
        logs(p) += WalRecord(p, off, Option(idemKey), value,
          new Timestamp(System.currentTimeMillis()))
        AppendResult(err = 0, sn = off, partition = p)
      }
    if (onDelivery != null) deliveryPool.execute(() => onDelivery(res))
  }

  /** Consumer poll: records of `partition` with offset >= `fromOffset`,
    * at most `max` (the consume batch cap, `KafkaWAL.cpp` `max_rows`). */
  def fetch(partition: Int, fromOffset: Long, max: Int = Int.MaxValue): Seq[WalRecord] =
    logs(partition).synchronized {
      val log = logs(partition)
      if (fromOffset >= log.length) Seq.empty
      else log.slice(fromOffset.toInt, math.min(log.length.toLong, fromOffset + max).toInt).toSeq
    }

  /** Next offset to be assigned in `partition` (Kafka end offset). */
  def endOffset(partition: Int): Long =
    logs(partition).synchronized(logs(partition).length.toLong)

  def shutdown(): Unit = {
    deliveryPool.shutdown()
    deliveryPool.awaitTermination(5, TimeUnit.SECONDS)
  }
}

object FakeBroker {
  /** One committed WAL record; `offset` is the commit SN. */
  final case class WalRecord(partition: Int, offset: Long, idemKey: Option[String],
                             value: String, walTime: Timestamp)
  /** Mirror of the reference's `AppendResult {err, sn, partition}`. */
  final case class AppendResult(err: Int, sn: Long, partition: Int)
  val ErrQueueFull = 1001
}

/** Producer side of the WAL: the four ingest/ack modes of the
  * reference's `DistributedMergeTreeBlockOutputStream::write`
  * (`DistributedMergeTreeBlockOutputStream.cpp:108-198`):
  *
  *  - `ordered` — per-block blocking append; the returned SNs are the
  *    commit sequence numbers, strictly ordered per partition.
  *  - `sync` — all blocks appended with delivery callbacks; `write`
  *    returns only when committed == outstanding (writeCallback
  *    counting), failing the whole insert on any error.
  *  - `async` — returns immediately with a poll id; delivery callbacks
  *    retire blocks from the [[IngestingBlocks]] registry, which the
  *    ingest-status endpoint polls (`StorageDistributedMergeTree.cpp:
  *    871-901` writeCallbackData / ingesting_blocks).
  *  - `fire_and_forget` — append without a callback; no status at all.
  */
final class WalProducer(broker: FakeBroker) {
  import FakeBroker._

  val ingesting = new IngestingBlocks

  /** Write `blocks` (already sharded: partitionKey → payload rows) under
    * `mode`. Returns the per-block SNs for ordered mode, the committed
    * count for sync, the poll id for async, -1s for fire_and_forget. */
  def write(blocks: Seq[(Int, String)], mode: String,
            idemKey: String = null,
            pollId: String = java.util.UUID.randomUUID().toString): WriteResult =
    mode match {
      case "ordered" =>
        val sns = blocks.map { case (pk, v) =>
          val r = broker.append(pk, idemKey, v)
          if (r.err != 0) throw new IllegalStateException(
            s"Failed to insert data ordered: err=${r.err}")
          (r.partition, r.sn)
        }
        WriteResult(pollId, sns)
      case "sync" =>
        val latch = new CountDownLatch(blocks.size)
        val firstErr = new AtomicInteger(0)
        val sns = new ConcurrentHashMap[Int, Long]()
        blocks.zipWithIndex.foreach { case ((pk, v), i) =>
          broker.appendAsync(pk, idemKey, v, r => {
            if (r.err != 0) firstErr.compareAndSet(0, r.err)
            else sns.put(i, r.sn)
            latch.countDown()
          })
        }
        latch.await() // committed == outstanding, the writeCallback loop
        if (firstErr.get() != 0) throw new IllegalStateException(
          s"Failed to insert data sync: err=${firstErr.get()}")
        WriteResult(pollId, blocks.indices.map(i => (blocks(i)._1, sns.get(i))))
      case "async" =>
        blocks.indices.foreach(i => ingesting.add(pollId, i))
        blocks.zipWithIndex.foreach { case ((pk, v), i) =>
          broker.appendAsync(pk, idemKey, v, r => {
            if (r.err != 0) ingesting.fail(pollId, r.err)
            else ingesting.remove(pollId, i, r.sn)
          })
        }
        WriteResult(pollId, Seq.empty)
      case "fire_and_forget" =>
        blocks.foreach { case (pk, v) => broker.appendAsync(pk, idemKey, v, null) }
        WriteResult(pollId, Seq.empty)
      case other =>
        throw new IllegalArgumentException(s"non-support ingest mode: $other")
    }
}

final case class WriteResult(pollId: String, sns: Seq[(Int, Long)])

/** Poll-id → outstanding-block registry backing async ingest status
  * (the reference's `ingesting_blocks` add/remove/fail,
  * `StorageDistributedMergeTree.cpp:871-901`). */
final class IngestingBlocks {
  private final case class St(outstanding: mutable.Set[Int],
                              committedSns: mutable.ArrayBuffer[Long],
                              var total: Int, var errCode: Int)
  private val states = new ConcurrentHashMap[String, St]()

  def add(pollId: String, blockId: Int): Unit = {
    val st = states.computeIfAbsent(pollId,
      _ => St(mutable.Set.empty, mutable.ArrayBuffer.empty, 0, 0))
    st.synchronized { st.outstanding += blockId; st.total += 1 }
  }
  def remove(pollId: String, blockId: Int, sn: Long): Unit =
    Option(states.get(pollId)).foreach(st => st.synchronized {
      st.outstanding -= blockId; st.committedSns += sn
    })
  def fail(pollId: String, err: Int): Unit =
    Option(states.get(pollId)).foreach(st => st.synchronized {
      st.errCode = err
    })

  /** Ingest status: `committed` counts delivered blocks; `sns` are their
    * commit sequence numbers (= broker offsets). */
  def status(pollId: String): Option[IngestStatus] =
    Option(states.get(pollId)).map(st => st.synchronized {
      val state =
        if (st.errCode != 0) "failed"
        else if (st.outstanding.isEmpty) "committed"
        else "processing"
      IngestStatus(state, st.total - st.outstanding.size, st.total,
        st.committedSns.sorted.toSeq, st.errCode)
    })
}

final case class IngestStatus(status: String, committed: Int, total: Int,
                              sns: Seq[Long], err: Int)

/** Consumer-side table committer: one consumed micro-batch → idempotent
  * dedup → distributed table append → commit-SN advance. Mirrors the
  * reference's consumer commit loop
  * (`StorageDistributedMergeTree.cpp:1041-1101` commitSNLocal + doCommit):
  *
  *  - idempotent dedup consults an in-memory recent-key index held on
  *    the consumer node (`buildIdempotentKeysIndex`) — bounded LRU, so
  *    dedup memory is O(maxIdemKeys) regardless of table size;
  *  - records dropped by dedup STILL advance the committed SN
  *    (`:1093` "We still mark these deduped blocks committed and moving
  *    forward") — SN ranges are taken over the CONSUMED batch, pre-dedup;
  *  - out-of-order batch commits fold through [[CommitTracker]], one per
  *    partition (per-shard committed SN).
  *
  * A batch commits in two Spark jobs. The first collects each record's
  * `(partition, SN, idem key)`, which the consume batch cap bounds, and
  * the driver decides dedup from it the way the reference's consumer
  * does: one hash lookup per record against the recent-key index. The
  * second is the fully distributed table append, filtered by the set of
  * dropped `(partition, SN)` records. Its plan therefore grows with the
  * batch, never with the index.
  */
final class WalCommitter(tablePath: String, maxIdemKeys: Int = 100000) {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, udf}

  private val trackers = new ConcurrentHashMap[Int, CommitTracker]()
  private val seenIdem =
    new java.util.LinkedHashMap[String, java.lang.Boolean](1024, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
        size() > maxIdemKeys
    }

  /** Per-partition committed SN (resume position is committedSN + 1). */
  def committedSN(partition: Int): Long =
    Option(trackers.get(partition)).map(_.committedSN).getOrElse(-1L)

  /** Commit one consumed micro-batch; rows must carry `_wal_partition`
    * and `_wal_sn` metadata columns plus the payload columns. */
  def commitBatch(batch: DataFrame): Unit = {
    val meta = batch.select("_wal_partition", "_wal_sn", "_idem").collect()
      .map(r => (r.getInt(0), r.getLong(1), Option(r.getString(2))))
    if (meta.isEmpty) return
    // consumed offset range per partition, PRE-dedup: the SN advance must
    // cover deduped records too (reference :1093)
    val ranges = meta.groupMapReduce(_._1)(m => (m._2, m._2)) {
      case ((lo1, hi1), (lo2, hi2)) => (math.min(lo1, lo2), math.max(hi1, hi2))
    }
    // within-batch: the first record per idem key wins (lowest SN, then
    // lowest partition); cross-batch: keys already in the recent-key
    // index are dropped; keyless records are always kept
    val first = mutable.LinkedHashMap.empty[String, (Int, Long)]
    meta.sortBy(m => (m._2, m._1)).foreach {
      case (p, sn, Some(k)) if !first.contains(k) => first(k) = (p, sn)
      case _ =>
    }
    val known = seenIdem.synchronized(first.keySet.filter(seenIdem.containsKey))
    val dropped = meta.collect {
      case (p, sn, Some(k)) if known(k) || first(k) != ((p, sn)) => (p, sn)
    }.toSet
    if (dropped.size < meta.length) {
      val kept =
        if (dropped.isEmpty) batch
        else {
          val keep = udf((p: Int, sn: Long) => !dropped((p, sn)))
          batch.filter(keep(col("_wal_partition"), col("_wal_sn")))
        }
      kept.drop("_wal_partition", "_wal_sn")
        .write.mode("append").parquet(tablePath)
      // commit hook: refresh projections registered over this table
      // (reference: inserts push blocks through dependent MVs)
      graft.plans.Projections.invalidatePath(tablePath)
      graft.core.QueryCache.invalidatePath(tablePath)
    }
    seenIdem.synchronized(first.keys.foreach(k => seenIdem.put(k, java.lang.Boolean.TRUE)))
    ranges.foreach { case (p, (lo, hi)) =>
      val t = trackers.computeIfAbsent(p, _ => new CommitTracker())
      (lo to hi).foreach(t.recordCommitted)
    }
  }
}

/** Consumer-side commit sequencing: out-of-order batch commits fold into
  * a contiguous committed-SN watermark, exactly the reference's
  * `outstanding_sns` / `local_committed_sns` dance
  * (`StorageDistributedMergeTree.cpp:998-1070` commitSNLocal): a SN is
  * only *the* committed SN once every SN below it is also committed —
  * that is what makes "resume from committedSN+1" safe after a crash.
  */
final class CommitTracker(start: Long = -1L) {
  private val committed = mutable.SortedSet.empty[Long]
  private val hi = new AtomicLong(start)

  def recordCommitted(sn: Long): Unit = synchronized {
    committed += sn
    while (committed.nonEmpty && committed.head == hi.get() + 1) {
      committed -= committed.head
      hi.incrementAndGet()
    }
  }
  /** Highest SN such that all SNs <= it are committed; -1 if none. */
  def committedSN: Long = hi.get()
  /** SNs committed out of order, waiting for the gap below them. */
  def pending: Seq[Long] = synchronized(committed.toSeq)
}
