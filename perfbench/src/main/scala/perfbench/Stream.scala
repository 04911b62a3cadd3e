package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{FakeBroker, StreamOps, WalCommitter, WalProducer, WalSource}

/** stream: the WAL ingest path. Seeded JSON event blocks go through
  * `WalProducer` into a `FakeBroker`; a Structured Streaming query runs
  * `BrokerTail` -> `WalSource.decodeJson` -> `StreamOps.withTimeDefaulting`
  * -> `foreachBatch(WalCommitter.commitBatch)`. A closed loop with one
  * producer appends a block, pumps it and waits until it is committed, so
  * every block is exactly one micro-batch; a drain of a fixed backlog in
  * large blocks follows the timed phase. */
object Stream {

  /** Events per block of the timed phase and of the drain. */
  val BlockEvents = 50
  val DrainEvents = 2000

  /** The decoded event row (`StreamOps.IngestRow`'s columns). */
  private val rowSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "_idem STRING, _time TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")

  /** One pipeline over its own broker, table and checkpoint. */
  final class Pipeline(spark: SparkSession, dir: String, trace: Trace) {
    val broker = new FakeBroker()
    val producer = new WalProducer(broker)
    val tail = new WalSource.BrokerTail(broker, spark)
    val table = s"$dir/table"
    val committer = new WalCommitter(table)

    val query: StreamingQuery = {
      val decoded = WalSource.decodeJson(tail.toDF, rowSchema)
      StreamOps.withTimeDefaulting(decoded).writeStream
        .option("checkpointLocation", s"$dir/checkpoint")
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          trace.span("streaming.commit_batch", s"batch-$id")(committer.commitBatch(batch))
          ()
        }.start()
    }

    /** Append `block`, pump it into the stream and wait until its
    * micro-batch is committed. Returns the elapsed ms. */
    def commit(block: Seq[String], id: String): Double = {
      val t0 = Harness.now
      trace.span("streaming.append", id)(producer.write(block.map(v => (0, v)), "sync"))
      trace.span("streaming.pump", id)(tail.pump())
      query.processAllAvailable()
      Harness.now - t0
    }

    def stop(): Unit = { query.stop(); broker.shutdown() }
  }

  def readLines(path: String): IndexedSeq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toIndexedSeq finally src.close()
  }

  private def idem(json: String): String = {
    val i = json.indexOf("\"_idem\":\"") + 9
    json.substring(i, json.indexOf('"', i))
  }

  def run(a: Args): Report = {
    val report = new Report
    val trace = new Trace(a.trace)
    val warm = readLines(s"${a.inputs}/warm.jsonl")
    val events = readLines(s"${a.inputs}/events.jsonl")
    val backlog = readLines(s"${a.inputs}/backlog.jsonl")
    val (spark, pipe) = Harness.setup(report) {
      val spark = Harness.session(a)
      trace.attach(spark)
      val t1 = Harness.sinceStart
      graft.Tables.tune(spark)
      val pipe = new Pipeline(spark, s"${a.run}/pipeline", trace)
      val t2 = Harness.sinceStart
      // Warm both block sizes, the drain's first: the first drain-sized
      // block and the first 6-8 small blocks of a cold JVM take up to twice
      // as long as later ones, and the small blocks right after a large one
      // are slower too.
      val (big, small) = warm.splitAt(DrainEvents)
      (big.grouped(DrainEvents) ++ small.grouped(BlockEvents)).zipWithIndex.foreach {
        case (b, k) => pipe.commit(b, s"warm-$k")
      }
      (spark, pipe, SetupSplit(t1, t2 - t1, Harness.sinceStart - t2))
    }
    var sentEvents = 0
    Harness.measured(spark, report, trace, a.run) {
      trace.reset()
      val blocks = events.grouped(BlockEvents).toIndexedSeq
      val lat = mutable.ArrayBuffer.empty[Double]
      val start = Harness.now
      val cpu0 = Harness.cpuMs()
      while (Harness.now - start < a.seconds * 1000 && lat.size < blocks.size) {
        lat += pipe.commit(blocks(lat.size), s"block-${lat.size}")
      }
      report.endToEnd("cpu_ms_per_op") = (Harness.cpuMs() - cpu0) / lat.size
      sentEvents = lat.size * BlockEvents
      report.attempted += lat.size
      report.samples = lat.size
      report.endToEnd("latency_ms") = Stats.percentile(lat.toSeq, 50)
      report.named("commit_p50_ms") = report.endToEnd("latency_ms")
      report.named("commit_p95_ms") = Stats.percentile(lat.toSeq, 95)

      // Drain: the fixed backlog in large blocks.
      val d0 = Harness.now
      backlog.grouped(DrainEvents).zipWithIndex.foreach { case (b, j) =>
        report.attempted += 1
        pipe.commit(b, s"backlog-$j")
      }
      report.endToEnd("ops_per_s") = backlog.size / ((Harness.now - d0) / 1000)
      report.named("rows_per_s") = report.endToEnd("ops_per_s")
    }
    // Checks: every produced idem key committed once; SN fully committed.
    val producedKeys = (warm ++ events.take(sentEvents) ++ backlog).map(idem).distinct.size
    val committedRows = spark.read.parquet(pipe.table).count()
    if (committedRows != producedKeys)
      report.fail(s"committed rows $committedRows != distinct idem keys produced $producedKeys")
    val end = pipe.broker.endOffset(0)
    if (pipe.committer.committedSN(0) != end - 1)
      report.fail(s"committedSN ${pipe.committer.committedSN(0)} != endOffset - 1 = ${end - 1}")
    report.attempted += 2
    if (trace.on) layers(spark, trace, report, producedKeys, end)
    pipe.stop()
    report
  }

  private def layers(spark: SparkSession, trace: Trace,
                     report: Report, producedKeys: Long, produced: Long): Unit = {
    trace.drain(spark)
    val l = report.layers
    l("streaming.append_ms") = trace.meanMs("streaming.append")
    l("streaming.pump_ms") = trace.meanMs("streaming.pump")
    l("streaming.commit_batch_ms") = trace.meanMs("streaming.commit_batch")
    val commitSpans = trace.named("streaming.commit_batch")
    val jobs = trace.jobs.synchronized(trace.jobs.toSeq)
    l("streaming.commit_jobs") = if (commitSpans.isEmpty) 0.0 else
      jobs.count(j => commitSpans.exists(s => j.start >= s.start && j.start <= s.end))
        .toDouble / commitSpans.size
    val trig = trace.triggers.synchronized(trace.triggers.filter(_.rows > 0).toSeq)
    l("streaming.batch_rows") = if (trig.isEmpty) 0.0 else trig.map(_.rows).sum.toDouble / trig.size
    l("streaming.batches") = trig.size.toDouble
    l("streaming.dedup_ratio") = producedKeys.toDouble / produced
    Seq("triggerExecution" -> "trigger", "addBatch" -> "add_batch",
      "queryPlanning" -> "query_planning", "walCommit" -> "wal_commit",
      "commitOffsets" -> "commit_offsets", "latestOffset" -> "latest_offset",
      "getBatch" -> "get_batch").foreach { case (k, name) =>
      l(s"streaming.${name}_ms") =
        if (trig.isEmpty) 0.0 else trig.map(_.durations.getOrElse(k, 0.0)).sum / trig.size
    }
  }
}
