package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: ms since JVM-relative origin, the index
  * of the enclosing span (-1 at top level) and the request it serves. */
final case class Span(name: String, start: Double, end: Double,
                      parent: Int, request: String) {
  def ms: Double = end - start
}

/** Spans and Spark listener counters of a traced run. Spans wrap calls
  * from the benchmark's own files into the program's public functions;
  * they are kept in memory and written out when the run ends. With
  * tracing off, [[span]] only runs its body. */
final class Trace(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Bumped by [[reset]]: a span open across a reset is dropped. */
  private var epoch = 0
  private val open = new ThreadLocal[Integer] {
    override def initialValue(): Integer = -1
  }

  def span[T](name: String, request: String)(body: => T): T =
    if (!on) body
    else {
      val parent: Int = open.get()
      val (idx, born) = spans.synchronized { spans += null; (spans.length - 1, epoch) }
      open.set(idx)
      val t0 = Harness.now
      try body
      finally {
        val t1 = Harness.now
        open.set(parent)
        spans.synchronized {
          if (born == epoch) spans(idx) = Span(name, t0, t1, parent, request)
        }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.filter(_ != null).toSeq)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Mean duration (ms) of the spans called `name`; 0 when there are none. */
  def meanMs(name: String): Double = {
    val xs = named(name)
    if (xs.isEmpty) 0.0 else xs.map(_.ms).sum / xs.size
  }

  def write(path: String): Unit = {
    val lines = all.map(s => Json.write(Map("name" -> s.name, "start_ms" -> s.start,
      "end_ms" -> s.end, "parent" -> s.parent, "request" -> s.request)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }

  // ---- Spark listeners --------------------------------------------------

  /** Catalyst phase times of one executed query. */
  final case class Phases(start: Double, analysis: Double, optimization: Double,
                          planning: Double)
  /** One finished job: its wall interval and stages. */
  final case class Job(start: Double, end: Double, stages: Seq[Int])
  /** Totals of one completed stage. */
  final case class Stage(id: Int, tasks: Int, taskMs: Double, cpuMs: Double,
                         gcMs: Double, inputBytes: Long, shuffleRead: Long,
                         shuffleWrite: Long, spill: Long, schedDelayMs: Double)
  /** Per-trigger `durationMs` of the streaming query. */
  final case class Trigger(durations: Map[String, Double], rows: Long)

  val phases = mutable.ArrayBuffer.empty[Phases]
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val triggers = mutable.ArrayBuffer.empty[Trigger]
  private val jobStarts = mutable.HashMap.empty[Int, (Double, Seq[Int])]
  private val schedDelay = mutable.HashMap.empty[Int, Double]
  private val wallOffset = System.currentTimeMillis() - Harness.now

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble)
        .getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L) - wallOffset
      phases.synchronized {
        phases += Phases(start, ms("analysis"), ms("optimization"), ms("planning"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts(e.jobId) = (e.time - wallOffset, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (s, st) =>
        jobs.synchronized(jobs += Job(s, e.time - wallOffset, st))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && e.taskInfo != null) {
        val d = e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime
        schedDelay(e.stageId) = schedDelay.getOrElse(e.stageId, 0.0) + math.max(0L, d)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.synchronized {
        stages += Stage(i.stageId, i.numTasks, m.executorRunTime.toDouble,
          m.executorCpuTime / 1e6, m.jvmGCTime.toDouble, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          schedDelay.remove(i.stageId).getOrElse(0.0))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      triggers.synchronized(triggers += Trigger(d, e.progress.numInputRows))
    }
  }

  /** Register the three listeners on `spark` (traced runs only). */
  def attach(spark: SparkSession): Unit = if (on) {
    spark.listenerManager.register(queryListener)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every posted listener event has been handled. */
  def drain(spark: SparkSession): Unit =
    if (on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Forget everything recorded so far (end of set-up). */
  def reset(): Unit = {
    spans.synchronized { spans.clear(); epoch += 1 }
    phases.synchronized(phases.clear())
    jobs.synchronized(jobs.clear())
    stages.synchronized(stages.clear())
    triggers.synchronized(triggers.clear())
  }

  /** Executor-side totals over `js`: the `exec.*` layer metrics summed
    * over those jobs. `wallMs` is the union of the jobs' intervals. */
  def execTotals(js: Seq[Job]): Map[String, Double] = {
    val ids = js.flatMap(_.stages).toSet
    val st = stages.synchronized(stages.filter(s => ids(s.id)).toSeq)
    val wall = union(js.map(j => (j.start, j.end)))
    val taskMs = st.map(_.taskMs).sum
    Map(
      "exec.ms" -> wall, "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> st.size.toDouble, "exec.tasks" -> st.map(_.tasks).sum.toDouble,
      "exec.task_ms" -> taskMs, "exec.task_cpu_ms" -> st.map(_.cpuMs).sum,
      "exec.sched_delay_ms" -> st.map(_.schedDelayMs).sum,
      "exec.busy_share" -> (if (wall > 0) taskMs / (wall * Harness.cores) else 0.0),
      "exec.input_bytes" -> st.map(_.inputBytes).sum.toDouble,
      "exec.shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "exec.gc_ms" -> st.map(_.gcMs).sum)
  }

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (cs.isNaN) { cs = s; ce = e }
      else if (s <= ce) ce = math.max(ce, e)
      else { total += ce - cs; cs = s; ce = e }
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Catalyst phases whose first phase started in [t0, t1]. */
  def phasesIn(t0: Double, t1: Double): Seq[Phases] =
    phases.synchronized(phases.filter(p => p.start >= t0 - 1 && p.start <= t1).toSeq)
}
