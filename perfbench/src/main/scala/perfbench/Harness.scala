package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM:
  * `<workload> <inputDir> <runDir> <seed> <seconds> <trace>`.
  * `inputDir` holds the seeded inputs, `runDir` is this run's private
  * scratch (warehouse, spark.local.dir, checkpoints, catalog root). */
final case class Args(workload: String, inputs: String, run: String,
                      seed: Long, seconds: Double, trace: Boolean)

/** Result of one workload run, serialised by [[Main]] to `result.json`. */
final class Report {
  /** The workload's end-to-end metrics, by their BENCHMARK.json names. */
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's own named metrics (the report line). */
  val named = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer metrics (traced run only). */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Per-query layer split (traced micro runs). */
  val perOp = mutable.ArrayBuffer.empty[Map[String, Any]]
  var attempted = 0L
  var failed = 0L
  /** What failed, once per distinct message. */
  val failures = mutable.LinkedHashSet.empty[String]
  var samples = 0L
  def fail(what: String): Unit = failures.synchronized { failed += 1; failures += what }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3).toLong, argv(4).toDouble,
      argv(5) == "1")
    val report = a.workload match {
      case "micro" => Micro.run(a)
      case "rest" => Rest.run(a)
      case "stream" => Stream.run(a)
      case other => sys.error(s"unknown workload: $other")
    }
    val out = Map[String, Any](
      "end_to_end" -> report.endToEnd.toMap, "named" -> report.named.toMap,
      "layers" -> report.layers.toMap, "per_op" -> report.perOp.toSeq,
      "attempted" -> report.attempted, "failed" -> report.failed,
      "failures" -> report.failures.toSeq,
      "samples" -> report.samples)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(a.run, "result.json"), Json.write(out))
    // Everything is written: skip Spark's shutdown hooks (run.py removes
    // the run directory) and its non-daemon threads.
    Runtime.getRuntime.halt(0)
  }
}

/** Set-up timing, session construction and shared measurements. */
object Harness {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since the JVM started. */
  def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def now: Double = System.nanoTime() / 1e6

  /** Progress line in the JVM log. */
  def note(msg: String): Unit = System.err.println(f"[perfbench $sinceStart%.1f s] $msg")

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** One local Spark session on every core. Every path Spark writes to
    * lives under the run directory. The program's own tuning
    * (`Tables.tune`) is applied by each workload as its set-up. */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.run}/warehouse")
      .config("spark.local.dir", s"${a.run}/local")
      .config("spark.sql.streaming.checkpointLocation", s"${a.run}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run the workload's set-up and time it from JVM start: `setup_s` is
    * session build, program set-up and the warm/check pass, with the JVM's
    * own start-up and class loading. The set-up returns its session, its
    * state and its split. */
  def setup[T](report: Report)(body: => (SparkSession, T, SetupSplit)): (SparkSession, T) = {
    val (spark, state, split) = body
    report.endToEnd("setup_s") = sinceStart
    report.named("setup_s") = sinceStart
    report.layers("setup.session_s") = split.session
    report.layers("setup.program_s") = split.program
    report.layers("setup.warm_s") = split.warm
    note(f"set-up: ${report.endToEnd("setup_s")}%.2f s ($split)")
    (spark, state)
  }

  /** Run the timed phase, then record the collector's work during it and
    * the heap it leaves live; write the spans of a traced run. */
  def measured(spark: SparkSession, report: Report, trace: Trace, run: String)(
      body: => Unit): Unit = {
    val (gcMs0, gcN0) = gc()
    note("timed phase")
    body
    note("timed phase done")
    val (gcMs1, gcN1) = gc()
    report.layers("jvm.gc_ms") = gcMs1 - gcMs0
    report.layers("jvm.gc_count") = gcN1 - gcN0
    report.endToEnd("live_mb") = liveMb()
    report.named("live_mb") = report.endToEnd("live_mb")
    if (trace.on) trace.write(s"$run/spans.jsonl")
  }

  /** CPU time this JVM has used, in ms. Unlike wall time it does not grow
    * when the host runs other work on the same cores. */
  def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Heap in use after a forced full collection, in MB. Spark's
    * ContextCleaner frees broadcast and shuffle blocks only after a
    * collection has cleared their last reference, so the cleaner gets
    * time after each collection before the heap is read. */
  def liveMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(250) }
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Total collection time (ms) and count over all collectors. */
  def gc(): (Double, Double) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime.max(0L)).sum.toDouble,
      beans.map(_.getCollectionCount.max(0L)).sum.toDouble)
  }
}

/** Seconds spent in each part of the set-up; `session` counts from JVM start. */
final case class SetupSplit(session: Double, program: Double, warm: Double)

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile, as `numpy.percentile` computes it;
    * NaN without samples. */
  def percentile(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s => str(s.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
