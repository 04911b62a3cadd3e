package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** micro: the engine's registered batch queries (`SparkEntry.queries`)
  * over the seeded star-schema tables, one at a time in a closed loop
  * with one client. */
object Micro {

  /** The measured queries: 11 of the 192 registered queries that remain
    * after leaving out the 8 stream gates (the stream workload measures
    * graft.streaming) and the 33 queries that write outside the run
    * directory (perfbench/design.json lists them). A pass over all 192
    * takes longer than a run may, so the sample was chosen from one traced
    * pass over all of them (run.py --survey) to match the suite's split of
    * wall time (construction 41 %, Catalyst phases 3 %, execution 55 %)
    * and its median query. It holds the construction-heavy
    * q_dedup_components (a driver-side connected-components loop) and the
    * slowest execution-heavy query, q_quality_repetition. The list is
    * fixed so that adding or removing a registered query does not change
    * what the benchmark measures. */
  val Selected: Seq[String] = Seq("q_agg_bounding_ratio", "q_asof_join",
    "q_dedup_components", "q_func_map", "q_func_url_parts", "q_geo_hashes_in_box",
    "q_join_bucketed", "q_quality_repetition", "q_running_concurrency",
    "q_sample_stratified", "q_sequence_match")

  /** [[Selected]], or, for a survey (run.py --survey writes the excluded
    * names to `survey_exclude.json`), every other registered query. */
  private def selection(a: Args, registered: collection.Set[String]): Seq[String] = {
    val f = new java.io.File(a.run, "survey_exclude.json")
    if (!f.exists()) Selected
    else {
      val excluded = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
        .elements().asScala.map(_.asText()).toSet
      registered.filterNot(excluded).toSeq.sorted
    }
  }

  def run(a: Args): Report = {
    val report = new Report
    val trace = new Trace(a.trace)
    val dir = s"${a.inputs}/tables"
    val registered = graft.SparkEntry.queries
    val names = selection(a, registered.keySet)
    val suite = names.map(n => Query(n, s => registered(n)(s, dir)))
    // The oracle SQL of the measured queries, checked by run.py in DuckDB.
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(a.run, "oracle_sql.json"), Json.write(oracles))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(a.run, "queries.json"), Json.write(names))

    def checkSink(name: String)(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"${a.run}/check/$name")

    val (spark, _) = Harness.setup(report) {
      val spark = Harness.session(a)
      trace.attach(spark)
      val t1 = Harness.sinceStart
      graft.Tables.tune(spark)
      val t2 = Harness.sinceStart
      // The warm pass writes every result for the oracle check.
      suite.foreach { q =>
        report.attempted += 1
        QueryLoop.runOne(spark, q, trace, report, checkSink(q.name))
      }
      (spark, (), SetupSplit(t1, t2 - t1, Harness.sinceStart - t2))
    }
    Harness.measured(spark, report, trace, a.run) {
      QueryLoop.timed(spark, suite, a, trace, report)
    }
    report
  }
}

/** One query of a closed-loop suite: `build` constructs the DataFrame
  * (the construction layer); the benchmark then runs it into a sink. */
final case class Query(name: String, build: SparkSession => DataFrame)

/** Closed loop with one client over a fixed query set: whole passes in a
  * seeded order, each query built and then run into the `noop` sink,
  * until the run's seconds are spent and at least two passes are done. */
object QueryLoop {

  /** Start, end of construction, and end of the sink of one query. */
  final case class Timing(name: String, t0: Double, t1: Double, t2: Double) {
    def ms: Double = t2 - t0
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Build and sink one query. A throw is a failed operation: it is named
    * in the report and yields no timing. */
  def runOne(spark: SparkSession, q: Query, trace: Trace, report: Report,
             sink: DataFrame => Unit): Option[Timing] = {
    val t0 = Harness.now
    try {
      val df = trace.span("queries.construct", q.name)(q.build(spark))
      val t1 = Harness.now
      trace.span("sink.noop", q.name)(sink(df))
      Some(Timing(q.name, t0, t1, Harness.now))
    } catch {
      case e: Throwable =>
        report.fail(s"${q.name}: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(""))
        None
    } finally graft.Tables.releaseScratch()
  }

  /** The timed phase. Fills the end-to-end metrics and, when traced, the
    * queries/plans/exec layer metrics and the per-query split. */
  def timed(spark: SparkSession, queries: Seq[Query], a: Args, trace: Trace,
            report: Report): Unit = {
    val rng = new scala.util.Random(a.seed)
    val timings = mutable.ArrayBuffer.empty[Timing]
    val passes = mutable.ArrayBuffer.empty[Double]
    trace.reset()
    val start = Harness.now
    val cpu0 = Harness.cpuMs()
    // At least two passes: on a busy host one pass can outlast the run's
    // seconds, and a lone pass would leave every query one colder sample.
    while (passes.size < 2 || Harness.now - start < a.seconds * 1000) {
      val p0 = Harness.now
      rng.shuffle(queries).foreach { q =>
        report.attempted += 1
        runOne(spark, q, trace, report, noop).foreach(timings += _)
      }
      passes += Harness.now - p0
    }
    val elapsedS = (Harness.now - start) / 1000
    val lat = timings.map(_.ms).toSeq
    report.samples = lat.size
    report.endToEnd("cpu_ms_per_op") = (Harness.cpuMs() - cpu0) / lat.size
    // The queries' latencies lie in separate clusters (40 ms to 2 s), so a
    // median over all of them jumps between clusters from run to run; the
    // geometric mean of each query's median weighs every query alike.
    val perQuery = timings.groupBy(_.name).values.map(ts => Stats.median(ts.map(_.ms).toSeq))
    report.endToEnd("latency_ms") = math.exp(perQuery.map(math.log).sum / perQuery.size)
    report.endToEnd("ops_per_s") = lat.size / elapsedS
    report.named("pass_s") = Stats.median(passes.toSeq) / 1000
    report.named("query_geomean_ms") = report.endToEnd("latency_ms")
    report.named("query_p50_ms") = Stats.percentile(lat, 50)
    report.named("query_p95_ms") = Stats.percentile(lat, 95)
    if (trace.on) layers(spark, timings.toSeq, trace, report)
  }

  /** Layer split per query, from the spans and the listeners. */
  private def layers(spark: SparkSession, ts: Seq[Timing], trace: Trace,
                     report: Report): Unit = {
    trace.drain(spark)
    val jobs = trace.jobs.synchronized(trace.jobs.toSeq)
    def jobsIn(t0: Double, t1: Double) = jobs.filter(j => j.start >= t0 && j.start < t1)
    val n = ts.size.toDouble
    var construct, wall, constructJobs = 0.0
    var analysis, optimization, planning = 0.0
    val sinkJobs = mutable.ArrayBuffer.empty[trace.Job]
    ts.foreach { t =>
      val ph = trace.phasesIn(t.t1, t.t2)
      val (an, op, pl) = (ph.map(_.analysis).sum, ph.map(_.optimization).sum,
        ph.map(_.planning).sum)
      val cj = jobsIn(t.t0, t.t1)
      val sj = jobsIn(t.t1, t.t2 + 1)
      construct += t.t1 - t.t0; wall += t.ms; constructJobs += cj.size
      analysis += an; optimization += op; planning += pl
      sinkJobs ++= sj
      val sinkMs = t.t2 - t.t1
      report.perOp += Map("query" -> t.name, "wall_ms" -> t.ms,
        "construct_ms" -> (t.t1 - t.t0), "construct_jobs" -> cj.size,
        "plans_ms" -> (an + op + pl), "exec_ms" -> math.max(0.0, sinkMs - an - op - pl),
        "exec_jobs" -> sj.size)
    }
    val l = report.layers
    l("queries.construct_ms") = construct / n
    l("queries.construct_jobs") = constructJobs / n
    l("queries.construct_share") = construct / wall
    l("plans.analysis_ms") = analysis / n
    l("plans.optimization_ms") = optimization / n
    l("plans.planning_ms") = planning / n
    trace.execTotals(sinkJobs.toSeq).foreach { case (k, v) =>
      l(k) = if (k == "exec.busy_share") v else v / n
    }
  }
}
