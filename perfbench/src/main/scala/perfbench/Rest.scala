package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.rest.{Catalog, ColumnDef, RestServer, TableDef}

/** rest: an in-process `RestServer` on loopback over two tables. `live`
  * gets the seeded preload and then continuous ingest from the load
  * generator (run.py, a separate process); `static` holds the preload
  * only and serves the dashboard client. This JVM sets the server up,
  * announces its port in `ready.json`, and serves until a line arrives
  * on stdin. Client-side latencies and the ingest-ledger checks are
  * run.py's; this side reports set-up, memory and the layer split. */
object Rest {
  private val mapper = new ObjectMapper()

  val Tables = Seq("live", "static")

  def tableDef(name: String): TableDef = TableDef(name,
    Seq(ColumnDef("k", "bigint"), ColumnDef("kind", "string"),
      ColumnDef("value", "double"), ColumnDef("_time", "timestamp")),
    orderBy = Seq("kind"), granularity = "D")

  /** Rows of a JSON `{"columns": [...], "data": [[...], ...]}` batch. */
  final case class Batch(columns: Seq[String], data: Seq[Seq[String]])

  def readBatches(path: String): Seq[Batch] =
    mapper.readTree(new java.io.File(path)).elements().asScala.map(batch).toSeq

  def batch(b: JsonNode): Batch = Batch(
    b.get("columns").elements().asScala.map(_.asText()).toSeq,
    b.get("data").elements().asScala.map(r =>
      r.elements().asScala.map(c => if (c.isNull) null else c.asText()).toSeq).toSeq)

  /** POST `body` to the server from inside the JVM (set-up warming). */
  private def post(port: Int, path: String, body: String): Int = {
    val c = new java.net.URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST"); c.setDoOutput(true)
    c.getOutputStream.write(body.getBytes("UTF-8")); c.getOutputStream.close()
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    if (in != null) { in.readAllBytes(); in.close() }
    code
  }

  final case class Served(catalog: Catalog, server: RestServer)

  /** A time-bounded filter search, the ad-hoc client's first shape. */
  private val WarmSearches = Seq(
    """{"query":"SELECT k, kind, value, _time FROM live WHERE kind = 'k0' AND value > 500",""" +
      """"start_time":"2024-01-02 00:00:00.000","end_time":"2024-01-03 00:00:00.000","limit":50}""")

  def run(a: Args): Report = {
    val report = new Report
    val trace = new Trace(a.trace)
    val preload = readBatches(s"${a.inputs}/preload.json")
    val dashboards = mapper.readTree(new java.io.File(s"${a.inputs}/dashboards.json"))
      .elements().asScala.map(_.toString).toSeq
    val (spark, srv) = Harness.setup(report) {
      val spark = Harness.session(a)
      trace.attach(spark)
      val t1 = Harness.sinceStart
      graft.Tables.tune(spark)
      val catalog = new Catalog(spark, s"${a.run}/catalog")
      Tables.foreach { t =>
        catalog.create(tableDef(t))
        preload.foreach(b => catalog.ingest(t, b.columns, b.data))
      }
      val server = new RestServer(spark, catalog, 0)
      server.start()
      val t2 = Harness.sinceStart
      // Warm: each dashboard once, which fills the query cache, and one
      // time-bounded search (the other ad-hoc shapes take the dashboards'
      // plain SQL path).
      (dashboards ++ WarmSearches).foreach { d =>
        if (post(server.boundPort, "/dae/v1/search", d) != 200)
          report.fail(s"set-up: search failed: $d")
      }
      (spark, Served(catalog, server), SetupSplit(t1, t2 - t1, Harness.sinceStart - t2))
    }
    val cache0 = (graft.core.QueryCache.hits, graft.core.QueryCache.misses)
    Harness.measured(spark, report, trace, a.run) {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a.run, "ready.json"),
        s"""{"port":${srv.server.boundPort}}""")
      val cpu0 = Harness.cpuMs()
      scala.io.StdIn.readLine() // the load generator is done
      // run.py divides it by the requests the clients completed
      report.named("server_cpu_ms") = Harness.cpuMs() - cpu0
    }
    val l = report.layers
    l("core.cache_hits") = (graft.core.QueryCache.hits - cache0._1).toDouble
    l("core.cache_misses") = (graft.core.QueryCache.misses - cache0._2).toDouble
    val lookups = l("core.cache_hits") + l("core.cache_misses")
    l("core.cache_hit_ratio") = if (lookups > 0) l("core.cache_hits") / lookups else 0.0
    l("core.cache_entries") = graft.core.QueryCache.size.toDouble
    val files = parquetFiles(new java.io.File(srv.catalog.rootDir, "live"))
    l("rest.files_per_table") = files.size.toDouble
    val load = mapper.readTree(new java.io.File(a.run, "load.json"))
    val userBytes = load.get("ingest_user_bytes").asDouble()
    l("rest.bytes_per_user_byte") =
      if (userBytes > 0) files.map(_.length()).sum / userBytes else 0.0
    srv.server.stop()
    if (trace.on) direct(spark, srv.catalog, a, trace, report)
    report
  }

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    if (!dir.exists()) Nil
    else java.nio.file.Files.walk(dir.toPath).iterator().asScala
      .map(_.toFile).filter(_.getName.endsWith(".parquet")).toSeq

  /** Traced run: replay recorded requests in-process, so the HTTP share
    * of a request's round trip shows as RTT minus the direct call. */
  private def direct(spark: SparkSession, catalog: Catalog, a: Args, trace: Trace,
                     report: Report): Unit = {
    val l = report.layers
    val searches = scala.io.Source.fromFile(s"${a.run}/replay_search.jsonl")
      .getLines().map(mapper.readTree).toSeq
    trace.reset()
    searches.zipWithIndex.foreach { case (r, i) =>
      val id = s"search-$i"
      trace.span("rest.search_direct", id) {
        trace.span("rest.register_views", id)(catalog.registerViews())
        val sql = r.get("query").asText()
        val limit = Option(r.get("limit")).map(_.asInt()).getOrElse(100)
        val df =
          if (r.has("start_time"))
            trace.span("sql.time_bounded", id)(graft.sql.Search.timeBounded(spark, sql,
              r.get("start_time").asText(), r.get("end_time").asText(), limit, 0))
          else spark.sql(sql).limit(limit)
        df.toJSON.collect()
      }
    }
    val ingests = readBatches(s"${a.run}/replay_ingest.json")
    ingests.zipWithIndex.foreach { case (b, i) =>
      trace.span("rest.ingest_direct", s"ingest-$i")(catalog.ingest("live", b.columns, b.data))
    }
    trace.drain(spark)
    val spans = trace.named("rest.ingest_direct")
    val jobs = trace.jobs.synchronized(trace.jobs.toSeq)
    l("rest.search_direct_ms") = trace.meanMs("rest.search_direct")
    l("rest.register_views_ms") = trace.meanMs("rest.register_views")
    l("sql.time_bounded_ms") = trace.meanMs("sql.time_bounded")
    l("rest.ingest_direct_ms") = trace.meanMs("rest.ingest_direct")
    l("rest.ingest_jobs") = if (spans.isEmpty) 0.0 else
      jobs.count(j => spans.exists(s => j.start >= s.start && j.start <= s.end)).toDouble / spans.size
    val ph = trace.phases.synchronized(trace.phases.toSeq)
    val searchSpans = trace.named("rest.search_direct")
    def phaseMean(f: trace.Phases => Double) =
      if (searchSpans.isEmpty) 0.0
      else searchSpans.map(s => ph.filter(p => p.start >= s.start - 1 && p.start <= s.end)
        .map(f).sum).sum / searchSpans.size
    l("plans.analysis_ms") = phaseMean(_.analysis)
    l("plans.optimization_ms") = phaseMean(_.optimization)
    l("plans.planning_ms") = phaseMean(_.planning)
    trace.write(s"${a.run}/spans.jsonl")
  }
}
