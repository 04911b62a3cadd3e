package graft.rest

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.sql.Search

/** The reference's REST surface as a thin adapter over the library
  * (daisy `src/Server/RestRouterHandlers/RestRouterFactory.h:45-80`):
  *
  *   POST   /dae/v1/ddl/tables            create table (typed columns,
  *                                        order_by, partition granularity)
  *   GET    /dae/v1/ddl/tables            list tables
  *   DELETE /dae/v1/ddl/tables/{t}        drop table
  *   POST   /dae/v1/ingest/tables/{t}     {columns, data} row ingest
  *                                        (IngestRestRouterHandler.cpp:17-97)
  *   GET    /dae/v1/ingest/statuses?poll_id=…  commit status
  *   POST   /dae/v1/search                time-bounded SQL (SearchHandler.cpp);
  *                                        `watch:N` = live-view long-poll
  *                                        (StorageLiveView periodic refresh)
  *   POST   /dae/v1/sqlanalyzer           EXPLAIN endpoint
  *   POST   /dae/v1/ddl/{t}/columns       add column (ColumnRestRouterHandler)
  *   DELETE /dae/v1/ddl/{t}/columns/{c}   drop column
  *   GET    /dae/ping | /dae/info         liveness/build (PingHandler)
  *   GET    /dae/v1/clusterinfo           topology (ClusterInfoHandler)
  *   GET    /dae/v1/system/{t}            system.* introspection tables
  *                                        (src/Storages/System/)
  *
  * Built on the JDK's HttpServer (no extra dependencies). Ingest here is
  * synchronous (commit before the response returns) — poll_ids resolve
  * immediately to `committed`; the reference's async Kafka-WAL path needs
  * a broker this environment doesn't ship. The server remembers the last
  * [[RestServer.MaxPolls]] poll_ids; an older one reads as unknown (404).
  * Query execution, time-bound injection, paging, and the catalog are the
  * real library code paths. Connections run with TCP_NODELAY (set by
  * `object RestServer`), so a response costs its work, not a
  * delayed-ACK wait.
  */
class RestServer(spark: SparkSession, catalog: Catalog, port: Int = 0) {

  private val mapper = new ObjectMapper()
  // insertion-ordered, oldest out beyond MaxPolls (as QueryLog bounds itself)
  private val polls = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.lang.Long]() {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
        size() > RestServer.MaxPolls
    })
  private val server = {
    RestServer.init() // sets NODELAY before the JVM's first HttpServer reads it
    HttpServer.create(new InetSocketAddress(port), 0)
  }

  /** A new poll_id whose status reports `rows` committed rows. */
  private[graft] def newPoll(rows: Long): String = {
    val pollId = java.util.UUID.randomUUID().toString
    polls.put(pollId, rows)
    pollId
  }

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def handle(ex: HttpExchange)(f: => (Int, String)): Unit =
    try {
      val (code, body) = f
      respond(ex, code, body)
    } catch {
      case e: Throwable =>
        respond(ex, 400, s"""{"error":${Catalog.toJsonString(e.getMessage)}}""")
    }

  private def body(ex: HttpExchange): JsonNode =
    mapper.readTree(new String(ex.getRequestBody.readAllBytes(), UTF_8))

  import scala.jdk.CollectionConverters._

  server.createContext("/dae/v1/ddl/tables", (ex: HttpExchange) => handle(ex) {
    val path = ex.getRequestURI.getPath.stripPrefix("/dae/v1/ddl/tables")
    (ex.getRequestMethod, path.stripPrefix("/")) match {
      case ("GET", "") =>
        val tables = catalog.list().map { n =>
          Catalog.toJson(catalog.get(n).get)
        }.mkString(",")
        (200, s"""{"tables":[$tables]}""")
      case ("POST", "") =>
        val b = body(ex)
        val tdef = TableDef(
          b.get("name").asText(),
          b.get("columns").elements().asScala.map(c =>
            ColumnDef(c.get("name").asText(), c.get("type").asText())).toSeq,
          Option(b.get("order_by")).map(_.elements().asScala.map(_.asText()).toSeq)
            .getOrElse(Nil),
          Option(b.get("partition_by_granularity")).map(_.asText()).getOrElse("D"))
        catalog.create(tdef)
        (200, s"""{"created":"${tdef.name}"}""")
      case ("DELETE", name) if name.nonEmpty =>
        val existed = catalog.drop(name)
        (if (existed) 200 else 404, s"""{"dropped":${existed}}""")
      case _ => (405, """{"error":"unsupported"}""")
    }
  })

  /** Database DDL (daisy DatabaseRestRouterHandler). */
  server.createContext("/dae/v1/ddl/databases", (ex: HttpExchange) => handle(ex) {
    val path = ex.getRequestURI.getPath.stripPrefix("/dae/v1/ddl/databases")
    (ex.getRequestMethod, path.stripPrefix("/")) match {
      case ("GET", "") =>
        (200, catalog.listDatabases()
          .map(Catalog.toJsonString).mkString("""{"databases":[""", ",", "]}"))
      case ("POST", "") =>
        val name = body(ex).get("name").asText()
        catalog.createDatabase(name)
        (200, s"""{"created":"$name"}""")
      case ("DELETE", name) if name.nonEmpty =>
        val existed = catalog.dropDatabase(name)
        (if (existed) 200 else 404, s"""{"dropped":$existed}""")
      case _ => (405, """{"error":"unsupported"}""")
    }
  })

  /** Rawstore DDL + ingest (daisy RawstoreTableRestRouterHandler,
    * IngestRawStoreHandler): fixed schema-on-read log store. */
  server.createContext("/dae/v1/ddl/rawstores", (ex: HttpExchange) => handle(ex) {
    val path = ex.getRequestURI.getPath.stripPrefix("/dae/v1/ddl/rawstores")
    (ex.getRequestMethod, path.stripPrefix("/")) match {
      case ("GET", "") =>
        val rs = catalog.list().flatMap(catalog.get)
          .filter(_.subtype == "rawstore").map(Catalog.toJson).mkString(",")
        (200, s"""{"rawstores":[$rs]}""")
      case ("POST", "") =>
        val name = body(ex).get("name").asText()
        catalog.createRawstore(name)
        (200, s"""{"created":"$name"}""")
      case ("DELETE", name) if name.nonEmpty =>
        // Only rawstores may be dropped through this endpoint — a plain
        // table of the same name must go through the tables DDL route.
        catalog.get(name) match {
          case Some(t) if t.subtype == "rawstore" =>
            val existed = catalog.drop(name)
            (if (existed) 200 else 404, s"""{"dropped":$existed}""")
          case Some(_) =>
            (400, s"""{"error":"not a rawstore: $name"}""")
          case None => (404, """{"dropped":false}""")
        }
      case _ => (405, """{"error":"unsupported"}""")
    }
  })

  server.createContext("/dae/v1/ingest/rawstores", (ex: HttpExchange) => handle(ex) {
    val name = ex.getRequestURI.getPath.stripPrefix("/dae/v1/ingest/rawstores/")
    val b = body(ex)
    val sourcetype =
      Option(b.get("sourcetype")).map(_.asText()).getOrElse("default")
    val lines = b.get("data").elements().asScala.map(_.asText()).toSeq
    val n = catalog.ingestRaw(name, sourcetype, lines)
    (200, s"""{"poll_id":"${newPoll(n)}","committed":$n}""")
  })

  /** Column DDL (daisy ColumnRestRouterHandler):
    * POST   /dae/v1/ddl/{table}/columns           add column
    * DELETE /dae/v1/ddl/{table}/columns/{column}  drop column
    * Registered on the /dae/v1/ddl prefix; table paths under
    * /dae/v1/ddl/tables bind to the longer context above. */
  server.createContext("/dae/v1/ddl", (ex: HttpExchange) => handle(ex) {
    val rest = ex.getRequestURI.getPath.stripPrefix("/dae/v1/ddl/")
    (ex.getRequestMethod, rest.split("/").toList) match {
      case ("POST", table :: "columns" :: Nil) =>
        val b = body(ex)
        catalog.addColumn(table,
          ColumnDef(b.get("name").asText(), b.get("type").asText()))
        (200, s"""{"added":"${b.get("name").asText()}"}""")
      case ("DELETE", table :: "columns" :: column :: Nil) =>
        catalog.dropColumn(table, column)
        (200, s"""{"dropped":"$column"}""")
      case _ => (404, """{"error":"unsupported"}""")
    }
  })

  /** Liveness + build info (daisy PingHandler: /dae/ping, /dae/info). */
  server.createContext("/dae/ping", (ex: HttpExchange) => handle(ex) {
    (200, """{"status":"ok"}""")
  })
  server.createContext("/dae/info", (ex: HttpExchange) => handle(ex) {
    (200, s"""{"engine":"graft","spark":${Catalog.toJsonString(spark.version)},"tables":${catalog.list().size}}""")
  })

  /** Cluster topology (daisy ClusterInfoHandler): executor/core counts
    * from the live SparkContext — one "shard" per executor. */
  server.createContext("/dae/v1/clusterinfo", (ex: HttpExchange) => handle(ex) {
    val sc = spark.sparkContext
    val execs = sc.statusTracker.getExecutorInfos
    (200, s"""{"nodes":${execs.length},"default_parallelism":${sc.defaultParallelism},"master":${Catalog.toJsonString(sc.master)}}""")
  })

  /** system.* introspection tables (daisy `src/Storages/System/`) as
    * JSON row arrays: GET /dae/v1/system/{tables|columns|databases|
    * functions|metrics|one}. The same frames are reachable from /search
    * SQL as `system_<name>` views. */
  // Prometheus text exposition of the live metric snapshot (reference
  // `src/Server/PrometheusRequestHandler.cpp` + PrometheusMetricsWriter:
  // one gauge per CurrentMetrics entry, prefixed).
  server.createContext("/metrics", (ex: HttpExchange) =>
    try {
      val rows = SystemTables.metrics(spark).collect()
      val sb = new StringBuilder
      rows.foreach { r =>
        val name = "graft_" + r.getString(0)
        sb.append(s"# TYPE $name gauge\n$name ${r.getLong(1)}\n")
      }
      val bytes = sb.toString.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    } catch { case _: Throwable => ex.close() })

  server.createContext("/dae/v1/system", (ex: HttpExchange) => handle(ex) {
    val name = ex.getRequestURI.getPath.stripPrefix("/dae/v1/system")
      .stripPrefix("/")
    if (ex.getRequestMethod != "GET") (405, """{"error":"unsupported"}""")
    else if (!SystemTables.names.contains(name))
      (404, s"""{"error":"no such system table"}""")
    else {
      val rows = SystemTables.frame(spark, catalog, name)
        .toJSON.collect().mkString(",")
      (200, s"""{"rows":[$rows]}""")
    }
  })

  server.createContext("/dae/v1/ingest/tables", (ex: HttpExchange) => handle(ex) {
    val name = ex.getRequestURI.getPath.stripPrefix("/dae/v1/ingest/tables/")
    val b = body(ex)
    val columns = b.get("columns").elements().asScala.map(_.asText()).toSeq
    val data = b.get("data").elements().asScala.map(row =>
      row.elements().asScala.map(c => if (c.isNull) null else c.asText()).toSeq).toSeq
    val n = catalog.ingest(name, columns, data)
    (200, s"""{"poll_id":"${newPoll(n)}","committed":$n}""")
  })

  server.createContext("/dae/v1/ingest/statuses", (ex: HttpExchange) => handle(ex) {
    val q = Option(ex.getRequestURI.getQuery).getOrElse("")
    val pollId = q.split("&").map(_.split("=", 2))
      .collectFirst { case Array("poll_id", v) => v }.getOrElse("")
    Option(polls.get(pollId)) match {
      case Some(n) => (200, s"""{"status":"committed","rows":$n}""")
      case None => (404, """{"status":"unknown"}""")
    }
  })

  /** Register the catalog and system views `sql` names as a word, so a
    * request sees every ingest acknowledged before it without re-reading
    * every table and system frame (~200 ms a request); a catalog view is
    * rebuilt only when its table changed (`Catalog.registerViews`). */
  private def registerViewsFor(sql: String): Unit = {
    val named = (n: String) =>
      ("(?i)\\b" + java.util.regex.Pattern.quote(n) + "\\b").r.findFirstIn(sql).isDefined
    catalog.registerViews(named)
    SystemTables.registerCatalogViews(spark, catalog, named)
  }

  /** Results are STREAMED: rows flow driver→client via toLocalIterator
    * into a chunked response, so no result set is ever collect()ed whole
    * on the driver (the reference streams too —
    * `SearchHandler.h:18 streamingOutput`). A `use_cache` result the
    * QueryCache holds (at most `QueryCache.Bound` rows) is written from
    * its JSON rows instead: no Spark job on a hit. `limit <= 0` means
    * "unbounded" to the caller but is clamped to [[RestServer.MaxResultRows]]
    * server-side. A mid-stream executor failure truncates the chunked
    * body (the HTTP code is already on the wire) — same contract as the
    * reference's streaming output.
    */
  server.createContext("/dae/v1/search", (ex: HttpExchange) => {
    var headersSent = false
    // query_log bookkeeping (reference QueryLog.cpp): sql is captured as
    // soon as it parses; every exit path below records one entry.
    val logT0 = System.nanoTime()
    var logSql: String = null
    try {
      val b = body(ex)
      def opt(field: String): Option[JsonNode] =
        Option(b.get(field)).filter(!_.isNull)
      val sql = b.get("query").asText()
      logSql = sql
      registerViewsFor(sql)
      val limit = opt("limit").map(_.asInt()).getOrElse(100)
      val effLimit = if (limit <= 0) RestServer.MaxResultRows else limit
      val offset = opt("offset").map(_.asInt()).getOrElse(0)
      def buildDf() = (opt("start_time"), opt("end_time")) match {
        case (Some(st), Some(en)) =>
          Search.timeBounded(spark, sql, st.asText(), en.asText(), effLimit, offset)
        case _ =>
          val base = spark.sql(sql)
          val paged = if (offset > 0) base.offset(offset) else base
          paged.limit(effLimit)
      }
      val watchMode = opt("watch").map(_.asInt()).filter(_ > 0)
      // Result cache (graft extension, QueryCache.scala): opted into per
      // request with `use_cache`. WATCH mode never caches — its whole
      // point is re-evaluating against fresh ingests.
      val useCache = watchMode.isEmpty &&
        opt("use_cache").exists(_.asBoolean(false))
      val built = buildDf()
      val cache = if (useCache) Some(graft.core.QueryCache.lookup(built)) else None
      val cacheTag = cache.map(c => if (c.hit) "hit" else "miss").orNull
      lazy val df = cache.fold(built)(_.frame)

      // WATCH mode (reference live views, `StorageLiveView.h:84-88`
      // periodic refresh + `ASTWatchQuery` LIMIT n): a chunked NDJSON
      // long-poll that re-evaluates the query on an interval and emits
      // a `{"version":k,"rows":[...]}` line each time the result
      // CHANGES, closing after `watch` emissions (or the timeout). The
      // views are re-registered per refresh, so each evaluation is a
      // fresh scan that sees rows ingested since the previous one.
      watchMode match {
        case Some(nUpdates) =>
          val intervalMs = opt("watch_interval_ms").map(_.asLong()).getOrElse(250L)
          val timeoutMs = opt("watch_timeout_ms").map(_.asLong()).getOrElse(30000L)
          ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
          ex.sendResponseHeaders(200, 0) // chunked
          headersSent = true
          val os = ex.getResponseBody
          try {
            var version = 0
            var last: Seq[String] = null
            val deadline = System.nanoTime() + timeoutMs * 1000000L
            var current = df
            while (version < nUpdates && System.nanoTime() < deadline) {
              val rows = current.toJSON.collect().toSeq
              if (rows != last) {
                version += 1
                last = rows
                os.write((s"""{"version":$version,"rows":[""" +
                  rows.mkString(",") + "]}\n").getBytes(UTF_8))
                os.flush()
              }
              if (version < nUpdates) {
                Thread.sleep(intervalMs)
                registerViewsFor(sql) // fresh scans: see new ingests
                current = buildDf()
              }
            }
            SystemTables.QueryLog.record(sql, logT0, -1L, "ok")
          } finally os.close()

        // Display formats (reference presentation family, FORMAT Pretty/
        // Vertical/Markdown/XML): rendered server-side as text. These are
        // row-capped terminal/report formats, not the streaming data path.
        case None => opt("format").map(_.asText()) match {
        case Some(fmt @ ("pretty" | "vertical" | "markdown" | "xml" | "csv" | "tsv")) =>
          val rendered = fmt match {
            case "pretty" => graft.sources.TextRender.pretty(df)
            case "vertical" => graft.sources.TextRender.vertical(df)
            case "markdown" => graft.sources.TextRender.markdown(df)
            case "csv" => graft.sources.TextRender.csv(df)
            case "tsv" => graft.sources.TextRender.tsv(df)
            case _ => graft.sources.TextRender.xml(df)
          }
          ex.getResponseHeaders.set("Content-Type", fmt match {
            case "xml" => "application/xml"
            case "csv" => "text/csv; charset=utf-8"
            case "tsv" => "text/tab-separated-values; charset=utf-8"
            case _ => "text/plain; charset=utf-8"
          })
          val bytes = rendered.getBytes(UTF_8)
          ex.sendResponseHeaders(200, bytes.length.toLong)
          headersSent = true
          val os = ex.getResponseBody
          try os.write(bytes) finally os.close()
          SystemTables.QueryLog.record(sql, logT0, -1L, "ok", cacheTag)
        case Some(other) if other != "json" =>
          respond(ex, 400, s"""{"error":${Catalog.toJsonString(
            s"unknown format: $other (json, pretty, vertical, markdown, xml, csv, tsv)")}}""")
          headersSent = true
        case _ =>
          val it = cache.flatMap(_.json).map(_.iterator)
            .getOrElse(df.toJSON.toLocalIterator().asScala)
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(200, 0) // length 0 = chunked transfer
          headersSent = true
          val os = ex.getResponseBody
          try {
            os.write("""{"rows":[""".getBytes(UTF_8))
            var first = true
            var nRows = 0L
            while (it.hasNext) {
              if (!first) os.write(','.toInt)
              os.write(it.next().getBytes(UTF_8))
              first = false
              nRows += 1
            }
            os.write("]}".getBytes(UTF_8))
            SystemTables.QueryLog.record(sql, logT0, nRows, "ok", cacheTag)
          } finally os.close()
        }
      }
    } catch {
      case e: Throwable if !headersSent =>
        if (logSql != null)
          SystemTables.QueryLog.record(logSql, logT0, -1L, "error")
        respond(ex, 400, s"""{"error":${Catalog.toJsonString(e.getMessage)}}""")
      case _: Throwable =>
        if (logSql != null)
          SystemTables.QueryLog.record(logSql, logT0, -1L, "error")
        ex.close() // body already streaming: truncate
    }
  })

  server.createContext("/dae/v1/sqlanalyzer", (ex: HttpExchange) => handle(ex) {
    val b = body(ex)
    registerViewsFor(b.get("query").asText())
    // optional "mode": the reference's EXPLAIN levels (ast|syntax|plan|
    // pipeline|codegen) mapped onto the Catalyst stages.
    val mode = Option(b.get("mode")).filter(!_.isNull)
      .map(_.asText()).getOrElse("default")
    val plan = Search.explain(spark, b.get("query").asText(), mode)
    (200, s"""{"mode":${Catalog.toJsonString(mode)},"plan":${Catalog.toJsonString(plan)}}""")
  })

  // Full system-view registration once up front (functions/metrics/one
  // are session-static); the SQL entry points refresh only the
  // catalog-dependent frames per request.
  SystemTables.registerViews(spark, catalog)

  def start(): Unit = {
    // Small fixed pool: concurrent requests don't serialize behind one
    // long-streaming search (Spark's scheduler does the real fan-out).
    // Daemon threads + explicit shutdown in stop(): a lingering
    // non-daemon pool otherwise keeps the embedding JVM alive forever
    // after main returns (observed wedging the correctness-gate runner).
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t }))
    server.start()
  }
  def stop(): Unit = {
    server.stop(0)
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ =>
    }
  }
}

object RestServer {
  // TCP_NODELAY on every accepted connection: the JDK server writes a
  // response's headers and its body as two writes, and with Nagle on the
  // second waits for the client's ACK of the first, which a client
  // delays by up to ~40 ms, so every response paid that wait whatever its
  // work cost. The JDK reads `sun.net.httpserver.nodelay` once, when the
  // JVM's first HttpServer is created, so it is set when this object
  // initializes (see `init`). A constant, not an option.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Initializes this object; the constructor calls it before it
    * creates its HttpServer. */
  private def init(): Unit = ()

  /** Server-side clamp for `limit <= 0` ("unbounded") search requests. */
  val MaxResultRows = 1000000

  /** Poll ids kept for `/ingest/statuses`. */
  val MaxPolls = 1000
}
