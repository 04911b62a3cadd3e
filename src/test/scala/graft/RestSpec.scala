package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite
import graft.rest.{Catalog, RestServer}

/** End-to-end REST integration: DDL → ingest → status → search →
  * analyzer → drop over real HTTP (mirrors the reference's
  * tests/integration/test_rest_ingest_api + test_rest_search_api flow). */
class RestSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  private val root = tmp("rest_spec_") + System.nanoTime()
  private val catalog = new Catalog(spark, root)
  private val server = new RestServer(spark, catalog, port = 0)
  server.start()
  private val base = s"http://127.0.0.1:${server.boundPort}/dae/v1"
  private val http = HttpClient.newHttpClient()

  private def post(path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def get(path: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def delete(path: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(base + path)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("ddl create + list") {
    val (code, body) = post("/ddl/tables",
      """{"name":"logs","columns":[
        |{"name":"sourcetype","type":"string"},
        |{"name":"latency","type":"double"},
        |{"name":"_time","type":"timestamp"}],
        |"order_by":["sourcetype"],"partition_by_granularity":"D"}""".stripMargin)
    assert(code == 200, body)
    val (lc, lb) = get("/ddl/tables")
    assert(lc == 200 && lb.contains("\"logs\""), lb)
  }

  test("ingest commits rows and status resolves") {
    val (code, body) = post("/ingest/tables/logs",
      """{"columns":["sourcetype","latency","_time","_idem"],
        |"data":[
        | ["nginx","12.5","2024-03-01 10:00:00","a"],
        | ["nginx","40.0","2024-03-01 11:00:00","b"],
        | ["app","7.25","2024-03-02 09:30:00","c"],
        | ["app","7.25","2024-03-02 09:30:00","c"]]}""".stripMargin)
    assert(code == 200, body)
    assert(body.contains("\"committed\":3"), body) // _idem dedup dropped 1
    val pollId = body.split("\"poll_id\":\"")(1).split("\"")(0)
    val (sc, sb) = get(s"/ingest/statuses?poll_id=$pollId")
    assert(sc == 200 && sb.contains("committed"), sb)
  }

  test("ingest keeps every keyless row and the first row per _idem key") {
    assert(post("/ddl/tables", """{"name":"idem_t","columns":[
        |{"name":"tag","type":"string"},{"name":"v","type":"double"},
        |{"name":"_time","type":"timestamp"}]}""".stripMargin)._1 == 200)
    // 3 keyless rows (two null keys, one short row) and 2 sharing key "k"
    val (code, body) = post("/ingest/tables/idem_t",
      """{"columns":["tag","v","_time","_idem"],
        |"data":[
        | ["none","1.0","2024-03-05 10:00:00",null],
        | ["none","2.0","2024-03-05 10:00:00",null],
        | ["none","3.0","2024-03-05 10:00:00"],
        | ["keyed","4.0","2024-03-05 10:00:00","k"],
        | ["keyed","5.0","2024-03-05 10:00:00","k"]]}""".stripMargin)
    assert(code == 200, body)
    assert(body.contains("\"committed\":4"), body)
    val (sc, sb) = post("/search",
      """{"query":"SELECT v FROM idem_t ORDER BY v"}""")
    assert(sc == 200 && sb.contains("1.0") && sb.contains("2.0") &&
      sb.contains("3.0") && sb.contains("4.0") && !sb.contains("5.0"), sb)
    assert(delete("/ddl/tables/idem_t")._1 == 200)
  }

  test("search applies time bounds and paging") {
    val (code, body) = post("/search",
      """{"query":"SELECT sourcetype, latency FROM logs",
        |"start_time":"2024-03-01 00:00:00","end_time":"2024-03-02 00:00:00",
        |"limit":10}""".stripMargin)
    assert(code == 200, body)
    assert(body.contains("nginx") && !body.contains("app"), body)
    // unbounded search sees both days
    val (c2, b2) = post("/search",
      """{"query":"SELECT sourcetype, count(*) AS n FROM logs GROUP BY sourcetype"}""")
    assert(c2 == 200 && b2.contains("app") && b2.contains("nginx"), b2)
  }

  test("search renders display formats (pretty/markdown/vertical/xml)") {
    val q = """"query":"SELECT sourcetype, count(*) AS n FROM logs GROUP BY sourcetype ORDER BY sourcetype""""
    val (pc, pb) = post("/search", s"""{$q,"format":"pretty"}""")
    assert(pc == 200 && pb.contains("┏") && pb.contains("│"), pb)
    val (mc, mb) = post("/search", s"""{$q,"format":"markdown"}""")
    assert(mc == 200 && mb.startsWith("| sourcetype | n |"), mb)
    assert(mb.contains("|:-|-:|"), mb)
    val (vc, vb) = post("/search", s"""{$q,"format":"vertical"}""")
    assert(vc == 200 && vb.startsWith("Row 1:"), vb)
    val (xc, xb) = post("/search", s"""{$q,"format":"xml"}""")
    assert(xc == 200 && xb.contains("<name>sourcetype</name>") &&
      xb.contains("<rows>2</rows>"), xb)
    val (bc, bb) = post("/search", s"""{$q,"format":"nope"}""")
    assert(bc == 400 && bb.contains("unknown format"), bb)
  }

  private def getRoot(path: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${server.boundPort}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("ping, info and clusterinfo report liveness and topology") {
    assert(getRoot("/dae/ping")._2.contains("ok"))
    val (ic, ib) = getRoot("/dae/info")
    assert(ic == 200 && ib.contains("graft"), ib)
    val (cc, cb) = get("/clusterinfo")
    assert(cc == 200 && cb.contains("default_parallelism"), cb)
  }

  test("system tables: REST endpoint and system_* views over /search") {
    // endpoint — the logs table created above must be introspectable
    val (tc, tb) = get("/system/tables")
    assert(tc == 200 && tb.contains("\"logs\""), tb)
    val (cc, cb) = get("/system/columns")
    assert(cc == 200 && cb.contains("\"latency\"") && cb.contains("DOUBLE"), cb)
    val (fc, fb) = get("/system/functions")
    assert(fc == 200 && fb.contains("siphash64"), fb)
    val (mc, mb) = get("/system/metrics")
    assert(mc == 200 && mb.contains("default_parallelism"), mb)
    val (nc, _) = get("/system/nope")
    assert(nc == 404)
    // the same frames as SQL views through /search
    val (sc, sb) = post("/search",
      """{"query":"SELECT `table`, count(*) AS n FROM system_columns GROUP BY 1 ORDER BY 1"}""")
    assert(sc == 200 && sb.contains("logs"), sb)
    val (oc, ob) = post("/search", """{"query":"SELECT dummy FROM system_one"}""")
    assert(oc == 200 && ob.contains("0"), ob)
    // the analyzer entry point sees the same table universe
    val (ac, ab) = post("/sqlanalyzer",
      """{"query":"SELECT `table` FROM system_columns"}""")
    assert(ac == 200 && ab.contains("Physical"), ab)
  }

  test("column DDL: add column reads NULL for old rows, drop projects it away") {
    val (ac, ab) = post("/ddl/logs/columns", """{"name":"region","type":"string"}""")
    assert(ac == 200, ab)
    // a new ingest can fill it; the pre-ALTER rows read back NULL
    post("/ingest/tables/logs",
      """{"columns":["sourcetype","latency","_time","region"],
        |"data":[["edge","3.5","2024-03-03 08:00:00","eu"]]}""".stripMargin)
    val (sc, sb) = post("/search",
      """{"query":"SELECT sourcetype, region FROM logs ORDER BY region NULLS FIRST"}""")
    assert(sc == 200 && sb.contains("\"region\":\"eu\""), sb)
    val (dc, db) = delete("/ddl/logs/columns/region")
    assert(dc == 200, db)
    val (s2c, s2b) = post("/search", """{"query":"SELECT * FROM logs LIMIT 1"}""")
    assert(s2c == 200 && !s2b.contains("region"), s2b)
    // load-bearing columns refuse to drop
    assert(delete("/ddl/logs/columns/_time")._1 == 400)
  }

  test("database DDL: create, list includes default, drop") {
    assert(post("/ddl/databases", """{"name":"metrics"}""")._1 == 200)
    val (lc, lb) = get("/ddl/databases")
    assert(lc == 200 && lb.contains("default") && lb.contains("metrics"), lb)
    assert(delete("/ddl/databases/metrics")._1 == 200)
    assert(delete("/ddl/databases/default")._1 == 400)
  }

  test("rawstore: create, raw-line ingest with JSON time extraction, " +
    "query-time field extraction, drop") {
    assert(post("/ddl/rawstores", """{"name":"applogs"}""")._1 == 200)
    val (ic, ib) = post("/ingest/rawstores/applogs",
      """{"sourcetype":"nginx","data":[
        | "{\"timestamp\":\"2024-04-01 12:00:00\",\"level\":\"warn\",\"ms\":42}",
        | "{\"timestamp\":\"2024-04-01 12:05:00\",\"level\":\"info\",\"ms\":7}"]}""".stripMargin)
    assert(ic == 200 && ib.contains("\"committed\":2"), ib)
    // schema-on-read: fields extracted at query time from _raw
    val (sc, sb) = post("/search",
      """{"query":"SELECT get_json_object(_raw, '$.level') AS level, _time FROM applogs ORDER BY _time"}""")
    assert(sc == 200 && sb.contains("\"level\":\"warn\""), sb)
    assert(sb.contains("2024-04-01 12:00:00") || sb.contains("2024-04-01T12:00:00"), sb)
    val (lc, lb) = get("/ddl/rawstores")
    assert(lc == 200 && lb.contains("applogs") && lb.contains("rawstore"), lb)
    assert(delete("/ddl/rawstores/applogs")._1 == 200)
  }

  test("search streams a large limit:0 result chunked without collect") {
    // 50k-row result through the chunked streaming path: limit 0 means
    // "unbounded" (clamped server-side), and every row must arrive.
    val (code, bd) = post("/search",
      """{"query":"SELECT id, id * 2 AS dbl FROM range(50000)","limit":0}""")
    assert(code == 200)
    assert(bd.count(_ == '{') == 50001, s"rows=${bd.count(_ == '{')  - 1}")
    assert(bd.contains("\"id\":49999"), bd.takeRight(200))
  }

  test("watch long-poll re-emits the refreshed result as data changes") {
    // WATCH (reference live views: periodic refresh, ASTWatchQuery
    // LIMIT n): the chunked NDJSON stream must deliver version 1
    // immediately, then version 2 only after new rows are ingested —
    // each refresh is a fresh scan of the table.
    val conn = new java.net.URI(base + "/search").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    conn.getOutputStream.write(
      """{"query":"SELECT count(*) AS n FROM logs","watch":2,
        |"watch_interval_ms":200}""".stripMargin.getBytes("UTF-8"))
    conn.getOutputStream.close()
    assert(conn.getResponseCode == 200)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
    val line1 = reader.readLine()
    assert(line1.startsWith("""{"version":1,"""), line1)
    val n1 = """"n":(\d+)""".r.findFirstMatchIn(line1).get.group(1).toLong

    // no change yet → nothing new arrives; now ingest one more row
    val (ic, ib) = post("/ingest/tables/logs",
      """{"columns":["sourcetype","latency","_time","_idem"],
        |"data":[["watchsrc","3.5","2024-03-03 08:00:00","w1"]]}""".stripMargin)
    assert(ic == 200, ib)

    val line2 = reader.readLine()
    assert(line2 != null, "watch stream closed before the second refresh")
    assert(line2.startsWith("""{"version":2,"""), line2)
    val n2 = """"n":(\d+)""".r.findFirstMatchIn(line2).get.group(1).toLong
    assert(n2 == n1 + 1, s"refresh did not see the ingested row: $n1 -> $n2")
    assert(reader.readLine() == null, "stream must close after watch=2 updates")
    reader.close()
  }

  test("system.parts lists partition file sets after ingest") {
    val (gc, gb) = get("/system/parts")
    assert(gc == 200, gb)
    assert(gb.contains("\"table\":\"logs\""), gb)
    val (sc2, sb2) = post("/search",
      """{"query":"SELECT table, count(*) AS n_parts, sum(n_files) AS files FROM system_parts WHERE table = 'logs' GROUP BY table"}""")
    assert(sc2 == 200, sb2)
    assert(""""files":(\d+)""".r.findFirstMatchIn(sb2).get.group(1).toLong >= 1, sb2)
  }

  test("csv/tsv formats and the prometheus metrics endpoint") {
    val (cc, cb) = post("/search",
      """{"query":"SELECT 'a,b' AS s, 1 AS n UNION ALL SELECT NULL, 2 ORDER BY n","format":"csv"}""")
    assert(cc == 200, cb)
    assert(cb == "s,n\n\"a,b\",1\n\\N,2\n", cb)
    val (tc, tb) = post("/search",
      """{"query":"SELECT 'x\ty' AS s, 1 AS n","format":"tsv"}""")
    assert(tc == 200 && tb == "s\tn\nx\\ty\t1\n", tb)
    // /metrics sits at the server root (prometheus convention), not /dae/v1
    val r = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${server.boundPort}/metrics")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("# TYPE graft_jvm_heap_used_bytes gauge"), r.body())
    assert(r.body().linesIterator.exists(_.matches("graft_default_parallelism \\d+")),
      r.body())
  }

  test("query_log records search executions and is itself searchable") {
    graft.rest.SystemTables.QueryLog.clear()
    val (c1, b1) = post("/search", """{"query":"SELECT 41+1 AS answer"}""")
    assert(c1 == 200 && b1.contains("\"answer\":42"), b1)
    post("/search", """{"query":"SELECT dummy FROM system_one"}""")
    // REST surface
    val (gc, gb) = get("/system/query_log")
    assert(gc == 200 && gb.contains("SELECT 41+1 AS answer"), gb)
    assert(gb.contains("\"status\":\"ok\""), gb)
    // SQL surface: the log joins the system_* views
    val (c2, b2) = post("/search",
      """{"query":"SELECT count(*) AS n FROM system_query_log WHERE status = 'ok' AND result_rows >= 1"}""")
    assert(c2 == 200, b2)
    val n = """"n":(\d+)""".r.findFirstMatchIn(b2).get.group(1).toLong
    assert(n >= 2, s"expected both searches logged, got $n: $b2")
    // a failing query lands with status=error
    post("/search", """{"query":"SELECT FROM nowhere"}""")
    val (c3, b3) = post("/search",
      """{"query":"SELECT count(*) AS n FROM system_query_log WHERE status = 'error'"}""")
    assert(c3 == 200, b3)
    assert(""""n":(\d+)""".r.findFirstMatchIn(b3).get.group(1).toLong >= 1, b3)
    // `cache` says hit or miss for a use_cache search, null otherwise
    graft.core.QueryCache.clear()
    graft.rest.SystemTables.QueryLog.clear()
    val cachedQ = """{"query":"SELECT count(*) AS n FROM logs","use_cache":true}"""
    assert(post("/search", cachedQ)._1 == 200)
    assert(post("/search", cachedQ)._1 == 200)
    assert(post("/search", """{"query":"SELECT count(*) AS n FROM logs"}""")._1 == 200)
    val (c4, b4) = post("/search",
      """{"query":"SELECT coalesce(cache, 'none') AS c FROM system_query_log"}""")
    assert(c4 == 200, b4)
    assert(""""c":"(\w+)"""".r.findAllMatchIn(b4).map(_.group(1)).toSeq ==
      Seq("miss", "hit", "none"), b4)
    graft.core.QueryCache.clear()
  }

  test("analyzer returns a physical plan without executing") {
    val (code, body) = post("/sqlanalyzer",
      """{"query":"SELECT sourcetype, avg(latency) FROM logs GROUP BY sourcetype"}""")
    assert(code == 200 && body.contains("Physical"), body)
  }

  test("analyzer explain modes expose each Catalyst stage") {
    def plan(mode: String): String = {
      val (code, body) = post("/sqlanalyzer",
        s"""{"query":"SELECT sourcetype, count(*) FROM logs GROUP BY sourcetype","mode":"$mode"}""")
      assert(code == 200, body)
      body
    }
    assert(plan("ast").contains("'UnresolvedRelation") ||
      plan("ast").contains("'Aggregate"))
    assert(plan("syntax").contains("Aggregate"))
    assert(plan("plan").contains("Aggregate"))
    assert(plan("pipeline").contains("HashAggregate"))
    // under AQE the codegen subtrees may not exist until execution — the
    // mode must answer either way, never error
    assert(plan("codegen").contains("WholeStageCodegen"),
      plan("codegen").take(300))
    val (bad, bb) = post("/sqlanalyzer",
      """{"query":"SELECT 1","mode":"nope"}""")
    assert(bad == 400 && bb.contains("unknown explain mode"), bb)
  }

  test("query cache: repeated search hits, ingest invalidation serves fresh") {
    graft.core.QueryCache.clear()
    val q = """{"query":"SELECT count(*) AS n FROM logs","use_cache":true}"""
    val (c1, b1) = post("/search", q)
    assert(c1 == 200, b1)
    val h0 = graft.core.QueryCache.hits
    val (c2, b2) = post("/search", q)
    assert(c2 == 200 && b2 == b1, s"$b1 vs $b2")
    assert(graft.core.QueryCache.hits == h0 + 1,
      "repeated cached search did not hit the cache")
    // ingest → invalidatePath fires → next cached search must be fresh
    val rows1 = b1.split("\"n\":")(1).takeWhile(_.isDigit).toLong
    val (ic, ib) = post("/ingest/tables/logs",
      """{"columns":["sourcetype","latency","_time","_idem"],
        |"data":[["cacheinv","1.0","2024-03-05 00:00:00","qc1"]]}""".stripMargin)
    assert(ic == 200, ib)
    val (c3, b3) = post("/search", q)
    val rows2 = b3.split("\"n\":")(1).takeWhile(_.isDigit).toLong
    assert(c3 == 200 && rows2 == rows1 + 1,
      s"stale cached result after ingest: $rows1 -> $rows2")
    // the fresh result is itself cached again
    val h1 = graft.core.QueryCache.hits
    val (c4, b4) = post("/search", q)
    assert(c4 == 200 && b4 == b3 && graft.core.QueryCache.hits == h1 + 1)
    graft.core.QueryCache.clear()
  }

  /** Create table `name` (k bigint, v double, _time) and ingest `rows`
    * (k, v) pairs, all on 2024-03-01: one partition directory, one file. */
  private def table(name: String, rows: Seq[(Int, Double)]): Unit = {
    val (cc, cb) = post("/ddl/tables", s"""{"name":"$name","columns":[
        |{"name":"k","type":"bigint"},{"name":"v","type":"double"},
        |{"name":"_time","type":"timestamp"}]}""".stripMargin)
    assert(cc == 200, cb)
    if (rows.nonEmpty) ingest(name, rows)
  }

  private def ingest(name: String, rows: Seq[(Int, Double)]): Unit = {
    val data = rows.map { case (k, v) => s"""["$k","$v","2024-03-01 10:00:00"]""" }
    val (ic, ib) = post(s"/ingest/tables/$name",
      s"""{"columns":["k","v","_time"],"data":[${data.mkString(",")}]}""")
    assert(ic == 200, ib)
  }

  private def count(name: String): Long = {
    val (c, b) = post("/search", s"""{"query":"SELECT count(*) AS n FROM $name"}""")
    assert(c == 200, b)
    """"n":(\d+)""".r.findFirstMatchIn(b).get.group(1).toLong
  }

  test("a use_cache hit over HTTP runs no Spark job; a miss runs one") {
    table("one_file", Seq(1 -> 1.5, 2 -> 2.5, 3 -> -1.0))
    graft.core.QueryCache.clear()
    val q = """{"query":"SELECT k, v FROM one_file WHERE v > 0","use_cache":true}"""
    var miss, hit = ""
    val missJobs = allJobsIn { miss = post("/search", q)._2 }
    val hitJobs = allJobsIn { hit = post("/search", q)._2 }
    assert(graft.core.QueryCache.hits == 1 && graft.core.QueryCache.misses == 1)
    assert(miss == """{"rows":[{"k":1,"v":1.5},{"k":2,"v":2.5}]}""", miss)
    assert(hit == miss)
    assert(missJobs == 1, s"a miss ran $missJobs Spark jobs")
    assert(hitJobs == 0, s"a hit ran $hitJobs Spark jobs")
    graft.core.QueryCache.clear()
    assert(delete("/ddl/tables/one_file")._1 == 200)
  }

  test("a cached hit's body is byte-identical to the uncached body") {
    assert(post("/ddl/tables", """{"name":"typed","columns":[
        |{"name":"name","type":"string"},{"name":"score","type":"double"},
        |{"name":"note","type":"string"},{"name":"_time","type":"timestamp"}]}""".stripMargin)._1 == 200)
    assert(post("/ingest/tables/typed", """{"columns":["name","score","note","_time"],"data":[
        | ["a","12.5","x","2024-03-01 10:00:00.123456"],
        | ["b","1.0E-7",null,"2024-03-02 23:59:59"],
        | ["c",null,"é\"q","2024-03-03 00:00:00"]]}""".stripMargin)._1 == 200)
    def query(aliases: Seq[String], cache: Boolean) = {
      val Seq(s, t, n, arr, m, st) = aliases
      s"""{"query":"SELECT name, score AS $s, _time AS $t, note AS $n, """ +
        s"""array(score, score * 2) AS $arr, map(name, score) AS $m, """ +
        s"""named_struct('n', name, 't', _time, 'none', CAST(NULL AS int)) AS $st """ +
        s"""FROM typed ORDER BY name","use_cache":$cache}"""
    }
    val names = Seq("score", "at", "note", "arr", "m", "st")
    val twin = Seq("s2", "t2", "n2", "a2", "m2", "st2")
    graft.core.QueryCache.clear()
    val (uc, uncached) = post("/search", query(names, cache = false))
    assert(uc == 200, uncached)
    assert(uncached.contains("\"at\":") && uncached.contains("\"arr\":[12.5,25.0]"), uncached)
    val miss = post("/search", query(names, cache = true))._2
    val hit = post("/search", query(names, cache = true))._2
    // the twin keys the same entry and reads back its own aliases
    val twinUncached = post("/search", query(twin, cache = false))._2
    val twinHit = post("/search", query(twin, cache = true))._2
    assert(graft.core.QueryCache.misses == 1 && graft.core.QueryCache.hits == 2)
    assert(miss == uncached, s"$miss vs $uncached")
    assert(hit == uncached, s"$hit vs $uncached")
    assert(twinHit == twinUncached && twinHit != uncached, s"$twinHit vs $twinUncached")
    graft.core.QueryCache.clear()
    assert(delete("/ddl/tables/typed")._1 == 200)
  }

  test("a cached hit answers without a delayed-ACK stall over a keep-alive connection") {
    table("nodelay", Seq(1 -> 1.5, 2 -> 2.5))
    graft.core.QueryCache.clear()
    val q = """{"query":"SELECT k, v FROM nodelay WHERE v > 0 ORDER BY k","use_cache":true}"""
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(URI.create(base + "/search"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(q)).build()
    val first = client.send(req, HttpResponse.BodyHandlers.ofString()).body()
    assert(first == """{"rows":[{"k":1,"v":1.5},{"k":2,"v":2.5}]}""", first)
    val rtts = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200 && r.body() == first, r.body())
      (System.nanoTime() - t0) / 1e6
    }.sorted
    // with Nagle on, each round trip waits ~40 ms for the client's ACK
    assert(rtts(rtts.size / 2) < 25, s"round trips (ms): ${rtts.map(_.round)}")
    graft.core.QueryCache.clear()
    assert(delete("/ddl/tables/nodelay")._1 == 200)
  }

  test("query_log keeps exactly its newest Cap entries under 8 recording threads") {
    val log = graft.rest.SystemTables.QueryLog
    log.clear()
    val perThread = log.Cap
    val threads = (0 until 8).map { t =>
      new Thread(() => (0 until perThread).foreach(i =>
        log.record(s"t$t-$i", System.nanoTime(), i.toLong, "ok")))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val kept = log.entries()
    assert(kept.size == log.Cap)
    // each thread's kept entries are its last ones, in order
    kept.groupBy(_.query.takeWhile(_ != '-')).foreach { case (t, es) =>
      val rows = es.map(_.resultRows)
      assert(rows == (perThread - rows.size until perThread).map(_.toLong), t)
    }
    log.clear()
    assert(log.entries().isEmpty)
  }

  // Freshness of the registered views: a view is rebuilt only when its
  // table's write epoch or definition changed. An ingest, a Maintenance
  // rewrite and a drop + re-create under the same definition change only
  // the epoch; column DDL changes only the definition.
  test("a search sees rows ingested since its view was registered") {
    table("fresh_ingest", Seq(1 -> 1.0, 2 -> 6.0))
    assert(count("fresh_ingest") == 2) // registers the view
    ingest("fresh_ingest", Seq(3 -> 7.0))
    assert(count("fresh_ingest") == 3, "ingest not seen")
    assert(delete("/ddl/tables/fresh_ingest")._1 == 200)
  }

  test("a search sees columns added and dropped since its view was registered") {
    table("fresh_ddl", Seq(1 -> 1.0, 2 -> 6.0))
    assert(count("fresh_ddl") == 2)
    assert(post("/ddl/fresh_ddl/columns", """{"name":"extra","type":"int"}""")._1 == 200)
    val (ac, ab) = post("/search", """{"query":"SELECT k, extra FROM fresh_ddl ORDER BY k"}""")
    assert(ac == 200 && ab == """{"rows":[{"k":1},{"k":2}]}""", ab)
    assert(delete("/ddl/fresh_ddl/columns/extra")._1 == 200)
    val (dc, db) = post("/search", """{"query":"SELECT extra FROM fresh_ddl"}""")
    assert(dc == 400, s"dropped column still readable: $db")
    assert(delete("/ddl/tables/fresh_ddl")._1 == 200)
  }

  test("a search sees a Maintenance rewrite made since its view was registered") {
    table("fresh_mnt", Seq(1 -> 1.0, 2 -> 6.0, 3 -> 7.0))
    assert(count("fresh_mnt") == 3)
    graft.operators.Maintenance.mutateDelete(spark, s"$root/fresh_mnt", "v > 5")
    assert(count("fresh_mnt") == 1, "Maintenance rewrite not seen")
    assert(delete("/ddl/tables/fresh_mnt")._1 == 200)
  }

  test("a search sees a table dropped and re-created under the same definition") {
    table("fresh_drop", Seq(1 -> 1.0, 2 -> 6.0))
    assert(count("fresh_drop") == 2)
    assert(delete("/ddl/tables/fresh_drop")._1 == 200)
    table("fresh_drop", Nil)
    assert(count("fresh_drop") == 0, "re-created table shows the dropped one's rows")
    assert(delete("/ddl/tables/fresh_drop")._1 == 200)
  }

  test("poll ids are bounded: the oldest is forgotten (404)") {
    table("polled", Nil)
    val (ic, ib) = post("/ingest/tables/polled",
      """{"columns":["k","v","_time"],"data":[["1","1.0","2024-03-01 10:00:00"]]}""")
    assert(ic == 200, ib)
    val oldest = ib.split("\"poll_id\":\"")(1).split("\"")(0)
    assert(get(s"/ingest/statuses?poll_id=$oldest")._1 == 200)
    val newest = (1 to RestServer.MaxPolls).map(_ => server.newPoll(0L)).last
    val (oc, ob) = get(s"/ingest/statuses?poll_id=$oldest")
    assert(oc == 404 && ob.contains("unknown"), ob)
    assert(get(s"/ingest/statuses?poll_id=$newest")._1 == 200)
    assert(get("/ingest/statuses?poll_id=unknown-id")._1 == 404)
    assert(delete("/ddl/tables/polled")._1 == 200)
  }

  test("drop removes table and data") {
    val (code, _) = delete("/ddl/tables/logs")
    assert(code == 200)
    val (_, lb) = get("/ddl/tables")
    assert(!lb.contains("\"logs\""), lb)
    server.stop()
  }
}
