package graft.rest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's `system.*` introspection tables (daisy
  * `src/Storages/System/StorageSystemTables.cpp`, `StorageSystemColumns
  * .cpp`, `StorageSystemDatabases.cpp`, `StorageSystemFunctions.cpp`,
  * `StorageSystemMetrics.cpp`, `StorageSystemOne.cpp`) over the live
  * catalog and session.
  *
  * Spark temp views are database-less, so the dotted `system.tables`
  * name maps to a `system_` prefix: `SELECT * FROM system_columns` in
  * any `/search` request. All frames are built from in-memory metadata
  * (one `createDataFrame` over a few dozen rows) — introspection never
  * scans data, exactly like the reference's one-block system storages.
  * Served over REST at `GET /dae/v1/system/{tables,columns,databases,
  * functions,metrics,one}`.
  */
object SystemTables {

  val names: Seq[String] =
    Seq("tables", "columns", "databases", "functions", "metrics", "one",
      "query_log", "parts")

  /** system.query_log (reference `src/Interpreters/QueryLog.cpp`): a
    * bounded in-memory ring of recent /search executions. The reference
    * persists its log through an internal MergeTree table; here the
    * introspection surface is the contract — entries are session-local
    * and capped, like the metrics snapshot. `cache` is `hit` or `miss`
    * for a `use_cache` search (graft's QueryCache), null otherwise.
    * The ring holds the newest [[Cap]] entries under any number of
    * recording threads: `count` is the number of entries added and not
    * yet removed, and a record whose add takes it past the cap removes
    * exactly one, the oldest — O(1), where a deque's `size` walks it. */
  object QueryLog {
    final case class Entry(eventMs: Long, query: String, durationMs: Long,
                           resultRows: Long, status: String, cache: String)
    val Cap = 1000
    private val buf = new java.util.concurrent.ConcurrentLinkedDeque[Entry]
    private val count = new java.util.concurrent.atomic.AtomicInteger
    def record(query: String, startNs: Long, rows: Long, status: String,
               cache: String = null): Unit = {
      buf.addLast(Entry(System.currentTimeMillis(), query,
        (System.nanoTime() - startNs) / 1000000L, rows, status, cache))
      if (count.incrementAndGet() > Cap) {
        buf.pollFirst()
        count.decrementAndGet()
      }
    }
    def entries(): Seq[Entry] = {
      val it = buf.iterator(); val b = Seq.newBuilder[Entry]
      while (it.hasNext) b += it.next()
      b.result()
    }
    def clear(): Unit = while (buf.pollFirst() != null) count.decrementAndGet()
  }

  /** system.query_log as a frame (newest last). */
  def queryLog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    QueryLog.entries()
      .map(e => (e.eventMs, e.query, e.durationMs, e.resultRows, e.status, e.cache))
      .toDF("event_ms", "query", "duration_ms", "result_rows", "status", "cache")
  }

  /** system.tables — one row per catalog table. */
  def tables(spark: SparkSession, catalog: Catalog): DataFrame = {
    import spark.implicits._
    catalog.list().flatMap(catalog.get).map { t =>
      (t.name, t.subtype, t.orderBy.mkString(","), t.granularity,
        t.columns.size.toLong)
    }.toDF("name", "engine", "order_by", "granularity", "n_columns")
  }

  /** system.columns — one row per declared column (the `_time`
    * auto-column included, as the reference lists materialized columns). */
  def columns(spark: SparkSession, catalog: Catalog): DataFrame = {
    import spark.implicits._
    catalog.list().flatMap(catalog.get).flatMap { t =>
      t.schema.fields.zipWithIndex.map { case (f, i) =>
        (t.name, f.name, f.dataType.sql, (i + 1).toLong)
      }
    }.toDF("table", "name", "type", "position")
  }

  /** system.databases. */
  def databases(spark: SparkSession, catalog: Catalog): DataFrame = {
    import spark.implicits._
    ("default" +: catalog.listDatabases()).distinct.sorted.toDF("name")
  }

  /** system.functions — the engine's own registered functions: every
    * session-registry entry that is NOT a Spark built-in (the graft
    * Catalyst expressions registered by GraftScalar plus any session
    * UDAFs), introspected rather than hardcoded so the list can't
    * drift from the registry. */
  def functions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.functions.GraftScalar.register(spark)
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry
      .builtin.listFunction().map(_.funcName).toSet
    spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filterNot(builtin)
      .distinct.sorted.map(n => (n, "graft"))
      .toDF("name", "origin")
  }

  /** system.metrics — a small live-session metric set (the reference's
    * CurrentMetrics snapshot). Values are point-in-time, not oracled. */
  def metrics(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rt = Runtime.getRuntime
    val sc = spark.sparkContext
    Seq(
      ("default_parallelism", sc.defaultParallelism.toLong),
      ("executor_count", sc.statusTracker.getExecutorInfos.length.toLong),
      ("active_jobs", sc.statusTracker.getActiveJobIds().length.toLong),
      ("jvm_heap_used_bytes", rt.totalMemory() - rt.freeMemory()),
      ("jvm_heap_max_bytes", rt.maxMemory()),
      ("query_cache_hits", graft.core.QueryCache.hits),
      ("query_cache_misses", graft.core.QueryCache.misses),
      ("query_cache_entries", graft.core.QueryCache.size.toLong)
    ).toDF("metric", "value")
  }

  /** system.parts (reference `StorageSystemParts.cpp`): one row per
    * (table, time-bucket partition) with file/byte counts — our "part"
    * is a partition directory's parquet file set. Pure metadata walk of
    * the catalog root; never reads data. */
  def parts(spark: SparkSession, catalog: Catalog): DataFrame = {
    import spark.implicits._
    val rows = catalog.list().flatMap { t =>
      val dir = new java.io.File(catalog.rootDir, t)
      val partDirs = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.contains("="))
      val units = if (partDirs.isEmpty) Array(dir).filter(_.isDirectory)
                  else partDirs
      units.flatMap { p =>
        val files = Option(p.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        if (files.isEmpty) None
        else Some((t,
          if (p == dir) "all" else p.getName,
          files.length.toLong, files.map(_.length).sum))
      }
    }
    rows.toDF("table", "partition", "n_files", "bytes")
  }

  /** system.one — the reference's 1-row dummy table. */
  def one(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(0L).toDF("dummy")
  }

  def frame(spark: SparkSession, catalog: Catalog, name: String): DataFrame =
    name match {
      case "tables" => tables(spark, catalog)
      case "columns" => columns(spark, catalog)
      case "databases" => databases(spark, catalog)
      case "functions" => functions(spark)
      case "metrics" => metrics(spark)
      case "one" => one(spark)
      case "query_log" => queryLog(spark)
      case "parts" => parts(spark, catalog)
      case other => sys.error(s"no such system table: $other")
    }

  /** The frames whose content tracks the catalog (or the request stream,
    * for query_log) and must be re-derived per request; functions/
    * metrics/one are session-static (metrics is a point-in-time snapshot
    * — the REST endpoint rebuilds it live). */
  private val catalogDependent = Seq("tables", "columns", "databases",
    "query_log", "parts")

  /** Register every system table as a `system_<name>` temp view. Called
    * once at server construction; the SQL entry points then refresh only
    * the catalog-dependent frames via [[registerCatalogViews]]. */
  def registerViews(spark: SparkSession, catalog: Catalog): Unit =
    names.foreach(n =>
      frame(spark, catalog, n).createOrReplaceTempView(s"system_$n"))

  /** Refresh the catalog-derived views `named` picks by view name (no
    * function-registry scan, no metric snapshot) — the per-request path. */
  def registerCatalogViews(spark: SparkSession, catalog: Catalog,
                           named: String => Boolean = _ => true): Unit =
    catalogDependent.filter(n => named(s"system_$n")).foreach(n =>
      frame(spark, catalog, n).createOrReplaceTempView(s"system_$n"))
}
