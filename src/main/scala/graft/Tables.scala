package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table registry over the driver-generated parquet test data.
  *
  * Mirrors the reference's catalog of typed tables (daisy:
  * `src/Storages/MergeTree/MergeTreeData.h` — immutable columnar parts
  * scanned with partition pruning). On Spark the idiomatic equivalent is a
  * plain parquet scan: partition pruning, min/max row-group skipping,
  * predicate pushdown and column pruning are all native to the
  * `FileSourceScanExec` + parquet reader path.
  *
  * At 100 TB the same call works unchanged: `spark.read.parquet` over a
  * partitioned directory tree; Catalyst prunes partitions from literal
  * filters, and executors stream row groups — nothing here materializes on
  * the driver.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load a test table, read with its schema supplied
    * (`spark.read.schema(s).parquet`), so building the DataFrame
    * launches no Spark job: an unschema'd parquet read runs a
    * schema-inference job (~100 ms on a local session) on every call. The
    * schema is inferred on the first load of a table in a session and
    * reused while the table's file listing and the session's parquet
    * confs are unchanged (see [[schemaOf]]); only the schema is kept,
    * never data or plans.
    *
    * `events.ts` is parquet TIMESTAMP(MICROS) without a UTC adjustment,
    * which Spark reads as TIMESTAMP_NTZ; it is cast to the session-local
    * TIMESTAMP, matching how DuckDB treats the same column under the UTC
    * session timezone. A TIMESTAMP(NANOS) column fails at load with
    * Spark's own error.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events") df.withColumn("ts", col("ts").cast("timestamp")) else df
  }

  /** Resolved table schemas, weak-keyed by session so a stopped session
    * never pins its entries. Per session: path -> (resolution key, schema). */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]]())

  /** The schema an unschema'd `spark.read.parquet(path)` would infer now.
    * Inferred once per (session, path, resolution key) and reused after.
    * The key is the fingerprint of the path's file listing (a rewritten
    * table has new lengths or mtimes, so it re-resolves) plus every
    * parquet conf set on the session (`binaryAsString`,
    * `inferTimestampNTZ`, ... change the inferred types). Listing a
    * local or HDFS directory is a driver-side metadata call, not a job. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val perSession = schemas.synchronized(schemas.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()))
    val confs = spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted
    val key = listingFingerprint(listFiles(spark, path)) + confs.mkString(";")
    val known = perSession.get(path)
    if (known != null && known._1 == key) known._2
    else {
      val schema = spark.read.parquet(path).schema
      perSession.put(path, (key, schema))
      schema
    }
  }

  /** Every file under `path` (the path itself when it is a file); empty
    * when the path does not exist, so the inferring read reports it. */
  private def listFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Seq.newBuilder[FileStatus]
    try {
      val it = fs.listFiles(p, true)
      while (it.hasNext) files += it.next()
    } catch { case _: java.io.FileNotFoundException => () }
    files.result()
  }

  /** Fingerprint of a file listing: MD5 over the sorted
    * `path|length|mtime` line of each file. Regenerating a table under
    * the same path changes it. */
  private[graft] def listingFingerprint(files: Seq[FileStatus]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    files.map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").sorted
      .foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Operator-internal persisted frames (optimizer barriers in Dedup etc.)
    * register here; Bench/Verify release them after each query so a long
    * multi-query session doesn't accumulate executor memory (round-2
    * lesson: leaked persists disturbed every later query's timing). */
  private val scratch =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  def registerScratch(df: DataFrame): DataFrame = { scratch.add(df); df }

  /** Unpersist every registered scratch frame (non-blocking). */
  def releaseScratch(): Unit = {
    var df = scratch.poll()
    while (df != null) { df.unpersist(false); df = scratch.poll() }
  }

  /** RAM-backed scratch root for gate fixtures and streaming
    * checkpoints: under /dev/shm when present and writable (Linux tmpfs —
    * the same placement the bench already uses for spark.local.dir;
    * guide §6: keep transient small-file scratch I/O off slow disk),
    * else under java.io.tmpdir (a /dev/shm literal breaks hosts without
    * that mount). The directory carries the JVM's pid, as
    * spark.local.dir does, so two JVMs never rebuild or delete each
    * other's fixtures, and it is deleted when the JVM exits. Layout: one
    * directory per fixture name, deleted and rebuilt inside every query
    * invocation — nothing written here survives a query, so nothing is
    * reusable across runs. */
  lazy val scratchRoot: String = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) shm.getPath
      else System.getProperty("java.io.tmpdir")
    val root = new java.io.File(base, s"graft-scratch-${ProcessHandle.current().pid()}")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root))
    root.getPath
  }

  /** `path` as an absolute URI path, the form FileIndex root paths take:
    * the key of [[writeEpoch]] and of the write-driven invalidations. */
  private[graft] def absolutePath(path: String): String = {
    val p = new Path(path).toUri.getPath
    if (p.startsWith("/")) p else new java.io.File(p).getAbsolutePath
  }

  /** Writes so far per table root (absolute path). */
  private val writeEpochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** How many times [[tableWritten]] has been called for `path`. Read it
    * BEFORE listing the path's files: a listing made after reading epoch
    * e holds every write whose epoch bump is <= e. */
  def writeEpoch(path: String): Long =
    writeEpochs.getOrDefault(absolutePath(path), 0L)

  /** The one hook every table writer calls after appending, rewriting or
    * deleting files under `path` (REST ingest, table drop, WAL commit,
    * maintenance rewrites): the path's write epoch goes up first, then
    * projections over the path rebuild and cached results over it drop
    * (the reference pushes every inserted block through dependent MVs). */
  def tableWritten(path: String): Unit = {
    writeEpochs.merge(absolutePath(path), 1L, (a, b) => a + b)
    graft.plans.Projections.invalidatePath(path)
    graft.core.QueryCache.invalidatePath(path)
  }

  /** Install graft's planner extensions on `spark`, each only if absent
    * (so any number of calls leaves one copy):
    *   - SkipPartialAgg, stats-driven shuffle-first aggregation: inert
    *     until a table is ANALYZEd via plans.TableStats (auto mode vetoes
    *     unanalyzed keys), then high-NDV group-bys plan Complete-mode agg
    *     after the exchange;
    *   - LazyTopK, lazy top-k materialization: wide ORDER BY + LIMIT
    *     reads bound the scan by a narrow pre-pass (inert unless the
    *     shape + width match);
    *   - FastSubstring, the constant-substring fast path: LIKE '%x%'
    *     (-> Contains) swaps to a Volnitsky bigram-skip matcher (measured
    *     1.2-1.8x/row on hits-shaped strings, BENCH_volnitsky_ab.json)
    *     and Filter AND-chains order cheap-first, both result-identical;
    *   - RouteToProjection, routing to registered projections (returns
    *     the plan untouched while none is registered);
    *   - TimeTable.PruneBuckets, `_time_bucket` partition bounds for
    *     `_time`-bounded reads of bucketed tables (inert on any relation
    *     not read with the bucket-unit option). */
  def installRules(spark: SparkSession): Unit = {
    val x = spark.experimental
    if (!x.extraStrategies.contains(graft.plans.SkipPartialAgg))
      x.extraStrategies = graft.plans.SkipPartialAgg +: x.extraStrategies
    val rules = Seq(graft.plans.LazyTopK.Rewrite,
      graft.functions.FastSubstring.Rewrite,
      graft.plans.Projections.RouteToProjection,
      graft.core.TimeTable.PruneBuckets)
    x.extraOptimizations =
      x.extraOptimizations ++ rules.filterNot(x.extraOptimizations.contains)
  }

  /** Apply engine-level session tuning once per session. Values chosen for
    * local[32] testing but expressed scale-independently: AQE handles
    * runtime coalescing/skew at any cluster size.
    */
  def tune(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // Let AQE re-plan (coalesce) the shuffle that MATERIALIZES a cached
    // frame: off by default (Spark preserves a cached plan's output
    // partitioning for downstream reuse), which pinned every operator-
    // internal persist — e.g. the CC edge frame, a few-KB distinct — to
    // the session's full shuffle width, 32 tasks per tiny cache build
    // (guide §2.2: partitions track data). Content is unchanged; only
    // the cached frame's partition count adapts. Explicit
    // repartition(n) frames keep their width — AQE never overrides
    // user-specified numPartitions.
    spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    graft.functions.GraftScalar.register(spark)
    installRules(spark)
  }
}
