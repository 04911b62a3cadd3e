package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Query result cache with write-driven invalidation.
  *
  * EXTENSION beyond the reference: the daisy fork at `/root/reference`
  * (v21.4-era) has no query result cache — the closest machinery it has
  * is the mark/uncompressed block caches under `src/IO` and the
  * projection-style materialized routing graft already implements in
  * `plans/Projections.scala`. The result cache here follows the shape of
  * the widely-published upstream design (query-keyed entries, TTL,
  * refusal of non-deterministic queries) but is graft's own addition,
  * with a stronger key and a stronger freshness story:
  *
  *   - Entries are keyed by the CANONICALIZED ANALYZED logical plan
  *     (subquery aliases eliminated, alias names blanked) — stronger
  *     than an AST-text key: two textually different queries that
  *     analyze to the same plan share one entry, and alias/case
  *     differences never cause spurious misses. (Alias names must be
  *     normalized explicitly: `Alias` equality includes the name, so
  *     `sum(id) AS s` and `sum(id) AS s2` would otherwise key apart.)
  *     Keying on the analyzed — not optimized — plan keeps the lookup
  *     itself free of optimizer work: rules with a planning-time I/O
  *     component (LazyTopK's bounded pre-pass) must not run just to
  *     decide hit/miss, and a miss would otherwise pay full optimization
  *     twice (once for the key, once for the recompute).
  *   - An entry is the result's collected rows and schema, kept only
  *     when the result has at most [[Bound]] rows. A larger result is
  *     returned to its caller uncached (REST `/search` streams it with
  *     `toLocalIterator` as it does any uncached query), so the cache
  *     never holds more than `maxEntries * Bound` rows on the driver and
  *     never registers anything with Spark's CacheManager: an ingest
  *     write into a table never waits on, or re-caches, an entry.
  *   - A hit always carries the REQUESTING query's output column names,
  *     so a REST client reads back the aliases it asked for even when the
  *     entry was populated by a differently-aliased twin. [[Lookup.json]]
  *     serves it with no Spark job: the rows rendered on the driver by the
  *     JacksonGenerator and JSONOptions (session time zone) that
  *     `Dataset.toJSON` runs per partition, so the bytes are the same,
  *     once per entry and column-name list. [[Lookup.frame]] (and
  *     [[cached]], the Scala API) is a one-partition local scan of the
  *     rows renamed with `toDF(names)`.
  *   - Freshness follows the projection registry's model rather than
  *     pure TTL expiry: every writer that appends, rewrites or deletes
  *     files under a table root (ingest, drop, WAL commit, maintenance
  *     rewrites) calls `Tables.tableWritten`, which bumps the root's
  *     `Tables.writeEpoch` and calls [[invalidatePath]] to drop every
  *     entry whose plan scanned that root. A miss computed while a root it
  *     scans changed epoch is returned to its caller but not kept, since
  *     it may predate the write. The TTL remains as a backstop for sources
  *     graft does not write (external files mutated out-of-band).
  *
  * Recomputation always re-plans from the ANALYZED logical plan — never
  * by re-running the caller's memoized DataFrame, whose executed plan
  * has the pre-ingest file listing baked into its scan — after
  * re-listing the plan's file indexes, so a recompute sees every write
  * acknowledged before the lookup began.
  *
  * Entries evict LRU beyond `maxEntries` (access-ordered LinkedHashMap).
  */
object QueryCache {

  /** Most rows an entry holds; a larger result is served uncached. */
  val Bound = 10000

  /** Cache key: the canonical plan with file relations swapped for
    * schema-only stand-ins, plus one token per swapped relation naming
    * its (paths, format, schema). Needed because `HadoopFsRelation`
    * equality is identity-based through its `FileIndex` — two requests
    * reading the same parquet root build different relation objects, so
    * raw canonical plans would never compare equal across requests. */
  private final case class Key(plan: LogicalPlan, relations: Seq[String])

  private final case class Entry(
      rows: Array[Row],                   // at most Bound
      schema: StructType,
      createdMs: Long,
      paths: Set[String]) {               // scanned file roots
    /** One partition, so a streamed hit runs one Spark job, not one per
      * default-parallelism slice; columns take the caller's names. */
    def scan(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(rows.toSeq.asJava, schema)
        .coalesce(1).toDF(df.columns.toIndexedSeq: _*)

    // JSON rows per (caller column names, session time zone); a few
    // alias lists at most, so clearing on overflow bounds it
    private val rendered = new java.util.concurrent.ConcurrentHashMap[
      (Seq[String], String), IndexedSeq[String]]()

    def json(df: DataFrame): IndexedSeq[String] = {
      val conf = df.sparkSession.sessionState.conf
      val names = df.columns.toSeq
      if (rendered.size >= 4) rendered.clear()
      rendered.computeIfAbsent((names, conf.sessionLocalTimeZone), _ =>
        render(rows, StructType(schema.fields.zip(names).map {
          case (f, n) => f.copy(name = n)
        }), conf))
    }
  }

  /** `rows` as `Dataset.toJSON` renders them (same generator, options
    * and Row-to-InternalRow serializer), on the calling thread. */
  private def render(rows: Array[Row], schema: StructType,
                     conf: SQLConf): IndexedSeq[String] =
    SQLConf.withExistingConf(conf) {
      val toRow = ExpressionEncoder(schema, /* lenient = */ true).createSerializer()
      val writer = new java.io.CharArrayWriter()
      val gen = new JacksonGenerator(schema, writer,
        new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone))
      try rows.toIndexedSeq.map { r =>
        gen.write(toRow(r))
        gen.flush()
        val json = writer.toString
        writer.reset()
        json
      } finally gen.close()
    }

  /** One lookup's outcome: `hit` when the result was found rather than
    * computed now. */
  final class Lookup private[QueryCache] (df: DataFrame, entry: Entry,
                                          val hit: Boolean) {
    /** The result as a DataFrame: a scan of the kept rows, or `df`
      * itself when the plan is not cacheable or its result is over
      * [[Bound]] rows. */
    def frame: DataFrame = if (entry == null) df else entry.scan(df)

    /** The result's rows as `df.toJSON` renders them, under `df`'s column
      * names, when the rows are held (None where [[frame]] is `df`). */
    def json: Option[IndexedSeq[String]] = Option(entry).map(_.json(df))
  }

  // access-ordered: get() on a hit moves the entry to the young end, so
  // the iterator's first entry is always the LRU eviction victim. Keyed
  // by the full Key (structural case-class equality), never by its Int
  // hash — colliding queries must not evict each other.
  private val entries =
    new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private val lock = new Object

  @volatile private var hitCount = 0L
  @volatile private var missCount = 0L
  @volatile var ttlMs: Long = 60000L
  @volatile var maxEntries: Int = 64

  def hits: Long = hitCount
  def misses: Long = missCount
  def size: Int = lock.synchronized(entries.size)

  /** Canonicalized ANALYZED plan (subquery aliases eliminated) with
    * alias names blanked (canonicalization normalizes exprIds but
    * `Alias` equality still includes the name — see class doc) and file
    * relations replaced by schema-only `LocalRelation` stand-ins +
    * path/format tokens. Analysis is memoized on the Dataset, so the
    * lookup never runs the optimizer (see class doc). */
  private def normalizedKey(df: DataFrame): Option[Key] = {
    import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val relTokens = Seq.newBuilder[String]
    // A non-file BaseRelation (JDBC, custom source) has no reliable
    // identity token here — toString could omit the state (url, table)
    // that distinguishes two same-schema relations, aliasing their
    // entries. Such plans are UNCACHEABLE rather than keyed loosely.
    var uncacheable = false
    val plan = EliminateSubqueryAliases(df.queryExecution.analyzed)
      .canonicalized.transformUp {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            relTokens += fs.location.rootPaths.map(_.toString).sorted.mkString(",") +
              "|" + fs.fileFormat.getClass.getName +
              "|" + fs.dataSchema.catalogString
          case _ => uncacheable = true
        }
        LocalRelation(lr.output)
    }.transformAllExpressions {
      case a: Alias if a.name.nonEmpty => Alias(a.child, "")(exprId = a.exprId)
    }
    if (uncacheable) None else Some(Key(plan, relTokens.result()))
  }

  private def fileRelationsOf(plan: LogicalPlan) =
    plan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation => Some(fs)
          case _ => None
        }
    }.flatten

  /** Serve `df`'s result from the cache, computing it on miss. The
    * returned DataFrame scans the kept rows — identical rows, no
    * recomputation. Non-deterministic plans (rand(), current timestamp)
    * and results over [[Bound]] rows are never cached. */
  def cached(df: DataFrame): DataFrame = lookup(df).frame

  /** Find `df`'s result in the cache, computing (one collect) and keeping
    * it on a miss; see [[cached]] for what is never kept. */
  def lookup(df: DataFrame): Lookup = {
    def uncached = new Lookup(df, null, false)
    val key = normalizedKey(df).getOrElse(return uncached)
    val deterministic = key.plan.collect { case n => n }
      .forall(_.expressions.forall(_.deterministic))
    // Time-dependent expressions are deterministic=true in Catalyst
    // (ComputeCurrentTime pins them per-query AT OPTIMIZATION), and the
    // key is built from the ANALYZED plan where the now()/current_date
    // nodes are still symbolic — two calls seconds apart key identically
    // but mean different instants. Refuse to cache them.
    import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTimestamp, CurrentTimeZone, LocalTimestamp, Now}
    val timeDependent = key.plan.exists(_.expressions.exists(_.exists {
      case _: CurrentTimestamp | _: Now | _: CurrentDate |
           _: LocalTimestamp | _: CurrentTimeZone => true
      case _ => false
    }))
    if (!deterministic || timeDependent) return uncached
    val now = System.currentTimeMillis()
    val relations = fileRelationsOf(df.queryExecution.analyzed)
    val paths = relations.flatMap(_.location.rootPaths.map(_.toUri.getPath)).toSet
    def epochs = paths.map(p => p -> graft.Tables.writeEpoch(p)).toMap
    val epochsBefore = lock.synchronized {
      val hit = entries.get(key)
      if (hit != null && now - hit.createdMs <= ttlMs) {
        hitCount += 1
        return new Lookup(df, hit, true)
      }
      if (hit != null) entries.remove(key) // expired
      epochs
    }
    // compute OUTSIDE the lock: a slow query must not serialize the cache.
    // The caller's file listings may predate a write `epochsBefore`
    // already counts (a REST view registered, then an ingest acknowledged,
    // then this lookup), so they are re-listed now, after the read: the
    // kept rows then hold every write the epochs count.
    relations.foreach(_.location.refresh())
    // NEVER re-run the caller's DataFrame — its memoized QueryExecution
    // has the planning-time file listing baked into the scan. The no-op
    // filter builds a NEW Dataset over the analyzed plan, so collecting
    // it runs a fresh planning pass over the re-listed file index; the
    // optimizer erases the trivial filter itself.
    val fresh = df.where(org.apache.spark.sql.functions.lit(true))
    val rows = fresh.limit(Bound + 1).collect()
    val entry = Entry(rows, fresh.schema, now, paths)
    lock.synchronized {
      missCount += 1
      if (rows.length > Bound) return uncached
      // a write into a scanned root committed during the compute: the
      // result may predate it, so this caller gets it but no one else
      if (epochs != epochsBefore) return new Lookup(df, entry, false)
      val race = entries.get(key)
      if (race != null && now - race.createdMs <= ttlMs)
        return new Lookup(df, race, false)
      entries.put(key, entry)
      while (entries.size > maxEntries)
        entries.remove(entries.keySet().iterator().next())
    }
    new Lookup(df, entry, false)
  }

  /** Insert-triggered invalidation: drop every entry whose plan scanned
    * `path` (called by `Tables.tableWritten` beside the projection
    * refresh). Entry paths come from FileIndex rootPaths (always
    * absolute), so a relative caller path is absolutized before matching
    * — same contract as `Projections.invalidatePath`. */
  def invalidatePath(path: String): Unit = lock.synchronized {
    val target = graft.Tables.absolutePath(path)
    entries.values().removeIf(_.paths.contains(target))
  }

  def clear(): Unit = lock.synchronized {
    entries.clear()
    hitCount = 0L
    missCount = 0L
  }
}
