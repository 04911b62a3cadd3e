package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** Query result cache with insert-driven invalidation.
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
  *   - A hit re-aliases the shared persisted result to the REQUESTING
  *     query's output column names (`toDF(names)` — a zero-cost
  *     projection over the persisted blocks), so a REST client always
  *     reads back the aliases it asked for even when the entry was
  *     populated by a differently-aliased twin.
  *   - The cached value is the result persisted as a Spark cached
  *     DataFrame (MEMORY_AND_DISK) — at cluster scale the result blocks
  *     live on the executors, not the driver, so a cached 100 GB
  *     aggregate is as legal as a cached 5-row one.
  *   - Freshness follows the projection registry's model rather than
  *     pure TTL expiry: every ingest path that appends files under a
  *     table root calls [[invalidatePath]], which drops every entry whose
  *     plan scanned that root. A miss whose compute overlaps an
  *     invalidation of a root it scans is returned to its caller but not
  *     kept, since it may predate the ingest. The TTL remains as a
  *     backstop for sources graft does not write (external files mutated
  *     out-of-band).
  *
  * Recomputation always re-plans from the ANALYZED logical plan via
  * `Dataset.ofRows` — never by re-running the caller's memoized
  * DataFrame, whose executed plan has the pre-ingest file listing baked
  * into its scan. A fresh planning pass re-lists the (refreshed) file
  * index, so a post-invalidation recompute sees appended files.
  *
  * Entries evict LRU beyond `maxEntries` (access-ordered LinkedHashMap).
  */
object QueryCache {

  /** Cache key: the canonical plan with file relations swapped for
    * schema-only stand-ins, plus one token per swapped relation naming
    * its (paths, format, schema). Needed because `HadoopFsRelation`
    * equality is identity-based through its `FileIndex` — two requests
    * reading the same parquet root build different relation objects, so
    * raw canonical plans would never compare equal across requests. */
  private final case class Key(plan: LogicalPlan, relations: Seq[String])

  private final case class Entry(
      key: Key,
      result: DataFrame,                  // persisted
      createdMs: Long,
      paths: Set[String])                 // scanned file roots

  // access-ordered: get() on a hit moves the entry to the young end, so
  // the iterator's first entry is always the LRU eviction victim. Keyed
  // by the full Key (structural case-class equality), never by its Int
  // hash — colliding queries must not evict each other.
  private val entries =
    new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private val lock = new Object
  // invalidations so far per table root (guarded by `lock`): a miss
  // computed across an invalidation of a root it scans is not kept
  private val pathEpochs = scala.collection.mutable.HashMap.empty[String, Long]
    .withDefaultValue(0L)

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

  private def rootPathsOf(plan: LogicalPlan): Set[String] =
    plan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
    }.flatten.toSet

  /** Serve `df`'s result from the cache, computing and persisting it on
    * miss. The returned DataFrame reads the persisted result — identical
    * rows, no recomputation. Non-deterministic plans (rand(), current
    * timestamp) are never cached. */
  def cached(df: DataFrame): DataFrame = {
    val key = normalizedKey(df).getOrElse(return df)
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
    if (!deterministic || timeDependent) return df
    val now = System.currentTimeMillis()
    val paths = rootPathsOf(df.queryExecution.analyzed)
    def epochs = paths.map(p => p -> pathEpochs(p)).toMap
    val epochsBefore = lock.synchronized {
      val hit = entries.get(key)
      if (hit != null && now - hit.createdMs <= ttlMs) {
        hitCount += 1
        // serve the REQUESTING query's output names over the shared
        // persisted blocks (plans are value-identical, columns align
        // positionally; the entry may have been keyed by an
        // alias-blanked twin)
        return hit.result.toDF(df.columns.toIndexedSeq: _*)
      }
      if (hit != null) dropEntry(key, hit) // expired
      epochs
    }
    // compute OUTSIDE the lock: a slow query must not serialize the cache.
    // NEVER re-run the caller's DataFrame — its memoized QueryExecution
    // has the planning-time file listing baked into the scan. The no-op
    // filter builds a NEW Dataset over the analyzed plan, so persisting
    // it triggers a fresh planning pass that re-lists the (refreshed)
    // file index; the optimizer erases the trivial filter itself.
    val result = df
      .where(org.apache.spark.sql.functions.lit(true))
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    val entry = Entry(key, result, now, paths)
    lock.synchronized {
      missCount += 1
      if (epochs != epochsBefore) {
        // an ingest into a scanned root committed during the compute: the
        // result may predate it, so this caller gets it but no one else
        result.unpersist(false)
        return result
      }
      val race = entries.get(key)
      if (race != null && now - race.createdMs <= ttlMs) {
        result.unpersist(false)
        return race.result.toDF(df.columns.toIndexedSeq: _*)
      }
      if (race != null) dropEntry(key, race)
      entries.put(key, entry)
      while (entries.size > maxEntries) {
        val eldest = entries.entrySet().iterator().next()
        dropEntry(eldest.getKey, eldest.getValue)
      }
    }
    result
  }

  private def dropEntry(key: Key, e: Entry): Unit = {
    e.result.unpersist(false)
    entries.remove(key)
  }

  /** Insert-triggered invalidation: drop every entry whose plan scanned
    * `path` (called by the same ingest hooks that refresh projections).
    * Entry paths come from FileIndex rootPaths (always absolute), so a
    * relative caller path is absolutized before matching — same contract
    * as `Projections.invalidatePath`. */
  def invalidatePath(path: String): Unit = lock.synchronized {
    val target = {
      val p = new org.apache.hadoop.fs.Path(path).toUri.getPath
      if (p.startsWith("/")) p else new java.io.File(p).getAbsolutePath
    }
    pathEpochs(target) += 1
    entries.entrySet().asScala
      .filter(_.getValue.paths.contains(target)).toSeq
      .foreach(e => dropEntry(e.getKey, e.getValue))
  }

  def clear(): Unit = lock.synchronized {
    entries.values().asScala.toSeq.foreach(_.result.unpersist(false))
    entries.clear()
    hitCount = 0L
    missCount = 0L
  }
}
