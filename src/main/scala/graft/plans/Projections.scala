package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, hll_sketch_agg, lit, max, min, sum}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Cast, Coalesce, Divide, EqualTo, Expression, HllSketchEstimate, If, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, First, HllUnionAgg, HyperLogLogPlusPlus, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, RepartitionOperation}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Alternate-layout materialized projections with automatic query
  * routing.
  *
  * The reference's answer to "this table is sorted for date-range scans
  * but my heaviest query groups by UserID" is a materialized view with a
  * different primary key (`src/Storages/StorageMaterializedView.cpp`) —
  * same rows, alternate physical order, kept alongside the base table.
  * graft's Spark-native equivalent: a cached narrow column subset
  * hash-partitioned by the hot grouping key. An aggregation whose keys
  * cover the projection's partitioning key can then run WITHOUT a
  * shuffle — the exchange that dominates high-cardinality group-bys on
  * the base layout disappears (HashPartitioning on a subset of the
  * grouping keys satisfies the aggregate's ClusteredDistribution), and
  * [[SkipPartialAgg]]'s Complete-mode plan degenerates to scan → one
  * hash-agg pass per co-located partition.
  *
  * Routing is the optimizer's job, not the query author's (the user
  * keeps writing `GROUP BY UserID` against the base table):
  * [[Projections.RouteToProjection]] rewrites an [[Aggregate]] whose
  * referenced columns are all carried by a registered projection of the
  * scanned relation AND whose grouping keys cover the projection's
  * partition key, swapping the base relation leaf for the projection
  * (with an alias layer preserving the original attribute ids).
  *
  * Three kinds share one registry: row copies (memory or bucketed
  * parquet), filtered slices (the MV with a WHERE) and aggregate states
  * (the AggregatingMergeTree MV). Each kind carries its own routing
  * rewrite, rebuild and release; the registry, its refresh loop and the
  * spec hooks are common.
  *
  * At 100 TB the same trade holds — a projection is one extra stored
  * copy of the hot columns, bucketed by the hot key at write time, and
  * every aggregation it serves saves a full-table shuffle.
  *
  * Freshness follows the reference's materialized views, which are
  * refreshed BY the insert path (`src/Storages/StorageMaterializedView
  * .cpp` — every block written to the base table is pushed through the
  * view's pipeline): each ingest that appends to a file-backed base
  * table calls [[invalidatePath]], which re-lists the base's file index
  * and rebuilds every projection registered over it, so routed queries
  * see exactly what a fresh scan of the base sees. Bases that are
  * in-memory caches define their own snapshot — a projection over a
  * cached base is exactly as fresh as the cache, never staler.
  */
object Projections {

  /** One registered projection of any kind. */
  private sealed trait Proj {
    def baseLeafCanonical: LogicalPlan
    def projPlan: LogicalPlan             // the plan routing substitutes
    def projDf: DataFrame
    def base: DataFrame                   // lineage holder for rebuilds
    def basePaths: Set[String]            // normalized file-source roots
    /** Routing precedence: the registry keeps lower ranks first, so an
      * aggregate state (0) is tried before a filtered slice (1) and a
      * row copy (2) — finishing from pre-merged state strictly dominates
      * re-aggregating a raw-layout copy. */
    def rank: Int
    /** Absolute directory a disk materialization lives in. */
    def diskDir: Option[String]
    /** `q`'s aggregate rewritten to read this projection, if it can. */
    def route(q: AggQuery): Option[LogicalPlan]
    /** A fresh build over the (re-listed) base; a disk copy is always
      * rewritten. */
    def rebuild(): Proj
    /** Release the cache, and the catalog entry of a bucketed disk copy
      * (its files stay: re-registration reuses them while the recorded
      * base/spec fingerprint still matches). */
    def drop(): Unit
  }

  /** A ROW projection: the base's rows narrowed to `carried`, laid out on
    * the hot key — a memory cache hash-partitioned on `partitionCols`, or
    * (`bucketDisk`) a parquet table bucketed on them. A query routes here
    * when its grouping keys cover the partition key and every column it
    * references is carried. */
  private final case class RowProj(
      baseLeafCanonical: LogicalPlan,
      partitionCols: Seq[String],         // lower-cased
      carried: Set[String],               // lower-cased
      projPlan: LogicalPlan,
      projDf: DataFrame,
      base: DataFrame,
      columnsOrdered: Seq[String],        // register() args, for rebuilds
      partitionColsOrdered: Seq[String],
      basePaths: Set[String],
      bucketDisk: Option[(Int, String)] = None) // (numBuckets, dir) when parquet-bucketed
      extends Proj {
    def rank: Int = 2
    def diskDir: Option[String] = bucketDisk.map(_._2)

    // The projection is derived from the base DataFrame's lineage, so
    // its output attributes carry the SAME exprIds as the base leaf's —
    // the swap needs no alias layer (and a self-alias breaks the
    // in-memory scan planner). Route only when every needed attribute is
    // present by id; a projection registered from an unrelated lineage
    // simply never routes.
    def route(q: AggQuery): Option[LogicalPlan] =
      if (partitionCols.forall(q.groupNames) &&
          q.covers(baseLeafCanonical, carried, projPlan))
        Some(q.swapLeaf(projPlan))
      else None

    def rebuild(): Proj = {
      val (plan, df) = bucketDisk match {
        case Some((n, dir)) =>
          buildBucketed(base, partitionColsOrdered, columnsOrdered, n, dir,
            reuseExisting = false)
        case None => build(base, partitionColsOrdered, columnsOrdered)
      }
      copy(projPlan = plan, projDf = df).inheritStats()
    }

    def drop(): Unit = {
      projDf.unpersist(false)
      diskDir.foreach(dropBucketTable(base, _))
    }

    /** A projection has the same rows as its base, so its per-column NDV
      * and row count are the base's — inherit them (by attribute
      * identity: the projection keeps the base's exprIds) so
      * SkipPartialAgg's leaf-scoped stats decision fires on routed plans
      * too. */
    def inheritStats(): RowProj = {
      for (bl <- leafOf(base.queryExecution.optimizedPlan);
           pl <- leafOf(projPlan))
        TableStats.inherit(bl, pl, projPlan.output)
      this
    }
  }

  /** A FILTERED projection: the reference's materialized view with a
    * WHERE clause (`src/Storages/StorageMaterializedView.cpp` — the MV
    * SELECT may filter), which is how a MergeTree PK seek like
    * `CounterID = 62` translates to Spark: a cached copy of ONLY the
    * matching rows. A query routes to it when (a) its child chain is
    * row-wise (Project/Filter only), (b) some Filter carries the exact
    * equality conjunct, and (c) every referenced column is carried —
    * the residual predicates stay in place, so results are identical
    * and the scan shrinks by the filter's selectivity (the reference's
    * index-seek win, paid in storage instead of seeks). */
  private final case class FilteredProj(
      baseLeafCanonical: LogicalPlan,
      filterCol: String,                  // lower-cased
      filterLit: Literal,
      carried: Set[String],               // lower-cased
      projPlan: LogicalPlan,
      projDf: DataFrame,
      base: DataFrame,
      columnsOrdered: Seq[String],
      filterColOrdered: String,
      filterValueOrig: Any,               // as passed — for rebuilds
      basePaths: Set[String],
      diskDir: Option[String],            // parquet-materialized when set
      sortCol: Option[String],            // range-layout column of the copy
      clusterBy: Option[(Seq[String], Int)] = None) // hash layout (cols, n)
      extends Proj {
    def rank: Int = 1

    // All predicates stay in place (the equality becomes a tautology
    // over the subset), so the swap only removes rows the Filter was
    // about to drop — identical results, selectivity-sized scan.
    def route(q: AggQuery): Option[LogicalPlan] =
      if (q.rowWise &&
          q.equalities.exists { case (n, l) =>
            n == filterCol && l.semanticEquals(filterLit) } &&
          q.covers(baseLeafCanonical, carried, projPlan))
        Some(q.swapLeaf(projPlan))
      else None

    def rebuild(): Proj = {
      val (plan, df) = buildFiltered(base, filterColOrdered, filterValueOrig,
        columnsOrdered, diskDir, sortCol, clusterBy, reuseExisting = false)
      copy(projPlan = plan, projDf = df)
    }

    def drop(): Unit = {
      projDf.unpersist(false)
      // a clusterBy+diskDir slice lives behind a catalog bucketed table
      if (clusterBy.isDefined) diskDir.foreach(dropBucketTable(base, _))
    }
  }

  /** An AGGREGATE projection: the reference's AggregatingMergeTree
    * materialized view (`src/Storages/MergeTree/registerStorageMergeTree
    * .cpp:351,946` + `src/AggregateFunctions/AggregateFunctionState.cpp`
    * / `AggregateFunctionMerge.cpp`) in its general form — the MV SELECT
    * may compute expressions and carry a WHERE
    * (`src/Storages/StorageMaterializedView.cpp`). A table of *partial
    * aggregate state* per key tuple, refreshed by the insert path like
    * any MV, that queries finish with `-Merge` combinators instead of
    * re-scanning the base.
    *
    * Keys and measures are arbitrary deterministic expressions over the
    * base (a bare column, or e.g. `domainWithoutWWW(Referer)`), and the
    * optional filter is baked into the state build. Per key tuple the
    * state keeps the row count and, per measure, the non-null count,
    * min, max, sum (numeric) and a DataSketches HLL sketch
    * (int/long/string/binary). A query routes here when its
    * (optimizer-normalized) filter conjuncts include the baked set,
    * every grouping expression matches a key expression, and every
    * aggregate call is count/sum/min/max/avg/approx_count_distinct/
    * any_value over a registered measure. Matching is by canonicalized
    * expression equality after rebasing attribute ids onto leaf output
    * positions, so it survives lineage differences that preserve the
    * leaf.
    *
    * At 100 TB the economics are the reference's: the state table is
    * |keys| rows against the base's billions, so every routed query
    * replaces a full scan + shuffle with a scan of a few thousand
    * pre-merged rows. */
  private final case class AggStateProj(
      baseLeafCanonical: LogicalPlan,
      keyNorms: Seq[Expression],          // rebased + canonicalized
      measureNorms: Seq[Expression],
      whereNorms: Set[Expression],        // conjuncts, rebased + canonicalized
      projPlan: LogicalPlan,
      projDf: DataFrame,
      base: DataFrame,
      keyCols: Seq[Column],               // for rebuilds
      measureCols: Seq[Column],
      whereCols: Seq[Column],
      basePaths: Set[String],
      clusterIdx: Seq[Int] = Nil,         // state layout key indices
      coalesceTo: Option[Int] = None)     // state partition count override
      extends Proj {
    def rank: Int = 0
    def diskDir: Option[String] = None

    // The baked conjuncts must all be present in the query (they define
    // the state's row population; both sides pass the same optimizer,
    // so inferred IsNotNulls appear on both). Conjuncts beyond the baked
    // set stay as a Filter over the state table — valid only if they
    // rewrite onto key columns (checked in rewriteOntoState).
    def route(q: AggQuery): Option[LogicalPlan] = q.stateShape.flatMap { s =>
      if (baseLeafCanonical == s.leafC && whereNorms.subsetOf(s.condNorms) &&
          s.gNorms.forall(keyNorms.contains)) {
        val residual = s.conds.collect {
          case (c, n) if !whereNorms.contains(n) => c
        }
        rewriteOntoState(q.agg, s, residual, this)
      } else None
    }

    def rebuild(): Proj = {
      val (plan, df) = buildAggState(base, keyCols, measureCols, whereCols,
        clusterIdx, coalesceTo)
      copy(projPlan = plan, projDf = df)
    }

    def drop(): Unit = projDf.unpersist(false): Unit
  }

  /** Every registered projection, in routing order: by [[Proj.rank]],
    * then by registration. Routing only reads the COW list, lock-free;
    * `lock` guards the find-or-build in the register calls and the
    * rebuild in [[invalidatePath]]. */
  private val registry = new java.util.concurrent.CopyOnWriteArrayList[Proj]()
  private val lock = new Object

  /** Insert `p` after every entry of its rank and return its DataFrame. */
  private def add(spark: SparkSession, p: Proj): DataFrame = {
    val at = registry.asScala.indexWhere(_.rank > p.rank)
    registry.add(if (at < 0) registry.size else at, p)
    install(spark)
    p.projDf
  }

  /** The base's single relation leaf, required by every kind. */
  private def baseLeafOf(base: DataFrame, who: String): LogicalPlan =
    leafOf(base.queryExecution.optimizedPlan).getOrElse(
      throw new IllegalArgumentException(
        s"Projections.$who: base must scan a single relation"))

  /** A LIVE entry's captured plan scans its directory: rebuilding over
    * it with another definition would drop/recreate the catalog table
    * or delete files that plan lists (routed queries would then fail
    * mid-scan). Refuse loudly instead. */
  private def requireFreeDir(who: String, dir: String): Unit =
    require(!registry.asScala.exists(_.diskDir.contains(dir)),
      s"$who: dir $dir is already backing a registered projection with a " +
        "different definition; clear() or use a distinct directory")

  private def dropBucketTable(base: DataFrame, dir: String): Unit =
    try base.sparkSession.sql(s"DROP TABLE IF EXISTS ${bucketTableName(dir)}")
    catch { case _: Throwable => () }

  /** Types DataSketches HllSketchAgg accepts (no float/double/date). */
  private def hllCapable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | StringType | BinaryType => true
    case _ => false
  }

  private def summable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType => true
    case _ => false // decimal excluded: Sum re-widens precision on re-agg
  }

  /** Raw (NOT canonicalized) single leaf — the routing rule replaces the
    * leaf by reference (`eq`), so the original node is required here;
    * [[TableStats.leafOf]] is the canonicalizing variant for map keys. */
  private def leafOf(plan: LogicalPlan): Option[LogicalPlan] =
    plan.collectLeaves() match {
      case Seq(one) => Some(one)
      case _ => None
    }

  /** File-source root paths scanned by `df`, scheme-stripped so callers
    * can invalidate by plain local path. */
  private def rootPathsOf(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
    }.flatten.toSet

  /** Catalog table name for a bucketed disk projection: content-address
    * the directory (64-bit md5 prefix) rather than `String.hashCode` —
    * two dirs must never map to the same table name, since registration
    * DROPs-and-CREATEs the name unconditionally. */
  private def bucketTableName(dir: String): String =
    "graft_bproj_" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Fingerprint of the base's file listing (path, size, mtime per
    * file). A disk materialization records this at write time and is
    * reused only when the recorded value still matches the live base —
    * regenerating the base under the same path invalidates every
    * on-disk copy instead of silently serving rows of the old data.
    * The listing comes from the (memoized) FileIndex, so this costs no
    * extra namenode round-trips at registration time. */
  private def baseFingerprint(base: DataFrame): String =
    graft.Tables.listingFingerprint(base.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fsr: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fsr.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)
          case _ => Nil
        }
    }.flatten)

  private def fpPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir + "/_GRAFT_BASE_FP")

  private def writeFingerprint(fs: org.apache.hadoop.fs.FileSystem,
                               dir: String, fp: String): Unit = {
    val out = fs.create(fpPath(dir), true)
    try out.write(fp.getBytes("UTF-8")) finally out.close()
  }

  /** True iff `dir` holds a complete materialization of the CURRENT
    * base: _SUCCESS present and the recorded base fingerprint matches.
    * A pre-fingerprint directory (no marker) is treated as stale. */
  private def reusableMaterialization(
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      baseFp: String): Boolean = {
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir + "/_SUCCESS"))) return false
    if (!fs.exists(fpPath(dir))) return false
    val in = fs.open(fpPath(dir))
    val recorded = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    recorded == baseFp
  }

  /** Materialize one projection build: narrow select, hash-repartition
    * on the hot key, cache, and force so the captured optimized plan is
    * the cache scan. Shared by register() and the refresh path. */
  private def build(base: DataFrame, partitionCols: Seq[String],
                    columns: Seq[String]): (LogicalPlan, DataFrame) = {
    val proj = base
      .select(columns.map(col): _*)
      .repartition(partitionCols.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    proj.count()
    (proj.queryExecution.optimizedPlan, proj)
  }

  /** Materialize one BUCKETED disk projection build: narrow select,
    * pre-partitioned on the bucket key into exactly `numBuckets` tasks
    * (task hash == bucket hash, both Murmur3 pmod numBuckets, so the
    * layout is one file per bucket — no small-file explosion), written
    * as an external bucketed parquet table. The returned plan reads the
    * table through the catalog (that is what carries the bucket spec to
    * the scan) with an alias layer mapping the fresh relation's
    * attributes back to the base lineage ids routing substitutes under.
    * ProjectExec's alias-aware output partitioning then re-expresses
    * HashPartitioning(bucketCols, numBuckets) in the original ids, so
    * the routed aggregate's distribution is satisfied scan-side. */
  private def buildBucketed(base: DataFrame, bucketCols: Seq[String],
                            columns: Seq[String], numBuckets: Int,
                            dir0: String, reuseExisting: Boolean,
                            extraFp: String = "")
      : (LogicalPlan, DataFrame) = {
    val spark = base.sparkSession
    // a relative `path` table option resolves against the WAREHOUSE dir,
    // not the cwd — absolutize so the _SUCCESS probe, the DDL LOCATION
    // and the write all name the same directory
    val dir = new java.io.File(dir0).getAbsolutePath
    val sel = base.select(columns.map(col): _*)
    val table = bucketTableName(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // bucket spec + carried columns are part of the recorded identity
    // (see the filtered variant's note)
    val baseFp = baseFingerprint(base) +
      s"|buckets=$numBuckets|on=${bucketCols.map(_.toLowerCase).mkString(",")}" +
      s"|cols=${columns.map(_.toLowerCase).mkString(",")}" + extraFp
    val complete = reuseExisting && reusableMaterialization(fs, dir, baseFp)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    if (complete) {
      // bucket ids are encoded in the file names, so an external
      // CLUSTERED BY declaration over the existing files restores the
      // bucketed-scan contract without rewriting a row
      val ddlCols = sel.schema.fields
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(
        s"""CREATE TABLE $table ($ddlCols) USING PARQUET
           |CLUSTERED BY (${bucketCols.mkString(", ")})
           |INTO $numBuckets BUCKETS
           |LOCATION '$dir'""".stripMargin)
    } else {
      sel.repartition(numBuckets, bucketCols.map(col): _*)
        .write.mode("overwrite")
        .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
        .option("path", dir)
        .saveAsTable(table)
      writeFingerprint(fs, dir, baseFp)
    }
    val read = spark.table(table)
    val wanted = sel.queryExecution.analyzed.output
    // strip the catalog read's SubqueryAlias: routing substitutes this
    // plan during OPTIMIZATION, after EliminateSubqueryAliases has run,
    // so a surviving alias node would reach the physical planner
    val readPlan = org.apache.spark.sql.catalyst.analysis
      .EliminateSubqueryAliases(read.queryExecution.analyzed)
    val aliases = readPlan.output.zip(wanted).map { case (n, o) =>
      Alias(n, o.name)(exprId = o.exprId)
    }
    (Project(aliases, readPlan), read)
  }

  /** Build, cache and register a projection of `base`: `columns`,
    * hash-partitioned on `partitionCols`. Returns the projection
    * DataFrame (already materialized). Re-registering the same
    * (base, partitioning, columns) triple returns the existing one;
    * concurrent registrations of the same triple build it once. */
  def register(spark: SparkSession, base: DataFrame,
               partitionCols: Seq[String], columns: Seq[String]): DataFrame =
    lock.synchronized {
      val pcLower = partitionCols.map(_.toLowerCase)
      val carried = columns.map(_.toLowerCase).toSet
      require(pcLower.forall(carried), "partition columns must be carried")
      val baseLeaf = baseLeafOf(base, "register")
      registry.asScala.collectFirst {
        case p: RowProj if p.baseLeafCanonical == baseLeaf.canonicalized &&
            p.partitionCols == pcLower && p.carried == carried => p.projDf
      }.foreach(return _)
      val (projPlan, proj) = build(base, partitionCols, columns)
      add(spark, RowProj(baseLeaf.canonicalized, pcLower, carried, projPlan,
        proj, base, columns, partitionCols, rootPathsOf(base)).inheritStats())
    }

  /** DISK-backed row projection: the same alternate-layout copy as
    * [[register]], but written as a PARQUET table bucketed on the hot
    * key instead of a memory cache — the storage for scales where the
    * copy itself exceeds executor memory (a 1 B-row 3-column slice is
    * ~10 GB; at 100 TB every projection is a disk artifact). The write
    * pre-partitions on the bucket key with `numBuckets` partitions, so
    * each task owns exactly one bucket and the layout is one file per
    * bucket — Spark's bucketed scan then reports
    * HashPartitioning(bucketCols, numBuckets), and a routed aggregation
    * whose keys cover the bucket key runs WITHOUT an exchange: the
    * 1 B-row shuffle that dominates high-cardinality group-bys on the
    * base becomes a per-bucket local aggregation. This is the
    * MergeTree-projection trade (`src/Storages/StorageMaterializedView
    * .cpp`) paid in columnar files: one extra stored copy, every routed
    * query saves a full-table exchange.
    *
    * If `dir` already holds a complete bucketed write (`_SUCCESS`
    * present), the files are reused and only the catalog entry is
    * recreated — bucket ids live in the file names, so re-declaring the
    * external table restores the bucketed-scan contract without
    * rewriting. Rebuilds after [[invalidatePath]] always rewrite. */
  def registerBucketed(spark: SparkSession, base: DataFrame,
                       bucketCols: Seq[String], columns: Seq[String],
                       numBuckets: Int, dir: String): DataFrame =
    lock.synchronized {
      val dirAbs = new java.io.File(dir).getAbsolutePath
      val pcLower = bucketCols.map(_.toLowerCase)
      val carried = columns.map(_.toLowerCase).toSet
      require(pcLower.forall(carried), "bucket columns must be carried")
      val baseLeaf = baseLeafOf(base, "registerBucketed")
      registry.asScala.collectFirst {
        case p: RowProj if p.baseLeafCanonical == baseLeaf.canonicalized &&
            p.partitionCols == pcLower && p.carried == carried &&
            // bucket count is part of the layout identity: the same dir
            // re-registered with a different count must rebuild, not
            // silently serve the old bucketing
            p.bucketDisk.contains((numBuckets, dirAbs)) => p.projDf
      }.foreach(return _)
      requireFreeDir("registerBucketed", dirAbs)
      val (projPlan, proj) =
        buildBucketed(base, bucketCols, columns, numBuckets, dirAbs,
          reuseExisting = true)
      add(spark, RowProj(baseLeaf.canonicalized, pcLower, carried, projPlan,
        proj, base, columns, bucketCols, rootPathsOf(base),
        bucketDisk = Some((numBuckets, dirAbs))).inheritStats())
    }

  /** Storage-regime policy for filtered projections (the reference's
    * PK-seek analogue, `MergeTreeDataSelectExecutor.cpp:495-565` — a
    * (CounterID, EventDate) primary key reads only the matching ~15 % of
    * rows): a filtered copy pays off only when the base is SCAN-bound.
    * Measured both ways at 100 M rows (BENCH_100M.md): against a
    * memory-resident base the hot-key family is aggregation-bound (scan
    * 0.06 s vs ~1.0 s group-by) and the copy is dead weight, while a
    * disk-backed base reads 6.7× the bytes it needs. So: register iff
    * `base` has no in-memory storage level, and report which way it
    * went. At cluster scale "not memory-resident" is the 100 TB default;
    * local benches flip it per regime with one `.persist`. */
  def registerFilteredByRegime(spark: SparkSession, base: DataFrame,
                               filterCol: String, filterValue: Any,
                               columns: Seq[String],
                               diskDir: Option[String] = None,
                               sortCol: Option[String] = None,
                               clusterBy: Option[(Seq[String], Int)] = None)
      : Boolean =
    if (base.storageLevel.useMemory) false
    else {
      registerFiltered(spark, base, filterCol, filterValue, columns,
        diskDir, sortCol, clusterBy)
      true
    }

  /** Register a filtered projection over `base`: a copy of the rows
    * where `filterCol = filterValue`, carrying `columns` (which must
    * include the filter column so residual predicates bind). The build
    * runs one filter over the base — no shuffle; the copy keeps the
    * base's partitioning, thinned by the selectivity.
    *
    * `diskDir = Some(path)` materializes the copy as PARQUET at `path`
    * instead of a memory cache — the reference's on-disk PK-organized
    * part. That is the right storage at scales where the selected slice
    * itself exceeds executor memory (a 15 % slice of 1 B rows does):
    * routed queries then scan a selectivity-sized columnar file instead
    * of the full base, which is the whole PK-seek win.
    *
    * `sortCol = Some(c)` lays the disk copy out range-partitioned and
    * sorted on `c` — the SECOND half of the reference's primary key.
    * A (CounterID, EventDate) MergeTree key does two prunes: the seek
    * to CounterID=62 (the filter slice) and the range scan of the
    * matching EventDate window (the sort order). With the copy
    * range-laid-out on EventDate, parquet min/max footer stats skip
    * whole files and row groups outside a queried date window, so a
    * one-month query reads ~1/36 of the slice instead of all of it.
    * Costs one shuffle of the (selectivity-sized) slice at build time —
    * the same sort the reference pays in its merge — and nothing at
    * query time. */
  def registerFiltered(spark: SparkSession, base: DataFrame,
                       filterCol: String, filterValue: Any,
                       columns: Seq[String],
                       diskDir: Option[String] = None,
                       sortCol: Option[String] = None,
                       clusterBy: Option[(Seq[String], Int)] = None)
      : DataFrame =
    lock.synchronized {
      val fcLower = filterCol.toLowerCase
      val carried = columns.map(_.toLowerCase).toSet
      require(carried.contains(fcLower),
        "registerFiltered: the filter column must be carried")
      require(clusterBy.forall { case (cCols, n) =>
        n > 0 && cCols.nonEmpty && cCols.forall(c => carried(c.toLowerCase))
      }, "registerFiltered: clusterBy columns must be carried, count > 0")
      require(clusterBy.isEmpty || sortCol.isEmpty,
        "registerFiltered: clusterBy and sortCol are alternative layouts")
      // Absolutize the disk dir ONCE so the dedupe lookup and the
      // conflict guard below compare canonical paths — two spellings of
      // the same directory (relative vs absolute) must collide, not
      // bypass the guard and overwrite files a live entry still scans.
      val diskDirAbs = diskDir.map(d => new java.io.File(d).getAbsolutePath)
      // Coerce the filter literal to the base column's type: routing
      // matches by Literal.semanticEquals, and a query writes
      // `CounterID = 62` with the literal in the COLUMN's type, so a
      // registration value of a different width (62L over an int
      // column) would never match — the projection would build fine and
      // silently never route (exactly what the first 1 B bench run
      // measured: hits_filtered_projection true, hits_q37_routed
      // false). The round-trip guard keeps a value the column's type
      // can't represent exactly (62.5 over int) un-coerced, so such a
      // registration can't capture queries for a different value.
      val flit = {
        val raw = Literal(filterValue)
        base.schema.fields.find(_.name.equalsIgnoreCase(filterCol))
          .map(_.dataType) match {
          case Some(dt) if dt != raw.dataType =>
            val casted = Cast(raw, dt).eval(null)
            val back = if (casted == null) null
              else Cast(Literal(casted, dt), raw.dataType).eval(null)
            if (casted != null && back == raw.value) Literal(casted, dt)
            else raw
          case _ => raw
        }
      }
      val baseLeaf = baseLeafOf(base, "registerFiltered")
      // diskDir participates in the dedupe: re-registering the same
      // slice WITH disk materialization must build the parquet copy,
      // not return an earlier memory-only entry
      registry.asScala.collectFirst {
        case p: FilteredProj if p.baseLeafCanonical == baseLeaf.canonicalized &&
            p.filterCol == fcLower && p.filterLit.semanticEquals(flit) &&
            p.carried == carried && p.diskDir == diskDirAbs &&
            p.sortCol == sortCol && p.clusterBy == clusterBy => p.projDf
      }.foreach(return _)
      diskDirAbs.foreach(requireFreeDir("registerFiltered", _))
      val (projPlan, proj) =
        buildFiltered(base, filterCol, filterValue, columns, diskDirAbs,
          sortCol, clusterBy)
      add(spark, FilteredProj(baseLeaf.canonicalized, fcLower, flit, carried,
        projPlan, proj, base, columns, filterCol, filterValue,
        rootPathsOf(base), diskDirAbs, sortCol, clusterBy))
    }

  private def buildFiltered(base: DataFrame, filterCol: String,
                            filterValue: Any, columns: Seq[String],
                            diskDir: Option[String],
                            sortCol: Option[String] = None,
                            clusterBy: Option[(Seq[String], Int)] = None,
                            reuseExisting: Boolean = true)
      : (LogicalPlan, DataFrame) = {
    val sel = base
      .filter(col(filterCol) === lit(filterValue))
      .select(columns.map(col): _*)
    (diskDir, clusterBy) match {
      case (None, _) =>
        // clusterBy on the MEMORY slice: one slice-sized repartition at
        // build time; the cache preserves HashPartitioning(cols, n), so
        // a routed aggregate whose grouping keys cover the cluster
        // columns runs with NO exchange — the win when the slice's only
        // consumer is exchange-bound rather than scan-bound (a near-
        // unique-key group-by shuffles ~every slice row otherwise).
        val laid = clusterBy match {
          case Some((cCols, n)) => sel.repartition(n, cCols.map(col): _*)
          case None => sel
        }
        val proj = laid.persist(StorageLevel.MEMORY_AND_DISK)
        proj.count()
        (proj.queryExecution.optimizedPlan, proj)
      case (Some(dir), Some((cCols, n))) =>
        // BUCKETED parquet slice — the reference's projection with its
        // own ORDER BY inside the part (`src/Storages/MergeTree/
        // MergeTreeDataPartWriter*` write projections whose sort key
        // differs from the parent's): the filter bakes the row subset,
        // the bucket layout bakes the distribution a routed aggregation
        // needs. The filter identity joins the recorded fingerprint so
        // a dir that previously held a different slice must rebuild.
        buildBucketed(base.filter(col(filterCol) === lit(filterValue)),
          cCols, columns, n, dir, reuseExisting,
          extraFp = s"|filter=${filterCol.toLowerCase}=" +
            String.valueOf(filterValue))
      case (Some(dir), None) =>
        // a complete previous materialization OF THE SAME BASE (same
        // recorded file-listing fingerprint — a regenerated base must
        // not reuse the old slice) is reused as-is; rebuilds after
        // invalidatePath pass reuseExisting=false and rewrite
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(base.sparkSession.sparkContext.hadoopConfiguration)
        // the SLICE DEFINITION is part of the recorded identity, not
        // just the base: a directory that previously held a different
        // filter value, column set/order, or layout must rebuild, never
        // serve the other definition's rows under this one's schema
        val baseFp = baseFingerprint(base) +
          s"|filter=${filterCol.toLowerCase}=${String.valueOf(filterValue)}" +
          s"|cols=${columns.map(_.toLowerCase).mkString(",")}" +
          sortCol.map("|sort=" + _).getOrElse("")
        val complete = reuseExisting && reusableMaterialization(fs, dir, baseFp)
        if (!complete) {
          val laidOut = sortCol match {
            case Some(sc) =>
              sel.repartitionByRange(col(sc)).sortWithinPartitions(col(sc))
            case None => sel
          }
          laidOut.write.mode("overwrite").parquet(dir)
          writeFingerprint(fs, dir, baseFp)
        }
        val read = base.sparkSession.read.parquet(dir)
        // Routing substitutes projPlan under the query's ORIGINAL
        // attributes, so the fresh parquet relation's new exprIds must
        // be re-aliased back to the base-lineage ones sel carries.
        val wanted = sel.queryExecution.analyzed.output
        val readPlan = read.queryExecution.analyzed
        val aliases = readPlan.output.zip(wanted).map { case (n, o) =>
          Alias(n, o.name)(exprId = o.exprId)
        }
        (Project(aliases, readPlan), read)
    }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Rebase every attribute of `e` to a positional exprId over `leafOut`
    * and canonicalize — the comparable form for expression-keyed
    * projection matching (two plans over the same canonical leaf agree on
    * output positions even when their attribute ids differ). None if `e`
    * references anything outside the leaf. */
  private def normEx(e: Expression, leafOut: Seq[Attribute]): Option[Expression] = {
    if (!e.references.forall(a => leafOut.exists(_.exprId == a.exprId)))
      return None
    Some(e.transformUp {
      case a: AttributeReference =>
        a.withExprId(org.apache.spark.sql.catalyst.expressions.ExprId(
          leafOut.indexWhere(_.exprId == a.exprId).toLong))
    }.canonicalized)
  }

  /** Resolve registration Columns to optimizer-normalized expressions over
    * the base leaf — going through the optimizer keeps them comparable
    * with the (also optimized) plans the routing rule sees. */
  private def resolveExprs(base: DataFrame,
      cols: Seq[org.apache.spark.sql.Column]): Seq[Expression] =
    base.select(cols: _*).queryExecution.optimizedPlan match {
      case Project(ps, _) =>
        ps.map { case Alias(e, _) => e; case e => e }
      case other => other.output
    }

  /** Resolve the WHERE columns to the optimizer's conjunct set — inferred
    * predicates (IsNotNull from !=, folded constants) included, which is
    * exactly what a routed query's own optimized Filter carries. */
  private def resolveConjuncts(base: DataFrame,
      where: Seq[org.apache.spark.sql.Column]): Seq[Expression] =
    if (where.isEmpty) Nil
    else base.filter(where.reduce(_ && _)).queryExecution.optimizedPlan
      .collect { case Filter(c, _) => splitAnd(c) }.flatten


  /** Materialize one aggregate-state build: bake the filter, compute
    * key/measure expressions once, group by the keys and keep
    * per-measure partial state. The groupBy's own hash partitioning on
    * the full key tuple is preserved by the cache, so exact-key routed
    * re-aggregation needs no exchange. */
  private def buildAggState(base: DataFrame,
      keyCols: Seq[Column],
      measureCols: Seq[Column],
      whereCols: Seq[Column],
      clusterIdx: Seq[Int],
      coalesceTo: Option[Int])
      : (LogicalPlan, DataFrame) = {
    val filtered = whereCols.foldLeft(base)((d, c) => d.filter(c))
    val withCols = filtered.select(
      keyCols.zipWithIndex.map { case (c, i) => c.as(s"__key_$i") } ++
        measureCols.zipWithIndex.map { case (c, i) => c.as(s"__e_$i") }: _*)
    val state: Seq[Column] =
      count(lit(1)).as("__cnt") +: measureCols.indices.flatMap { i =>
        val m = col(s"__e_$i")
        val dt = withCols.schema(s"__e_$i").dataType
        Seq(count(m).as(s"__cntnn_e$i"),
            min(m).as(s"__min_e$i"),
            max(m).as(s"__max_e$i")) ++
          (if (summable(dt)) Seq(sum(m).as(s"__sum_e$i")) else Nil) ++
          (if (hllCapable(dt)) Seq(hll_sketch_agg(m).as(s"__hll_e$i"))
           else Nil)
      }
    val grouped = withCols
      .groupBy(keyCols.indices.map(i => col(s"__key_$i")): _*)
      .agg(state.head, state.tail: _*)
    // clusterIdx re-lays the state hash-partitioned on a key SUBSET (one
    // cheap state-sized shuffle at build): a routed roll-up grouping by
    // exactly that subset then aggregates per-partition with no exchange
    // (HashPartitioning on the grouping keys satisfies the aggregate's
    // ClusteredDistribution through the cache's preserved partitioning).
    // coalesceTo collapses the state to a fixed partition count instead —
    // for BOUNDED-key states (a minute-of-month key is <= 44640 rows, an
    // AdvEngineID domain ~20, at ANY base scale) coalesceTo=1 yields
    // SinglePartition, which satisfies EVERY distribution: a routed
    // roll-up AND its ORDER BY both plan exchange-free, one stage, no
    // range-sampling job. The contract is the caller's: only coalesce a
    // state whose key domain is bounded, never one that grows with the
    // data.
    val laid = coalesceTo match {
      case Some(n) => grouped.coalesce(n)
      case None if clusterIdx.isEmpty => grouped
      case None => grouped.repartition(clusterIdx.map(i => col(s"__key_$i")): _*)
    }
    val proj = laid.persist(StorageLevel.MEMORY_AND_DISK)
    proj.count()
    (proj.queryExecution.optimizedPlan, proj)
  }

  /** Build, cache and register an AGGREGATE projection: one row of
    * partial state per distinct `keys` tuple over the rows passing
    * `where` (baked in). Keys and measures are any deterministic
    * expressions over the base; a column-keyed state is
    * `keys = Seq(col("k"))`, `measures = Seq(col("v"))`. Aggregations
    * over the base whose optimized filter conjuncts include the baked
    * set (extra conjuncts only on key expressions), whose grouping
    * expressions are a subset of `keys`, and whose aggregate calls are
    * count/sum/min/max/avg/approx_count_distinct/any_value over
    * `measures` are rewritten to finish from this state. Re-registering
    * the same definition returns the existing one. */
  def registerAggExpr(spark: SparkSession, base: DataFrame,
      keys: Seq[Column],
      measures: Seq[Column],
      where: Seq[Column] = Nil,
      clusterIdx: Seq[Int] = Nil,
      coalesceTo: Option[Int] = None): DataFrame =
    lock.synchronized {
      require(clusterIdx.forall(keys.indices.contains),
        "registerAggExpr: clusterIdx must index into keys")
      require(coalesceTo.forall(_ > 0), "registerAggExpr: coalesceTo must be > 0")
      val baseLeaf = baseLeafOf(base, "registerAggExpr")
      val leafOut = baseLeaf.output
      def norm(e: Expression): Expression = normEx(e, leafOut).getOrElse(
        throw new IllegalArgumentException(
          s"registerAggExpr: $e references columns outside the base"))
      val keyN = resolveExprs(base, keys).map(norm)
      val mN = resolveExprs(base, measures).map(norm)
      val whereN = resolveConjuncts(base, where).map(norm).toSet
      registry.asScala.collectFirst {
        case p: AggStateProj if p.baseLeafCanonical == baseLeaf.canonicalized &&
            p.keyNorms == keyN && p.measureNorms == mN &&
            p.whereNorms == whereN && p.clusterIdx == clusterIdx &&
            p.coalesceTo == coalesceTo => p.projDf
      }.foreach(return _)
      val (projPlan, proj) =
        buildAggState(base, keys, measures, where, clusterIdx, coalesceTo)
      add(spark, AggStateProj(baseLeaf.canonicalized, keyN, mN, whereN,
        projPlan, proj, base, keys, measures, where, rootPathsOf(base),
        clusterIdx, coalesceTo))
    }

  /** Insert-triggered projection refresh — the ingest paths (Catalog
    * ingest/ingestRaw, WalCommitter.commitBatch) call this after
    * appending files under `path`. Every projection whose base scans
    * that path is dropped and rebuilt: the base's file index is
    * re-listed first (same mechanism as `spark.catalog.refreshByPath`),
    * so both the rebuilt projection and any later un-routed scan of the
    * same base lineage see the appended rows. */
  def invalidatePath(path: String): Unit = lock.synchronized {
    if (registry.isEmpty) return
    // registered roots are absolute URI paths — absolutize a relative
    // caller path so it can match them
    val target = {
      val p = new org.apache.hadoop.fs.Path(path).toUri.getPath
      if (p.startsWith("/")) p else new java.io.File(p).getAbsolutePath
    }
    def refreshBase(base: DataFrame): Unit =
      base.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.refresh()
            case _ =>
          }
        case _ =>
      }
    registry.asScala.zipWithIndex.foreach { case (p, i) =>
      if (p.basePaths.contains(target)) {
        p.projDf.unpersist(false)
        refreshBase(p.base)
        registry.set(i, p.rebuild())
      }
    }
  }

  /** Does `df`'s optimized plan read a registered projection of the
    * kind `kind` accepts? Structural — the projection's leaf must appear
    * in the plan, not just a state-column NAME in the plan string (a
    * string match goes vacuous if the naming changes and can
    * false-positive on an unrelated mention). */
  private def uses(df: DataFrame)(kind: Proj => Boolean): Boolean = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.canonicalized)
    registry.asScala.exists(p => kind(p) &&
      leafOf(p.projPlan).exists(pl => leaves.contains(pl.canonicalized)))
  }

  /** Spec hook: does `df` read a registered row projection? */
  private[graft] def usesRowProjection(df: DataFrame): Boolean =
    uses(df)(_.isInstanceOf[RowProj])

  /** Spec hook: does `df` read a registered filtered projection? */
  private[graft] def usesFilteredProjection(df: DataFrame): Boolean =
    uses(df)(_.isInstanceOf[FilteredProj])

  /** Spec hook: does `df` finish from a registered aggregate state? */
  private[graft] def usesAggProjection(df: DataFrame): Boolean =
    uses(df)(_.isInstanceOf[AggStateProj])

  /** Debug hook: the registered aggregate-state DataFrames. */
  private[graft] def aggStateDfs: Seq[(DataFrame, LogicalPlan)] =
    registry.asScala.toSeq.collect {
      case p: AggStateProj => (p.projDf, p.projPlan)
    }

  /** Number of registered projections (spec hook). */
  private[graft] def registeredCount: Int = registry.size()

  /** Unpersist and drop every registered projection. */
  def clear(): Unit = lock.synchronized {
    registry.forEach(_.drop())
    registry.clear()
  }

  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(RouteToProjection))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RouteToProjection

  /** An [[Aggregate]] under routing: the facts the projection kinds match
    * on, each computed at most once however many entries ask. */
  private final class AggQuery(val agg: Aggregate) {
    /** Raw single leaf under the aggregate — the swap replaces it by
      * reference (`eq`). */
    private lazy val leaf: Option[LogicalPlan] = leafOf(agg.child)
    private lazy val leafC: Option[LogicalPlan] = leaf.map(_.canonicalized)

    /** Leaf attributes referenced above the leaf (in the aggregate's own
      * expressions or anywhere in the child chain). */
    private lazy val needed: Seq[Attribute] = leaf.fold(Seq.empty[Attribute]) { l =>
      val refs = AttributeSet(agg.expressions.flatMap(_.references) ++
        agg.child.collect { case n => n.references }.flatten)
      l.output.filter(refs.contains)
    }

    /** The query scans `baseLeafC`, and a copy carrying `carried` with
      * plan `projPlan` holds every needed attribute (by name and id). */
    def covers(baseLeafC: LogicalPlan, carried: Set[String],
               projPlan: LogicalPlan): Boolean =
      leafC.contains(baseLeafC) && needed.forall(a =>
        carried(a.name.toLowerCase) && projPlan.outputSet.contains(a))

    /** The aggregate with its leaf swapped for `projPlan`. */
    def swapLeaf(projPlan: LogicalPlan): LogicalPlan = {
      val l = leaf.get
      val newLeaf = Project(needed, projPlan)
      agg.copy(child = agg.child.transformUp { case n if n eq l => newLeaf })
    }

    /** Grouping keys that are plain columns (directly or via alias). */
    lazy val groupNames: Set[String] = agg.groupingExpressions.collect {
      case ar: AttributeReference => ar.name.toLowerCase
      case Alias(ar: AttributeReference, _) => ar.name.toLowerCase
    }.toSet

    /** Only Project/Filter between the aggregate and its leaf.
      * Repartitions preserve the row multiset — SkipPartialAgg's
      * shuffle-first rewrite runs earlier in this batch and may have
      * inserted one between the aggregate and the filter. */
    lazy val rowWise: Boolean = leaf.exists(l => !agg.child.exists {
      case _: Project | _: Filter | _: RepartitionOperation => false
      case n => !(n eq l)
    })

    /** `column = literal` conjuncts of every Filter in the child chain. */
    lazy val equalities: Seq[(String, Literal)] = agg.child.collect {
      case Filter(cond, _) => splitAnd(cond).collect {
        case EqualTo(a: AttributeReference, l: Literal) => (a.name.toLowerCase, l)
        case EqualTo(l: Literal, a: AttributeReference) => (a.name.toLowerCase, l)
      }
    }.flatten

    lazy val stateShape: Option[StateShape] = shapeOf(agg)
  }

  /** An aggregate as aggregate-state routing sees it: grouping and output
    * expressions with the child chain's Project aliases inlined down to
    * the leaf, the chain's Filter conjuncts (each paired with its rebased
    * canonical form), the grouping expressions' rebased canonical forms,
    * and the leaf. */
  private final case class StateShape(
      gExprs: Seq[Expression],
      aExprs: Seq[NamedExpression],
      conds: Seq[(Expression, Expression)],
      gNorms: Seq[Expression],
      leafOut: Seq[Attribute],
      leafC: LogicalPlan) {
    lazy val condNorms: Set[Expression] = conds.map(_._2).toSet
  }

  /** Inline the child chain's Project aliases down to the leaf (the
    * optimizer's PullOutGroupingExpressions turns `GROUP BY f(x)` into a
    * Project computing `_groupingexpression = f(x)`, so the real
    * expressions live in the Projects) and collect the Filter
    * conjuncts. None if the chain holds anything but deterministic
    * Filters and Projects, or an expression reaches outside the leaf. */
  private def shapeOf(agg: Aggregate): Option[StateShape] = {
    var gExprs: Seq[Expression] = agg.groupingExpressions
    var aExprs: Seq[NamedExpression] = agg.aggregateExpressions
    var conds: Seq[Expression] = Nil
    var node = agg.child
    var done = false
    while (!done) node match {
      case Filter(c, ch) if c.deterministic =>
        conds ++= splitAnd(c); node = ch
      case Project(ps, ch) if ps.forall(_.deterministic) =>
        val subst: Map[Attribute, Expression] = ps.collect {
          case a: Alias => (a.toAttribute: Attribute) -> a.child
        }.toMap
        if (subst.nonEmpty) {
          def sub(e: Expression): Expression = e.transformUp {
            case a: Attribute => subst.getOrElse(a, a)
          }
          gExprs = gExprs.map(sub)
          aExprs = aExprs.map { ne =>
            sub(ne) match {
              case n: NamedExpression => n
              case e => Alias(e, ne.name)(exprId = ne.exprId)
            }
          }
          conds = conds.map(sub)
        }
        node = ch
      case l if l.children.isEmpty => done = true
      case _ => return None
    }
    val leafOut = node.output
    val condPairs = conds.map(c => (c, normEx(c, leafOut).getOrElse(return None)))
    val gNorms = gExprs.map { case Alias(e, _) => e; case e => e }
      .map(e => normEx(e, leafOut).getOrElse(return None))
    Some(StateShape(gExprs, aExprs, condPairs, gNorms, leafOut, node.canonicalized))
  }

  /** Rewrite the matched aggregate onto the state columns of `p`. Key
    * expressions (anywhere outside an aggregate call) become the state's
    * key attributes; aggregate calls re-merge state. Top-level names and
    * exprIds are preserved, so parents (HAVING, ORDER BY, LIMIT) are
    * untouched. */
  private def rewriteOntoState(agg: Aggregate, s: StateShape,
      residual: Seq[Expression], p: AggStateProj): Option[LogicalPlan] = {
    val out = p.projPlan.output
    def attr(n: String): Option[Attribute] = out.find(_.name == n)
    val cntAttr = attr("__cnt").getOrElse(return None)
    def complete(fn: org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateFunction): AggregateExpression =
      AggregateExpression(fn, Complete, isDistinct = false, None,
        NamedExpression.newExprId)
    def keyAttr(e: Expression): Option[Attribute] =
      normEx(e, s.leafOut).flatMap { n =>
        val i = p.keyNorms.indexOf(n)
        if (i >= 0) attr(s"__key_$i") else None
      }
    // EXACT-KEY ELIMINATION: the state holds ONE row per distinct key
    // tuple (it is a groupBy result), so a query grouping by the FULL
    // key set needs no re-aggregation at all — each state row IS a
    // final group and every re-merge (sum of one count, min of one
    // min, ...) is the state column itself. The Aggregate collapses to
    // a Project: for a near-unique-key top-k (the hits q40 shape) this
    // removes the whole hash-map build from the query, leaving a state
    // scan + TakeOrdered. Detected on the REWRITTEN grouping: all key
    // attributes present exactly once.
    val exactKeys = {
      val gKeys = s.gExprs.map { case Alias(e, _) => e; case e => e }
        .flatMap(keyAttr)
      gKeys.length == s.gExprs.length && gKeys.nonEmpty &&
        gKeys.map(_.exprId).distinct.length == p.keyNorms.length
    }
    // counts re-merge as sums; Coalesce keeps count's non-null contract
    // on empty input (Sum over zero rows is null, count is 0)
    def sumLong(a: Attribute): Expression =
      if (exactKeys) a
      else Coalesce(Seq(complete(Sum(a)), Literal(0L)))
    def mergeSum(a: Attribute): Expression =
      if (exactKeys) a else complete(Sum(a))
    def mergeMin(a: Attribute): Expression =
      if (exactKeys) a else complete(Min(a))
    def mergeMax(a: Attribute): Expression =
      if (exactKeys) a else complete(Max(a))
    def measureIdx(e: Expression): Option[Int] =
      normEx(e, s.leafOut).flatMap { n =>
        val i = p.measureNorms.indexOf(n)
        if (i >= 0) Some(i) else None
      }
    var ok = true
    def fail(orig: Expression): Expression = { ok = false; orig }
    val outSet = AttributeSet(out)
    def rewriteOne(e: Expression): Expression = e.transformDown {
      // transformDown re-enters replacement subtrees: an aggregate that
      // already reads the projection's state attributes IS a replacement
      // (reference-free aggregates like count(1) are originals)
      case ae: AggregateExpression
          if ae.references.nonEmpty && ae.references.subsetOf(outSet) => ae
      case ae: AggregateExpression
          if ae.isDistinct || ae.filter.nonEmpty => fail(ae)
      case ae: AggregateExpression => ae.aggregateFunction match {
        case c: Count if c.children.forall {
              case Literal(v, _) => v != null; case _ => false } =>
          sumLong(cntAttr)
        case c: Count if c.children.size == 1 =>
          measureIdx(c.children.head)
            .flatMap(i => attr(s"__cntnn_e$i")).map(sumLong)
            .getOrElse(fail(ae))
        case sm: Sum =>
          measureIdx(sm.child).flatMap(i => attr(s"__sum_e$i"))
            .map(a => mergeSum(a)).getOrElse(fail(ae))
        case m: Min =>
          measureIdx(m.child).flatMap(i => attr(s"__min_e$i"))
            .map(a => mergeMin(a)).getOrElse(fail(ae))
        case m: Max =>
          measureIdx(m.child).flatMap(i => attr(s"__max_e$i"))
            .map(a => mergeMax(a)).getOrElse(fail(ae))
        // any_value/first re-merges as the min state: the contract is
        // "some value from the group", and the group's minimum is one.
        // Observably different from the unrouted pick —
        // `first(x, ignoreNulls=false)` can no longer observe null when
        // non-null values exist — but within the reference's `any()`.
        case f: First =>
          measureIdx(f.child).flatMap(i => attr(s"__min_e$i"))
            .map(a => mergeMin(a)).getOrElse(fail(ae))
        // the replacement is Double-typed; an Average whose result type
        // differs (DecimalType measures — avg over decimal returns
        // decimal) must NOT route, or the routed query would silently
        // change result type/precision. (Decimal measures carry no
        // __sum state either — summable() excludes them — so this
        // guard is belt-and-braces on top of that.) Exact-integer
        // partial sums divided once are at least as accurate as
        // Average's running double sum.
        case a: Average if ae.dataType == DoubleType =>
          (for (i <- measureIdx(a.child);
                sa <- attr(s"__sum_e$i"); ca <- attr(s"__cntnn_e$i"))
            yield {
              val n = sumLong(ca)
              If(EqualTo(n, Literal(0L)),
                Literal.create(null, DoubleType),
                new Divide(Cast(mergeSum(sa), DoubleType),
                  Cast(sumLong(ca), DoubleType))): Expression
            }).getOrElse(fail(ae))
        // lgK=12 union estimate (~1.6 % rsd) replaces an HLL++ estimate
        // whose requested error is coarser — approximate in, approximate
        // out, the same contract as the reference's uniqMerge; the two
        // estimates differ inside the error bound
        case h: HyperLogLogPlusPlus if h.relativeSD >= 0.02 =>
          measureIdx(h.child).flatMap(i => attr(s"__hll_e$i"))
            .map(ha => Coalesce(Seq(
              if (exactKeys) HllSketchEstimate(ha)
              else HllSketchEstimate(complete(new HllUnionAgg(ha))),
              Literal(0L))): Expression)
            .getOrElse(fail(ae))
        case _ => fail(ae)
      }
      case e if keyAttr(e).isDefined => keyAttr(e).get
    }
    val newGrouping = s.gExprs.map { g =>
      keyAttr(g match { case Alias(e, _) => e; case e => e })
        .getOrElse(return None)
    }
    // preserve the ORIGINAL output identity (name + exprId) on every
    // top-level expression: a bare grouping attribute rewrites to the
    // state's __key_i attr, and leaving it bare would change this
    // node's output ids — any parent referencing the original column
    // (a view, a subquery, a checksum wrapper) would fail to bind
    // (surfaced by the r14 q40 identity probe)
    val newAggExprs = s.aExprs.map(ne => rewriteOne(ne) match {
      case a: Alias => a
      case attr: Attribute if attr.exprId == ne.exprId => attr
      case e => Alias(e, ne.name)(exprId = ne.exprId)
    })
    if (!ok) return None
    // residual conjuncts: every key subexpression becomes the state
    // table's key attribute; anything left referencing base columns
    // means the predicate needs base ROWS (it would filter within a
    // group) — not routable through pre-merged state
    val newResidual = residual.map { c =>
      val r = c.transformDown {
        case e if keyAttr(e).isDefined => keyAttr(e).get
      }
      if (!r.references.subsetOf(outSet)) return None
      r
    }
    val needed = AttributeSet(newAggExprs.flatMap(_.references) ++
      newGrouping ++ newResidual.flatMap(_.references))
    val projected = Project(out.filter(needed.contains), p.projPlan)
    val child = newResidual.foldLeft(projected: LogicalPlan)(
      (acc, c) => Filter(c, acc))
    if (exactKeys) {
      // safety net for the elimination: the Project must be aggregate-
      // free (every merge helper took the scalar branch)
      if (newAggExprs.exists(_.exists(_.isInstanceOf[AggregateExpression])))
        return None
      Some(Project(newAggExprs, child))
    } else Some(agg.copy(groupingExpressions = newGrouping,
      aggregateExpressions = newAggExprs, child = child))
  }

  /** Rewrites each [[Aggregate]] to read the first registered projection
    * (in [[registry]] order) that can serve it. */
  object RouteToProjection extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (registry.isEmpty) return plan
      plan.transformDown {
        case agg: Aggregate =>
          val q = new AggQuery(agg)
          registry.asScala.iterator.flatMap(_.route(q)).nextOption()
            .getOrElse(agg)
      }
    }
  }
}
