package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, hll_sketch_agg, lit, max, min, sum}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Cast, Coalesce, Divide, EqualTo, Expression, HllSketchEstimate, If, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, HllUnionAgg, HyperLogLogPlusPlus, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
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

  private final case class ProjDef(
      baseLeafCanonical: LogicalPlan,
      partitionCols: Seq[String],         // lower-cased
      carried: Set[String],               // lower-cased
      projPlan: LogicalPlan,              // optimized (InMemoryRelation) plan
      projDf: DataFrame,
      base: DataFrame,                    // lineage holder for rebuilds
      columnsOrdered: Seq[String],        // register() args, for rebuilds
      partitionColsOrdered: Seq[String],
      basePaths: Set[String],             // normalized file-source roots
      bucketDisk: Option[(Int, String)] = None) // (numBuckets, dir) when parquet-bucketed

  private val registry = new java.util.concurrent.CopyOnWriteArrayList[ProjDef]()
  // guards the find-or-build in register() and the rebuild in
  // invalidatePath(); routing only reads the COW list, lock-free
  private val lock = new Object

  /** Routing substitutions that are within-contract but OBSERVABLY
    * different from the unrouted plan: `any_value`/`first` re-merges as
    * the group minimum ("some value" → the min is one, but
    * `first(x, ignoreNulls=false)` can no longer observe null when
    * non-null values exist), and `approx_count_distinct(x, rsd >= 0.02)`
    * swaps HLL++ for a DataSketches HLL union whose estimates differ
    * inside the error bound. Both match the reference's semantics
    * (`any()` is explicitly arbitrary, uniqMerge re-estimates), but a
    * routed and an unrouted run of the same query can return different
    * values — set false to route only bit-identical rewrites
    * (count/sum/min/max/avg). */
  @volatile var routeNondeterministic: Boolean = true

  /** An AGGREGATE projection: the reference's AggregatingMergeTree
    * materialized view (`src/Storages/MergeTree/registerStorageMergeTree
    * .cpp:351,946` + `src/AggregateFunctions/AggregateFunctionState.cpp`
    * / `AggregateFunctionMerge.cpp`) — a table of *partial aggregate
    * state* per group key, refreshed by the insert path like any MV
    * (`src/Storages/StorageMaterializedView.cpp`), that queries finish
    * with `-Merge` combinators instead of re-scanning the base.
    *
    * graft keeps, per key tuple: row count, and per measure column the
    * non-null count, sum, min, max and (for int/long/string/binary) a
    * DataSketches HLL sketch. [[RouteToProjection]] rewrites a matching
    * [[Aggregate]] to re-aggregate this state — sum of sums, min of
    * mins, union of sketches — which is exact for count/sum/min/max and
    * avg (sum/count over exact integer partials), and for
    * `approx_count_distinct` swaps one approximation for an equally-
    * valid one (lgK=12 union, ~1.6 % rsd, vs HLL++ at the default 5 %):
    * the same contract as the reference's `uniqMerge`.
    *
    * At 100 TB the economics are the reference's: the state table is
    * |keys| rows against the base's billions, so every routed query
    * replaces a full scan + shuffle with a scan of a few thousand
    * pre-merged rows. */
  private final case class AggProjDef(
      baseLeafCanonical: LogicalPlan,
      groupCols: Seq[String],             // lower-cased, registration order
      measures: Map[String, DataType],    // lower-cased -> base column type
      projPlan: LogicalPlan,              // optimized (InMemoryRelation) plan
      projDf: DataFrame,
      base: DataFrame,
      groupColsOrdered: Seq[String],      // register() args, for rebuilds
      measuresOrdered: Seq[String],
      basePaths: Set[String],
      coalesceTo: Option[Int] = None)     // state partition count override

  private val aggRegistry =
    new java.util.concurrent.CopyOnWriteArrayList[AggProjDef]()

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
  private final case class FilteredProjDef(
      baseLeafCanonical: LogicalPlan,
      filterCol: String,                  // lower-cased
      filterLit: org.apache.spark.sql.catalyst.expressions.Literal,
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

  private val filteredRegistry =
    new java.util.concurrent.CopyOnWriteArrayList[FilteredProjDef]()

  /** An EXPRESSION-KEYED, optionally FILTERED aggregate projection: the
    * reference's AggregatingMergeTree materialized view in its general
    * form (`src/Storages/StorageMaterializedView.cpp` — the MV SELECT
    * may compute expressions and carry a WHERE). Keys and measures are
    * arbitrary deterministic expressions over the base (e.g.
    * `domainWithoutWWW(Referer)`), and the optional filter is baked
    * into the state build. A query routes here when its (optimizer-
    * normalized) filter conjuncts equal the baked set, every grouping
    * expression matches a key expression, and every aggregate call is
    * count/sum/min/max/avg/approx_count_distinct/any_value over a
    * registered measure expression. Matching is by canonicalized
    * expression equality after rebasing attribute ids onto leaf output
    * positions, so it survives lineage differences that preserve the
    * leaf. */
  private final case class ExprAggProjDef(
      baseLeafCanonical: LogicalPlan,
      keyNorms: Seq[Expression],          // rebased + canonicalized
      measureNorms: Seq[Expression],
      measureTypes: Seq[DataType],
      whereNorms: Set[Expression],        // conjuncts, rebased + canonicalized
      projPlan: LogicalPlan,
      projDf: DataFrame,
      base: DataFrame,
      keyCols: Seq[org.apache.spark.sql.Column],      // for rebuilds
      measureCols: Seq[org.apache.spark.sql.Column],
      whereCols: Seq[org.apache.spark.sql.Column],
      basePaths: Set[String],
      clusterIdx: Seq[Int] = Nil,         // state layout key indices
      coalesceTo: Option[Int] = None)     // state partition count override

  private val exprAggRegistry =
    new java.util.concurrent.CopyOnWriteArrayList[ExprAggProjDef]()

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

  /** Materialize one aggregate-projection build: group by the key
    * columns, keep per-measure partial state, cache and force. The
    * groupBy's own hash partitioning on the full key tuple is preserved
    * by the cache, so exact-key routed re-aggregation needs no
    * exchange. */
  private def buildAgg(base: DataFrame, groupCols: Seq[String],
                       measures: Seq[String],
                       coalesceTo: Option[Int] = None)
      : (LogicalPlan, DataFrame) = {
    def typeOf(m: String): DataType =
      base.schema.fields.find(_.name.equalsIgnoreCase(m)).getOrElse(
        throw new IllegalArgumentException(
          s"Projections.registerAgg: no column $m")).dataType
    val state: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).as("__cnt") +: measures.flatMap { m =>
        val ml = m.toLowerCase
        val dt = typeOf(m)
        Seq(count(col(m)).as(s"__cntnn_$ml"),
            min(col(m)).as(s"__min_$ml"),
            max(col(m)).as(s"__max_$ml")) ++
          (if (summable(dt)) Seq(sum(col(m)).as(s"__sum_$ml")) else Nil) ++
          (if (hllCapable(dt)) Seq(hll_sketch_agg(col(m)).as(s"__hll_$ml"))
           else Nil)
      }
    val grouped = base
      .groupBy(groupCols.map(col): _*)
      .agg(state.head, state.tail: _*)
    // coalesceTo collapses a BOUNDED-key state (an AdvEngineID domain is
    // ~20 rows at ANY base scale) to a fixed partition count; at 1,
    // SinglePartition satisfies every distribution, so a routed subset
    // roll-up AND its ORDER BY plan exchange-free — the same contract as
    // buildAggExpr's coalesceTo (caller guarantees a bounded key domain).
    val laid = coalesceTo match {
      case Some(n) => grouped.coalesce(n)
      case None => grouped
    }
    val proj = laid.persist(StorageLevel.MEMORY_AND_DISK)
    proj.count()
    (proj.queryExecution.optimizedPlan, proj)
  }

  /** Build, cache and register an AGGREGATE projection of `base`: one
    * row of partial aggregate state per distinct `groupCols` tuple,
    * carrying count/sum/min/max/HLL state for each of `measures`.
    * Aggregations over the base whose grouping keys are a subset of
    * `groupCols`, whose filters reference only `groupCols`, and whose
    * aggregate functions are count/sum/min/max/avg/approx_count_distinct
    * over registered measures are rewritten to finish from this state.
    * Re-registering the same (base, keys, measures) returns the
    * existing one. */
  def registerAgg(spark: SparkSession, base: DataFrame,
                  groupCols: Seq[String], measures: Seq[String],
                  coalesceTo: Option[Int] = None): DataFrame =
    lock.synchronized {
      require(coalesceTo.forall(_ > 0), "registerAgg: coalesceTo must be > 0")
      val gLower = groupCols.map(_.toLowerCase)
      val mTypes = measures.map(m => m.toLowerCase ->
        base.schema.fields.find(_.name.equalsIgnoreCase(m)).getOrElse(
          throw new IllegalArgumentException(
            s"Projections.registerAgg: no column $m")).dataType).toMap
      val baseLeaf = leafOf(base.queryExecution.optimizedPlan)
        .getOrElse(throw new IllegalArgumentException(
          "Projections.registerAgg: base must scan a single relation"))
      aggRegistry.asScala.find { p =>
        p.baseLeafCanonical == baseLeaf.canonicalized &&
          p.groupCols == gLower && p.measures.keySet == mTypes.keySet &&
          p.coalesceTo == coalesceTo
      }.foreach(p => return p.projDf)
      val (projPlan, proj) = buildAgg(base, groupCols, measures, coalesceTo)
      aggRegistry.add(AggProjDef(baseLeaf.canonicalized, gLower, mTypes,
        projPlan, proj, base, groupCols, measures, rootPathsOf(base),
        coalesceTo))
      install(spark)
      proj
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
      val baseLeaf = leafOf(base.queryExecution.optimizedPlan)
        .getOrElse(throw new IllegalArgumentException(
          "Projections.register: base must scan a single relation"))
      registry.asScala.find { p =>
        p.baseLeafCanonical == baseLeaf.canonicalized &&
          p.partitionCols == pcLower && p.carried == carried
      }.foreach(p => return p.projDf)
      val (projPlan, proj) = build(base, partitionCols, columns)
      registry.add(ProjDef(baseLeaf.canonicalized, pcLower, carried, projPlan,
        proj, base, columns, partitionCols, rootPathsOf(base)))
      // a projection has the same rows as its base, so its per-column NDV
      // and row count are the base's — inherit them (by attribute
      // identity: the projection keeps the base's exprIds) so
      // SkipPartialAgg's leaf-scoped stats decision fires on routed
      // plans too.
      leafOf(projPlan).foreach(pl =>
        TableStats.inherit(baseLeaf, pl, projPlan.output))
      install(spark)
      proj
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
      val baseLeaf = leafOf(base.queryExecution.optimizedPlan)
        .getOrElse(throw new IllegalArgumentException(
          "Projections.registerBucketed: base must scan a single relation"))
      registry.asScala.find { p =>
        p.baseLeafCanonical == baseLeaf.canonicalized &&
          p.partitionCols == pcLower && p.carried == carried &&
          // bucket count is part of the layout identity: the same dir
          // re-registered with a different count must rebuild, not
          // silently serve the old bucketing
          p.bucketDisk.exists(bd => bd._1 == numBuckets && bd._2 == dirAbs)
      }.foreach(p => return p.projDf)
      // a LIVE entry already points its bucketed relation at this dir
      // with a different definition (other bucket count / columns / base)
      // — rebuilding would DROP/recreate the catalog table and overwrite
      // files that entry's captured plan still scans. Refuse loudly,
      // mirroring registerFiltered's guard.
      require(!registry.asScala.exists(_.bucketDisk.exists(_._2 == dirAbs)) &&
          !filteredRegistry.asScala.exists(_.diskDir.contains(dirAbs)),
        s"registerBucketed: dir $dirAbs is already backing a registered " +
          "projection with a different definition; clear() or use a " +
          "distinct directory")
      val (projPlan, proj) =
        buildBucketed(base, bucketCols, columns, numBuckets, dirAbs,
          reuseExisting = true)
      registry.add(ProjDef(baseLeaf.canonicalized, pcLower, carried, projPlan,
        proj, base, columns, bucketCols, rootPathsOf(base),
        bucketDisk = Some((numBuckets, dirAbs))))
      leafOf(projPlan).foreach(pl =>
        TableStats.inherit(baseLeaf, pl, projPlan.output))
      install(spark)
      proj
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
        val raw = org.apache.spark.sql.catalyst.expressions.Literal(filterValue)
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
      val baseLeaf = leafOf(base.queryExecution.optimizedPlan)
        .getOrElse(throw new IllegalArgumentException(
          "Projections.registerFiltered: base must scan a single relation"))
      // diskDir participates in the dedupe: re-registering the same
      // slice WITH disk materialization must build the parquet copy,
      // not return an earlier memory-only entry
      filteredRegistry.asScala.find { p =>
        p.baseLeafCanonical == baseLeaf.canonicalized &&
          p.filterCol == fcLower && p.filterLit.semanticEquals(flit) &&
          p.carried == carried && p.diskDir == diskDirAbs &&
          p.sortCol == sortCol && p.clusterBy == clusterBy
      }.foreach(p => return p.projDf)
      // a LIVE entry already points its parquet relation at this dir
      // with a different definition — rebuilding over it would delete
      // the files that entry's captured plan lists (routed queries
      // would then fail mid-scan). Refuse loudly instead.
      if (diskDirAbs.isDefined)
        require(!filteredRegistry.asScala.exists(_.diskDir == diskDirAbs) &&
            !registry.asScala.exists(
              _.bucketDisk.exists(bd => diskDirAbs.contains(bd._2))),
          s"registerFiltered: diskDir ${diskDirAbs.get} is already backing a " +
            "registered projection with a different definition; clear() or " +
            "use a distinct directory")
      val (projPlan, proj) =
        buildFiltered(base, filterCol, filterValue, columns, diskDirAbs,
          sortCol, clusterBy)
      filteredRegistry.add(FilteredProjDef(baseLeaf.canonicalized, fcLower,
        flit, carried, projPlan, proj, base, columns, filterCol,
        filterValue, rootPathsOf(base), diskDirAbs, sortCol, clusterBy))
      install(spark)
      proj
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

  /** Materialize one expression-keyed aggregate-projection build: bake the
    * filter, compute key/measure expressions once, group by the keys and
    * keep per-measure partial state. Returns measure result types too
    * (needed to pick which state columns exist). */
  private def buildAggExpr(base: DataFrame,
      keyCols: Seq[org.apache.spark.sql.Column],
      measureCols: Seq[org.apache.spark.sql.Column],
      whereCols: Seq[org.apache.spark.sql.Column],
      clusterIdx: Seq[Int] = Nil,
      coalesceTo: Option[Int] = None)
      : (LogicalPlan, DataFrame, Seq[DataType]) = {
    val filtered = whereCols.foldLeft(base)((d, c) => d.filter(c))
    val withCols = filtered.select(
      keyCols.zipWithIndex.map { case (c, i) => c.as(s"__key_$i") } ++
        measureCols.zipWithIndex.map { case (c, i) => c.as(s"__e_$i") }: _*)
    val mTypes = measureCols.indices.map(i => withCols.schema(s"__e_$i").dataType)
    val state: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).as("__cnt") +: measureCols.indices.flatMap { i =>
        val m = col(s"__e_$i")
        Seq(count(m).as(s"__cntnn_e$i"),
            min(m).as(s"__min_e$i"),
            max(m).as(s"__max_e$i")) ++
          (if (summable(mTypes(i))) Seq(sum(m).as(s"__sum_e$i")) else Nil) ++
          (if (hllCapable(mTypes(i))) Seq(hll_sketch_agg(m).as(s"__hll_e$i"))
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
    // for BOUNDED-key states (a minute-of-month key is <= 44640 rows at
    // ANY base scale) coalesceTo=1 yields SinglePartition, which
    // satisfies EVERY distribution: a routed roll-up AND its ORDER BY
    // both plan exchange-free, one stage, no range-sampling job. The
    // contract is the caller's: only coalesce a state whose key domain
    // is bounded, never one that grows with the data.
    val laid = coalesceTo match {
      case Some(n) => grouped.coalesce(n)
      case None if clusterIdx.isEmpty => grouped
      case None => grouped.repartition(clusterIdx.map(i => col(s"__key_$i")): _*)
    }
    val proj = laid.persist(StorageLevel.MEMORY_AND_DISK)
    proj.count()
    (proj.queryExecution.optimizedPlan, proj, mTypes)
  }

  /** Build, cache and register an EXPRESSION-KEYED aggregate projection:
    * one row of partial state per distinct `keys` expression tuple over
    * the rows passing `where` (baked in). Aggregations over the base
    * whose optimized filter conjuncts equal the baked set, whose grouping
    * expressions are a subset of `keys`, and whose aggregate calls are
    * count/sum/min/max/avg/approx_count_distinct/any_value over `measures`
    * expressions are rewritten to finish from this state. `any_value`
    * re-merges as the min state — a legitimate "any" under its
    * nondeterministic contract. */
  def registerAggExpr(spark: SparkSession, base: DataFrame,
      keys: Seq[org.apache.spark.sql.Column],
      measures: Seq[org.apache.spark.sql.Column],
      where: Seq[org.apache.spark.sql.Column] = Nil,
      clusterIdx: Seq[Int] = Nil,
      coalesceTo: Option[Int] = None): DataFrame =
    lock.synchronized {
      require(clusterIdx.forall(keys.indices.contains),
        "registerAggExpr: clusterIdx must index into keys")
      require(coalesceTo.forall(_ > 0), "registerAggExpr: coalesceTo must be > 0")
      val baseLeaf = leafOf(base.queryExecution.optimizedPlan)
        .getOrElse(throw new IllegalArgumentException(
          "Projections.registerAggExpr: base must scan a single relation"))
      val leafOut = baseLeaf.output
      def norm(e: Expression): Expression = normEx(e, leafOut).getOrElse(
        throw new IllegalArgumentException(
          s"registerAggExpr: $e references columns outside the base"))
      val keyN = resolveExprs(base, keys).map(norm)
      val mN = resolveExprs(base, measures).map(norm)
      val whereN = resolveConjuncts(base, where).map(norm).toSet
      exprAggRegistry.asScala.find { p =>
        p.baseLeafCanonical == baseLeaf.canonicalized && p.keyNorms == keyN &&
          p.measureNorms == mN && p.whereNorms == whereN &&
          p.clusterIdx == clusterIdx && p.coalesceTo == coalesceTo
      }.foreach(p => return p.projDf)
      val (projPlan, proj, mTypes) =
        buildAggExpr(base, keys, measures, where, clusterIdx, coalesceTo)
      exprAggRegistry.add(ExprAggProjDef(baseLeaf.canonicalized, keyN, mN,
        mTypes, whereN, projPlan, proj, base, keys, measures, where,
        rootPathsOf(base), clusterIdx, coalesceTo))
      install(spark)
      proj
    }

  /** Insert-triggered projection refresh — the ingest paths (Catalog
    * ingest/ingestRaw, WalCommitter.commitBatch) call this after
    * appending files under `path`. Every projection whose base scans
    * that path is dropped and rebuilt: the base's file index is
    * re-listed first (same mechanism as `spark.catalog.refreshByPath`),
    * so both the rebuilt projection and any later un-routed scan of the
    * same base lineage see the appended rows. */
  def invalidatePath(path: String): Unit = lock.synchronized {
    if (registry.isEmpty && aggRegistry.isEmpty &&
        filteredRegistry.isEmpty && exprAggRegistry.isEmpty) return
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
        val (projPlan, proj) = p.bucketDisk match {
          case Some((n, dir)) =>
            // always rewrite on refresh — the on-disk copy is stale
            buildBucketed(p.base, p.partitionColsOrdered, p.columnsOrdered,
              n, dir, reuseExisting = false)
          case None =>
            build(p.base, p.partitionColsOrdered, p.columnsOrdered)
        }
        registry.set(i, p.copy(projPlan = projPlan, projDf = proj))
        for (bl <- leafOf(p.base.queryExecution.optimizedPlan);
             pl <- leafOf(projPlan))
          TableStats.inherit(bl, pl, projPlan.output)
      }
    }
    aggRegistry.asScala.zipWithIndex.foreach { case (p, i) =>
      if (p.basePaths.contains(target)) {
        p.projDf.unpersist(false)
        refreshBase(p.base)
        val (projPlan, proj) =
          buildAgg(p.base, p.groupColsOrdered, p.measuresOrdered, p.coalesceTo)
        aggRegistry.set(i, p.copy(projPlan = projPlan, projDf = proj))
      }
    }
    filteredRegistry.asScala.zipWithIndex.foreach { case (p, i) =>
      if (p.basePaths.contains(target)) {
        p.projDf.unpersist(false)
        refreshBase(p.base)
        val (projPlan, proj) = buildFiltered(p.base, p.filterColOrdered,
          p.filterValueOrig, p.columnsOrdered, p.diskDir, p.sortCol,
          p.clusterBy, reuseExisting = false)
        filteredRegistry.set(i, p.copy(projPlan = projPlan, projDf = proj))
      }
    }
    exprAggRegistry.asScala.zipWithIndex.foreach { case (p, i) =>
      if (p.basePaths.contains(target)) {
        p.projDf.unpersist(false)
        refreshBase(p.base)
        val (projPlan, proj, _) =
          buildAggExpr(p.base, p.keyCols, p.measureCols, p.whereCols,
            p.clusterIdx, p.coalesceTo)
        exprAggRegistry.set(i, p.copy(projPlan = projPlan, projDf = proj))
      }
    }
  }

  /** Spec hook: does `df`'s optimized plan read a registered row
    * projection (rather than the base relation)? */
  private[graft] def usesRowProjection(df: DataFrame): Boolean = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.canonicalized)
    registry.asScala.exists(p =>
      leafOf(p.projPlan).exists(pl => leaves.contains(pl.canonicalized)))
  }

  /** Spec hook: does `df`'s optimized plan read a registered filtered
    * projection (rather than the base relation)? */
  private[graft] def usesFilteredProjection(df: DataFrame): Boolean = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.canonicalized)
    filteredRegistry.asScala.exists(p =>
      leafOf(p.projPlan).exists(pl => leaves.contains(pl.canonicalized)))
  }

  /** Spec hook: does `df`'s optimized plan finish from a registered
    * (column-keyed) aggregate projection? Structural — the state table's
    * leaf must appear in the plan, not just a state-column NAME in the
    * plan string (a string match goes vacuous if the naming changes and
    * can false-positive on an unrelated mention). */
  private[graft] def usesAggProjection(df: DataFrame): Boolean = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.canonicalized)
    aggRegistry.asScala.exists(p =>
      leafOf(p.projPlan).exists(pl => leaves.contains(pl.canonicalized)))
  }

  /** Spec hook: does `df`'s optimized plan finish from a registered
    * expression-keyed aggregate projection? */
  private[graft] def usesExprAggProjection(df: DataFrame): Boolean = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.canonicalized)
    exprAggRegistry.asScala.exists(p =>
      leafOf(p.projPlan).exists(pl => leaves.contains(pl.canonicalized)))
  }

  /** Debug hook: the registered expression-keyed state DataFrames. */
  private[graft] def exprAggDfs: Seq[(DataFrame, LogicalPlan)] =
    exprAggRegistry.asScala.toSeq.map(p => (p.projDf, p.projPlan))

  /** Number of registered projections (spec hook). */
  private[graft] def registeredCount: Int =
    registry.size() + aggRegistry.size() + filteredRegistry.size() +
      exprAggRegistry.size()

  /** Unpersist and drop every registered projection. */
  def clear(): Unit = lock.synchronized {
    registry.forEach { p =>
      p.projDf.unpersist(false)
      // drop the catalog entry of a bucketed disk projection (the files
      // stay — re-registration reuses them when _SUCCESS is present AND
      // the recorded base/spec fingerprint still matches)
      p.bucketDisk.foreach { case (_, dir) =>
        val table = bucketTableName(dir)
        try p.base.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
        catch { case _: Throwable => () }
      }
    }
    registry.clear()
    aggRegistry.forEach(p => p.projDf.unpersist(false): Unit)
    aggRegistry.clear()
    filteredRegistry.forEach { p =>
      p.projDf.unpersist(false)
      // a clusterBy+diskDir slice lives behind a catalog bucketed table —
      // drop the entry (files stay; re-registration reuses them when the
      // recorded fingerprint still matches)
      if (p.clusterBy.isDefined) p.diskDir.foreach { dir =>
        val table = bucketTableName(dir)
        try p.base.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
        catch { case _: Throwable => () }
      }
    }
    filteredRegistry.clear()
    exprAggRegistry.forEach(p => p.projDf.unpersist(false): Unit)
    exprAggRegistry.clear()
  }

  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(RouteToProjection))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RouteToProjection

  /** Grouping keys that are plain columns (directly or via alias). */
  private def groupingAttrNames(exprs: Seq[org.apache.spark.sql.catalyst
      .expressions.Expression]): Set[String] =
    exprs.collect {
      case ar: AttributeReference => ar.name.toLowerCase
      case Alias(ar: AttributeReference, _) => ar.name.toLowerCase
    }.toSet

  object RouteToProjection extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (registry.isEmpty && aggRegistry.isEmpty &&
          filteredRegistry.isEmpty && exprAggRegistry.isEmpty) return plan
      plan.transformDown {
        // aggregate projections first: finishing from pre-merged state
        // strictly dominates re-aggregating a raw-layout copy
        case agg @ Aggregate(groupingExprs, _, child, _) =>
          routeAgg(agg)
            .orElse(routeExprAgg(agg))
            .orElse(routeFiltered(agg, child))
            .orElse(route(agg, groupingExprs, child))
            .getOrElse(agg)
      }
    }

    /** Swap the leaf for a filtered projection when some Filter in a
      * purely row-wise (Project/Filter) chain carries the projection's
      * exact equality conjunct and every referenced column is carried.
      * All predicates stay in place (the equality becomes a tautology
      * over the subset), so the rewrite only removes rows the Filter
      * was about to drop — identical results, selectivity-sized scan. */
    private def routeFiltered(agg: Aggregate,
                              child: LogicalPlan): Option[LogicalPlan] = {
      if (filteredRegistry.isEmpty) return None
      val leaf = leafOf(child).getOrElse(return None)
      var rowWise = true
      child.foreach {
        case _: Project | _: Filter => ()
        // repartitions preserve the row multiset — SkipPartialAgg's
        // shuffle-first rewrite runs earlier in this batch and may have
        // inserted one between the aggregate and the filter
        case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => ()
        case l if l eq leaf => ()
        case _ => rowWise = false
      }
      if (!rowWise) return None
      val eqs: Seq[(String, Literal)] = child.collect {
        case Filter(cond, _) => splitAnd(cond).collect {
          case EqualTo(a: AttributeReference, l: Literal) =>
            (a.name.toLowerCase, l)
          case EqualTo(l: Literal, a: AttributeReference) =>
            (a.name.toLowerCase, l)
        }
      }.flatten
      if (eqs.isEmpty) return None
      val refs = AttributeSet(
        agg.expressions.flatMap(_.references) ++
          child.collect { case n => n.references }.flatten)
      val needed: Seq[Attribute] = leaf.output.filter(refs.contains)
      val neededNames = needed.map(_.name.toLowerCase).toSet
      val chosen = filteredRegistry.asScala.find { p =>
        p.baseLeafCanonical == leaf.canonicalized &&
          eqs.exists { case (n, l) =>
            n == p.filterCol && l.semanticEquals(p.filterLit) } &&
          neededNames.subsetOf(p.carried) &&
          needed.forall(o => p.projPlan.outputSet.contains(o))
      }.getOrElse(return None)
      val newLeaf = Project(needed, chosen.projPlan)
      Some(agg.copy(child = child.transformUp {
        case l if l eq leaf => newLeaf
      }))
    }

    /** Rewrite `agg` to finish from a registered aggregate projection:
      * grouping keys must be bare columns forming a subset of the
      * projection's key tuple (subset = roll-up over pre-merged state),
      * the child may only stack attr-Projects and key-column Filters on
      * the base leaf (a filter on a key column partitions whole groups,
      * so filtering state rows is exact; anything else would need base
      * rows), and every aggregate call must be one of
      * count/sum/min/max/avg/approx_count_distinct over a registered
      * measure. Output NamedExpressions keep their exprIds, so parents
      * (sorts, limits, havings) are untouched. */
    private def routeAgg(agg: Aggregate): Option[LogicalPlan] = {
      if (aggRegistry.isEmpty) return None
      val groupAttrs: Seq[AttributeReference] = agg.groupingExpressions.map {
        case a: AttributeReference => a
        case _ => return None
      }
      var node = agg.child
      val conds = scala.collection.mutable.ArrayBuffer.empty[Expression]
      var atLeaf = false
      while (!atLeaf) node match {
        case Filter(c, ch) if c.deterministic => conds += c; node = ch
        case Project(ps, ch) if ps.forall(_.isInstanceOf[AttributeReference]) =>
          node = ch
        case l if l.children.isEmpty => atLeaf = true
        case _ => return None
      }
      val leafC = node.canonicalized
      val condRefs = AttributeSet(conds.flatMap(_.references))
      val gNames = groupAttrs.map(_.name.toLowerCase).toSet
      aggRegistry.asScala.foreach { p =>
        if (p.baseLeafCanonical == leafC &&
            gNames.subsetOf(p.groupCols.toSet) &&
            condRefs.forall(a => p.groupCols.contains(a.name.toLowerCase)) &&
            (groupAttrs ++ condRefs).forall(p.projPlan.outputSet.contains)) {
          // exact-key elimination (see rewriteExprAgg): grouping by the
          // FULL key tuple makes each state row a final group — the
          // roll-up becomes a Project over the state scan
          val exact = groupAttrs.nonEmpty &&
            groupAttrs.map(_.name.toLowerCase).distinct.length ==
              p.groupCols.length
          rewriteAggExprs(agg, p, exact).foreach { newExprs =>
            val needed = AttributeSet(
              newExprs.flatMap(_.references) ++ condRefs ++ groupAttrs)
            val projected =
              Project(p.projPlan.output.filter(needed.contains), p.projPlan)
            val child = conds.foldLeft(projected: LogicalPlan)(
              (acc, c) => Filter(c, acc))
            return Some(
              if (exact) Project(newExprs, child)
              else agg.copy(aggregateExpressions = newExprs, child = child))
          }
        }
      }
      None
    }

    /** Route to an EXPRESSION-KEYED aggregate projection: inline the
      * child chain's Project aliases down to the leaf (the optimizer's
      * PullOutGroupingExpressions turns `GROUP BY f(x)` into a Project
      * computing `_groupingexpression = f(x)`, so the real expressions
      * live in the Projects), collect the Filter conjuncts, and match
      * both against a registered definition by rebased canonicalized
      * equality. The registered (baked) conjuncts must all be present in
      * the query (the baked filter defines the state's row population;
      * both sides pass the same optimizer, so inferred IsNotNulls appear
      * on both); RESIDUAL query conjuncts are allowed when they reference
      * only key expressions — a key-only predicate is constant within
      * each state group, so filtering state rows is exactly filtering
      * base rows (the reference's MV date-window pattern: state keyed on
      * (group cols, EventDate), query's EventDate range applied to the
      * state table). Grouping expressions must be a subset of the keys
      * (roll-up over state is exact), and every aggregate call must
      * rewrite onto a measure's state. */
    private def routeExprAgg(agg: Aggregate): Option[LogicalPlan] = {
      if (exprAggRegistry.isEmpty) return None
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
      val leafC = node.canonicalized
      val dbg = java.lang.Boolean.getBoolean("graft.proj.debug")
      val condPairs = conds
        .map(c => (c, normEx(c, leafOut).getOrElse(return None)))
      val condNorms = condPairs.map(_._2).toSet
      val gStripped = gExprs.map { case Alias(e, _) => e; case e => e }
      val gNorms = gStripped
        .map(e => normEx(e, leafOut).getOrElse(return None))
      exprAggRegistry.asScala.foreach { p =>
        if (dbg) {
          println(s"[proj-debug] leaf match: ${p.baseLeafCanonical == leafC}")
          println(s"[proj-debug] where reg=${p.whereNorms} in=$condNorms sub=${p.whereNorms.subsetOf(condNorms)}")
          println(s"[proj-debug] keys reg=${p.keyNorms} in=$gNorms sub=${gNorms.forall(p.keyNorms.contains)}")
        }
        if (p.baseLeafCanonical == leafC && p.whereNorms.subsetOf(condNorms) &&
            gNorms.forall(p.keyNorms.contains)) {
          // conjuncts beyond the baked set stay as a Filter over the
          // state table — valid only if they rewrite onto key columns
          // (checked inside rewriteExprAgg)
          val residual = condPairs.collect {
            case (c, n) if !p.whereNorms.contains(n) => c
          }
          rewriteExprAgg(agg, gExprs, aExprs, residual, p, leafOut)
            .foreach(r => return Some(r))
        }
      }
      None
    }

    /** Rewrite the matched aggregate onto the projection's state columns.
      * Key expressions (anywhere outside an aggregate call) become the
      * projection's key attributes; aggregate calls re-merge state. Top-
      * level names and exprIds are preserved, so parents (HAVING, ORDER
      * BY, LIMIT) are untouched. */
    private def rewriteExprAgg(agg: Aggregate, gExprs: Seq[Expression],
        aExprs: Seq[NamedExpression], residual: Seq[Expression],
        p: ExprAggProjDef,
        leafOut: Seq[Attribute]): Option[LogicalPlan] = {
      val out = p.projPlan.output
      def attr(n: String): Option[Attribute] = out.find(_.name == n)
      val cntAttr = attr("__cnt").getOrElse(return None)
      def complete(fn: org.apache.spark.sql.catalyst.expressions.aggregate
          .AggregateFunction): AggregateExpression =
        AggregateExpression(fn, Complete, isDistinct = false, None,
          NamedExpression.newExprId)
      def keyAttr(e: Expression): Option[Attribute] =
        normEx(e, leafOut).flatMap { n =>
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
        val gKeys = gExprs.map { case Alias(e, _) => e; case e => e }
          .flatMap(keyAttr)
        gKeys.length == gExprs.length && gKeys.nonEmpty &&
          gKeys.map(_.exprId).distinct.length == p.keyNorms.length
      }
      def mergeCnt(a: Attribute): Expression =
        if (exactKeys) a
        else Coalesce(Seq(complete(Sum(a)), Literal(0L)))
      def sumLong(a: Attribute): Expression = mergeCnt(a)
      def mergeSum(a: Attribute): Expression =
        if (exactKeys) a else complete(Sum(a))
      def mergeMin(a: Attribute): Expression =
        if (exactKeys) a else complete(Min(a))
      def mergeMax(a: Attribute): Expression =
        if (exactKeys) a else complete(Max(a))
      def measureIdx(e: Expression): Option[Int] =
        normEx(e, leafOut).flatMap { n =>
          val i = p.measureNorms.indexOf(n)
          if (i >= 0) Some(i) else None
        }
      var ok = true
      val dbg = java.lang.Boolean.getBoolean("graft.proj.debug")
      def fail(orig: Expression): Expression = {
        if (dbg) println(s"[proj-debug] rewrite FAIL on: $orig (${orig.getClass})")
        ok = false; orig
      }
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
          case s: Sum =>
            measureIdx(s.child).flatMap(i => attr(s"__sum_e$i"))
              .map(a => mergeSum(a)).getOrElse(fail(ae))
          case m: Min =>
            measureIdx(m.child).flatMap(i => attr(s"__min_e$i"))
              .map(a => mergeMin(a)).getOrElse(fail(ae))
          case m: Max =>
            measureIdx(m.child).flatMap(i => attr(s"__max_e$i"))
              .map(a => mergeMax(a)).getOrElse(fail(ae))
          // any_value/first re-merges as the min state: the contract is
          // "some value from the group", and the group's minimum is one
          // (observably different from the unrouted pick — gated by
          // [[routeNondeterministic]])
          case f: org.apache.spark.sql.catalyst.expressions.aggregate.First
              if routeNondeterministic =>
            measureIdx(f.child).flatMap(i => attr(s"__min_e$i"))
              .map(a => mergeMin(a)).getOrElse(fail(ae))
          // the replacement is Double-typed; an Average whose result type
          // differs (DecimalType measures — avg over decimal returns
          // decimal) must NOT route, or the routed query would silently
          // change result type/precision. (Decimal measures carry no
          // __sum state either — summable() excludes them — so this
          // guard is belt-and-braces on top of that.)
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
          case h: HyperLogLogPlusPlus
              if h.relativeSD >= 0.02 && routeNondeterministic =>
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
      val newGrouping = gExprs.map {
        case Alias(e, _) => keyAttr(e).getOrElse {
          if (dbg) println(s"[proj-debug] no key attr for grouping $e")
          return None
        }
        case e => keyAttr(e).getOrElse {
          if (dbg) println(s"[proj-debug] no key attr for grouping $e")
          return None
        }
      }
      // preserve the ORIGINAL output identity (name + exprId) on every
      // top-level expression: a bare grouping attribute rewrites to the
      // state's __key_i attr, and leaving it bare would change this
      // node's output ids — any parent referencing the original column
      // (a view, a subquery, a checksum wrapper) would fail to bind
      // (surfaced by the r14 q40 identity probe)
      val newAggExprs = aExprs.map(ne => rewriteOne(ne) match {
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
        if (!r.references.subsetOf(outSet)) {
          if (dbg) println(s"[proj-debug] residual not key-only: $c")
          return None
        }
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

    /** Per-function state rewrite; None if any aggregate in the list is
      * outside the supported family. */
    private def rewriteAggExprs(
        agg: Aggregate, p: AggProjDef,
        exact: Boolean = false): Option[Seq[NamedExpression]] = {
      val out = p.projPlan.output
      def st(prefix: String, m: String): Option[Attribute] =
        out.find(_.name == s"__${prefix}_${m.toLowerCase}")
      val cntAttr = out.find(_.name == "__cnt").getOrElse(return None)
      def complete(fn: org.apache.spark.sql.catalyst.expressions.aggregate
          .AggregateFunction): AggregateExpression =
        AggregateExpression(fn, Complete, isDistinct = false, None,
          NamedExpression.newExprId)
      // counts re-merge as sums; Coalesce keeps count's non-null
      // contract on empty input (Sum over zero rows is null, count is 0).
      // Under `exact` (grouping == full key tuple — each state row is a
      // final group) every re-merge is the state column itself and the
      // caller plans a Project instead of an Aggregate.
      def sumLong(a: Attribute): Expression =
        if (exact) a else Coalesce(Seq(complete(Sum(a)), Literal(0L)))
      def mergeSum(a: Attribute): Expression =
        if (exact) a else complete(Sum(a))
      def mergeMin(a: Attribute): Expression =
        if (exact) a else complete(Min(a))
      def mergeMax(a: Attribute): Expression =
        if (exact) a else complete(Max(a))
      var ok = true
      def fail(orig: Expression): Expression = { ok = false; orig }
      def measureAttr(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference
            if p.measures.contains(a.name.toLowerCase) => Some(a)
        case _ => None
      }
      val rewritten = agg.aggregateExpressions.map { ne =>
        ne.transformUp {
          case ae: AggregateExpression
              if ae.isDistinct || ae.filter.nonEmpty => fail(ae)
          case ae: AggregateExpression => ae.aggregateFunction match {
            case c: Count if c.children.forall {
                  case Literal(v, _) => v != null; case _ => false } =>
              sumLong(cntAttr)
            case c: Count if c.children.size == 1 =>
              measureAttr(c.children.head)
                .flatMap(a => st("cntnn", a.name)).map(sumLong)
                .getOrElse(fail(ae))
            case s: Sum =>
              measureAttr(s.child).flatMap(a => st("sum", a.name))
                .map(sa => mergeSum(sa)).getOrElse(fail(ae))
            case m: Min =>
              measureAttr(m.child).flatMap(a => st("min", a.name))
                .map(ma => mergeMin(ma)).getOrElse(fail(ae))
            case m: Max =>
              measureAttr(m.child).flatMap(a => st("max", a.name))
                .map(ma => mergeMax(ma)).getOrElse(fail(ae))
            // Double-typed replacement only (see rewriteExprAgg's guard):
            // a decimal-typed avg must keep its decimal result unrouted
            case a: Average if ae.dataType == DoubleType =>
              (for (ma <- measureAttr(a.child);
                    sa <- st("sum", ma.name); ca <- st("cntnn", ma.name))
                yield {
                  // exact-integer partial sums divided once: at least as
                  // accurate as Average's running double sum
                  val n = sumLong(ca)
                  If(EqualTo(n, Literal(0L)),
                    Literal.create(null, DoubleType),
                    new Divide(Cast(mergeSum(sa), DoubleType),
                      Cast(sumLong(ca), DoubleType))): Expression
                }).getOrElse(fail(ae))
            case h: HyperLogLogPlusPlus
                if h.relativeSD >= 0.02 && routeNondeterministic =>
              // lgK=12 union estimate (~1.6 % rsd) replaces an HLL++
              // estimate whose requested error is coarser — approximate
              // in, approximate out, same contract as uniqMerge
              measureAttr(h.child).flatMap(a => st("hll", a.name))
                .map(ha => Coalesce(Seq(
                  if (exact) HllSketchEstimate(ha)
                  else HllSketchEstimate(complete(new HllUnionAgg(ha))),
                  Literal(0L))): Expression)
                .getOrElse(fail(ae))
            case _ => fail(ae)
          }
        }.asInstanceOf[NamedExpression]
      }
      // the exact path plans a Project — refuse if any aggregate survived
      if (ok && exact &&
          rewritten.exists(_.exists(_.isInstanceOf[AggregateExpression])))
        return None
      if (ok) Some(rewritten) else None
    }

    private def route(agg: Aggregate,
                      groupingExprs: Seq[org.apache.spark.sql.catalyst
                        .expressions.Expression],
                      child: LogicalPlan): Option[LogicalPlan] = {
      val leaf = leafOf(child).getOrElse(return None)
      val gNames = groupingAttrNames(groupingExprs)
      // every attribute referenced above the leaf (in the agg's own
      // expressions or anywhere in the child chain) must be carried
      val refs = AttributeSet(
        agg.expressions.flatMap(_.references) ++
          child.collect { case n => n.references }.flatten)
      val needed: Seq[Attribute] = leaf.output.filter(refs.contains)
      val neededNames = needed.map(_.name.toLowerCase).toSet
      // The projection is derived from the base DataFrame's lineage, so
      // its output attributes carry the SAME exprIds as the base leaf's
      // — the swap needs no alias layer (and a self-alias breaks the
      // in-memory scan planner). Route only when every needed attribute
      // is present by id; a projection registered from an unrelated
      // lineage simply never routes.
      val chosen = registry.asScala.find { p =>
        p.baseLeafCanonical == leaf.canonicalized &&
          p.partitionCols.forall(gNames) &&
          neededNames.subsetOf(p.carried) &&
          needed.forall(o => p.projPlan.outputSet.contains(o))
      }.getOrElse(return None)
      val newLeaf = Project(needed, chosen.projPlan)
      Some(agg.copy(child = child.transformUp {
        case l if l eq leaf => newLeaf
      }))
    }
  }
}
