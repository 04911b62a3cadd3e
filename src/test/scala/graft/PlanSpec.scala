package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TimeTable
import graft.sql.Search

/** Plan-quality audit: the physical plans we'd want at 100 TB, asserted.
  * These guard against regressions that stay correct but stop scaling
  * (lost pushdown, lost broadcast, partition pruning gone). */
class PlanSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1 scan pushes the shipdate filter and prunes columns") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    val plan = physical(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushed filter:\n$plan")
    // projection pruning: the scan schema must NOT include l_orderkey
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"unpruned scan: $readSchema")
  }

  test("dimension joins broadcast, never shuffle the fact side") {
    val df = SparkEntry.queries("q_join_multi")(spark, sf)
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("ordered limit compiles to TakeOrderedAndProject (partial top-k)") {
    val plan = physical(SparkEntry.queries("q_orderby_limit")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("asof join is a single shuffle (no join explosion)") {
    val df = SparkEntry.queries("q_asof_join")(spark, sf)
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"asof must not pair-explode:\n$plan")
    // REPARTITION_BY_NUM exchanges belong to the one-time events-cache
    // build (printed inside InMemoryRelation once materialized), not to
    // the asof operator under test.
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("REPARTITION_BY_NUM"))
    assert(exchanges <= 3, s"too many shuffles ($exchanges):\n$plan")
  }

  test("embedding near-dup is LSH-bucketed: no cross product in the plan") {
    val df = SparkEntry.queries("q_near_dup_embedding")(spark, sf)
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup must not pair-explode:\n$plan")
  }

  test("limit-with-ties avoids a global single-partition window") {
    val df = SparkEntry.queries("q_limit_with_ties")(spark, sf)
    val plan = physical(df)
    assert(!plan.contains("Window"), s"global window survived:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"no partial top-k:\n$plan")
  }

  test("aggregation is partial (map-side combine before shuffle)") {
    val plan = physical(SparkEntry.queries("q1_pricing_summary")(spark, sf))
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("time-partitioned table prunes partitions on bounded read") {
    val dir = tmp("tt_test")
    val events = Tables.load(spark, sf, "events").withColumnRenamed("ts", "_time")
    TimeTable.write(events, dir, granularity = TimeTable.Daily,
      orderBy = Seq("user_id"))
    val bounded = TimeTable.readBounded(spark, dir,
      "2024-01-10 00:00:00", "2024-01-12 00:00:00")
    val plan = physical(bounded)
    val partLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(partLine.contains("_time_bucket"), s"no partition filter:\n$plan")
    // only the 3 touched day-directories (10th, 11th, 12th boundary) scan
    val n = bounded.count()
    val expect = events.filter($"_time" >= "2024-01-10" && $"_time" < "2024-01-12").count()
    assert(n == expect)
  }

  /** A catalog with one `k bigint, _time timestamp` table per
    * granularity (H, D, M), each holding rows at, and 1 ms either side
    * of, hour, day and month edges in UTC and a Kolkata and a Los Angeles
    * midnight, ingested under the UTC session. */
  private lazy val pruneCatalog = {
    val c = new graft.rest.Catalog(spark, tmp("prune_catalog"))
    val data = PruneInstants.zipWithIndex.map { case (ms, k) => Seq(k.toString, utc(ms)) }
    Seq("H", "D", "M").foreach { g =>
      c.create(graft.rest.TableDef(s"prune_$g", Seq(graft.rest.ColumnDef("k", "bigint"),
        graft.rest.ColumnDef("_time", "timestamp")), Nil, g))
      c.ingest(s"prune_$g", Seq("k", "_time"), data)
    }
    c
  }

  /** Epoch ms of a UTC wall clock. */
  private def ms(t: String): Long = java.time.LocalDateTime.parse(t.replace(' ', 'T'))
    .toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  /** An hour, a day and a month bucket edge, the one of each granularity
    * that is not an edge of the coarser ones. */
  private val Edges = Map("H" -> ms("2024-02-01 01:00:00"),
    "D" -> ms("2024-02-02 00:00:00"), "M" -> ms("2024-03-01 00:00:00"))

  /** Every edge and 1 ms either side, Kolkata's and Los Angeles' March 1
    * midnights likewise, and twelve days nine days apart. */
  private val PruneInstants: Seq[Long] =
    ((Edges.values.toSeq ++ Seq(ms("2024-02-29 18:30:00"), ms("2024-03-01 08:00:00")))
      .flatMap(e => Seq(e - 1, e, e + 1)) ++
      (0 until 12).map(i => ms("2023-12-23 01:00:00") + i * 9L * 86400000L)).distinct

  /** `ms` as a UTC timestamp string with milliseconds. */
  private def utc(ms: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(ms))

  private def withZone[T](zone: String)(body: => T): T = {
    val was = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try body finally spark.conf.set("spark.sql.session.timeZone", was)
  }

  /** Files the scans of `df` read, after running it. */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    Plans.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }

  private def parquetFiles(dir: String): Int =
    org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir), Array("parquet"), true).size

  /** `_time_bucket` comparisons in the optimized plan of `df`. */
  private def bucketBounds(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(_.collect {
      case b: org.apache.spark.sql.catalyst.expressions.BinaryComparison
        if b.references.exists(_.name == TimeTable.BucketCol) => b
    }).size

  test("_time-bounded catalog reads prune buckets exactly in any session zone") {
    val c = pruneCatalog
    for (zone <- Seq("UTC", "Asia/Kolkata", "America/Los_Angeles")) withZone(zone) {
      c.registerViews()
      for ((g, e) <- Edges) {
        val t = s"prune_$g"
        // at the table's bucket edge and 1 ms either side: >, >=, <, <=,
        // =, BETWEEN and a flipped comparison with the UTC instant, >=
        // with the same wall clock read in the session zone (Kolkata's
        // and Los Angeles' midnights on the month edge), and a
        // timeBounded search of the hour from it
        val cases = for (v <- Seq(e - 1, e, e + 1)) yield {
          val at = s"TIMESTAMP '${utc(v)}Z'"
          val wheres = Seq(">", ">=", "<", "<=", "=").map(op => s"_time $op $at") ++ Seq(
            s"_time BETWEEN $at AND $at + INTERVAL 1 DAY", s"$at <= _time",
            s"_time >= TIMESTAMP '${utc(v)}'")
          val (lo, hi) = (utc(v), utc(v + 3600000L))
          wheres.map(w => w -> spark.sql(s"SELECT k FROM $t WHERE $w")) :+
            (s"_time >= '$lo' AND _time < '$hi'" ->
              Search.timeBounded(spark, s"SELECT k, _time FROM $t", lo, hi, limit = 0))
        }
        val all = cases.flatten.zipWithIndex
        assert(all.forall { case ((_, df), _) => bucketBounds(df) > 0 }, s"$zone $t")
        val got = all.map { case ((_, df), i) => df.select(lit(i).as("q"), col("k")) }
          .reduce(_ union _).collect().groupBy(_.getInt(0))
        // the oracle: each filter over a plain read of the directory
        val want = spark.read.parquet(s"${c.rootDir}/$t")
          .select(col("k") +: all.map { case ((w, _), i) => expr(w).as(s"p$i") }: _*)
          .collect()
        all.foreach { case ((w, _), i) =>
          val pruned = got.getOrElse(i, Array.empty).map(_.getLong(1)).sorted.toSeq
          val plain = want.filter(_.getBoolean(i + 1)).map(_.getLong(0)).sorted.toSeq
          assert(pruned == plain, s"$zone $t WHERE $w")
        }
      }
    }
  }

  test("bucket pruning fires on _time bounds only: not under OR, not on an empty table") {
    val c = pruneCatalog
    c.registerViews()
    val files = parquetFiles(s"${c.rootDir}/prune_D")
    assert(files > 4, s"$files files")
    val bounded = spark.sql("SELECT k FROM prune_D WHERE _time >= '2024-02-29 12:00:00' " +
      "AND _time < '2024-03-01 12:00:00'")
    assert(bucketBounds(bounded) == 2 && filesRead(bounded) == 2,
      bounded.queryExecution.executedPlan.toString)
    val timed = Search.timeBounded(spark, "SELECT k, _time FROM prune_D",
      "2024-02-01 00:00:00", "2024-02-02 00:00:00", limit = 0)
    assert(filesRead(timed) == 2 && timed.count() == 4)
    val or = spark.sql("SELECT k FROM prune_D WHERE _time >= '2024-03-01 00:00:00' OR k = 0")
    assert(bucketBounds(or) == 0 && filesRead(or) == files)
    // a filter already on the bucket gains no bound of its own
    val byBucket = spark.read.option(TimeTable.UnitOption, "day")
      .parquet(s"${c.rootDir}/prune_D")
      .where(s"${TimeTable.BucketCol} >= '2024-03-01-00' AND _time >= '2024-01-01 00:00:00'")
    assert(bucketBounds(byBucket) == 1, byBucket.queryExecution.optimizedPlan)
    // a table with no data is an empty local frame: nothing to prune
    c.create(graft.rest.TableDef("prune_empty", Seq(graft.rest.ColumnDef("k", "bigint")), Nil, "D"))
    c.registerViews()
    val empty = spark.sql("SELECT k FROM prune_empty WHERE _time >= '2024-03-01 00:00:00'")
    assert(empty.count() == 0 && bucketBounds(empty) == 0)
  }

  test("search time bounds push through the subquery to the scan") {
    Tables.load(spark, sf, "events").withColumnRenamed("ts", "_time")
      .createOrReplaceTempView("events_t")
    val df = Search.timeBounded(spark,
      "SELECT user_id, value, _time FROM events_t WHERE value > 10",
      "2024-01-05 00:00:00", "2024-01-06 00:00:00", limit = 0)
    val optimized = df.queryExecution.optimizedPlan.toString
    // both filters collapse into one Filter above the relation
    assert(optimized.linesIterator.count(_.trim.startsWith("Filter")) <= 1,
      s"filters not merged:\n$optimized")
  }

  test("shard-key hashes compute inside the scan projection — no shuffle") {
    val df = SparkEntry.queries("q_shard_key")(spark, sf)
    val plan = physical(df)
    assert(!plan.contains("Exchange"), s"sharding hash forced a shuffle:\n$plan")
    assert(plan.contains("PushedFilters"), plan)
  }

  test("IVF search scans only probed cells and top-ks without sorting all") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding").head.getSeq[Float](0)
    val (rawIndex, centers) = graft.operators.Ann.ivfIndex(
      emb, "vec_id", "embedding", nlist = 4)
    // the index MUST be materialized: unpersisted, Catalyst collapses the
    // cell assignment back into the scan and re-runs the quantizer model
    // per query (this assertion caught exactly that)
    val index = rawIndex.persist()
    try {
      index.count()
      val plan = physical(graft.operators.Ann.ivfTopK(index, centers, q, 5, nprobe = 1))
      assert(plan.contains("cell#"), s"no cell filter:\n$plan")
      assert(plan.contains("InMemoryTableScan"), s"index recomputed per query:\n$plan")
      assert(plan.contains("TakeOrderedAndProject"), s"full sort instead of top-k:\n$plan")
    } finally index.unpersist(): Unit
  }

  test("bucketed fact-fact join runs without exchange or sort before the join") {
    val df = SparkEntry.queries("q_join_bucketed")(spark, sf)
    val plan = physical(df)
    val joinIdx = plan.linesIterator.indexWhere(_.contains("SortMergeJoin"))
    assert(joinIdx >= 0, s"expected a sort-merge join:\n$plan")
    // nothing below the join may shuffle: both inputs are bucket-aligned
    val below = plan.linesIterator.drop(joinIdx).mkString("\n")
    assert(!below.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
  }

  test("pipe syntax paging and stages") {
    Tables.load(spark, sf, "events").withColumnRenamed("ts", "_time")
      .createOrReplaceTempView("events_t")
    val df = Search.pipe(spark,
      "events_t | where event_type = 'view' | select user_id, value | limit 5")
    assert(df.count() == 5)
    val paged = Search.timeBounded(spark, "SELECT * FROM events_t",
      "2024-01-01 00:00:00", "2024-02-01 00:00:00", limit = 10, offset = 5)
    assert(paged.count() == 10)
  }

  test("collapsing FINAL is one hash-aggregate pass: a single shuffle, no window, no join") {
    val df = SparkEntry.queries("q_engine_collapsing")(spark, sf)
    val plan = physical(df)
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), s"collapse must stay aggregate-only:\n$plan")
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("REPARTITION_BY_NUM"))
    assert(exchanges <= 1, s"collapse needs one shuffle, got $exchanges:\n$plan")
  }

  test("versioned collapsing plans one exchange shared by both window frames") {
    val df = SparkEntry.queries("q_engine_vercollapse")(spark, sf)
    val plan = physical(df)
    // net-sum and per-sign running count partition identically → Catalyst
    // reuses one hashpartitioning exchange for the Window stack.
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("REPARTITION_BY_NUM"))
    assert(exchanges <= 1, s"expected a single shared shuffle, got $exchanges:\n$plan")
  }

  test("quantized ANN search (SQ8) is scan + partial top-k: no shuffle, no join") {
    val df = SparkEntry.queries("q_ann_sq8_topk")(spark, sf)
    val plan = physical(df)
    assert(plan.contains("TakeOrderedAndProject"), s"no partial top-k:\n$plan")
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("REPARTITION_BY_NUM"))
    assert(exchanges == 0, s"SQ8 search must not shuffle the corpus:\n$plan")
  }

  test("decontamination semi-joins the corpus against a BROADCAST gram set") {
    val df = SparkEntry.queries("q_decontaminate")(spark, sf)
    val plan = physical(df)
    // the eval grams must arrive by broadcast: the corpus-side shingle
    // stream is never shuffled for the membership test
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"eval grams not broadcast-semi-joined:\n$plan")
  }

  test("sequence packing is one window pass per stream: a single exchange") {
    import graft.operators.{CorpusOps, TextAnalysis}
    val docs = graft.Tables.load(spark, sf, "documents")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val df = CorpusOps.packChunks(docs, "doc_id", size(col("toks")), "lang", 128)
    val plan = physical(df)
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("REPARTITION_BY_NUM"))
    assert(exchanges == 1, s"packing must shuffle once (by stream key):\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("IVFPQ search is probe-filter + scan + partial top-k: no shuffle, no join") {
    val df = SparkEntry.queries("q_ann_ivfpq_topk")(spark, sf)
    val plan = physical(df)
    assert(plan.contains("TakeOrderedAndProject"), s"no partial top-k:\n$plan")
    // the cell column is collapsed into the scan-side Filter (the probe
    // predicate evaluates inline — no materialized assignment pass)
    assert(plan.contains("Filter"), s"probe filter missing from plan:\n$plan")
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("REPARTITION_BY_NUM"))
    assert(exchanges == 0, s"IVFPQ search must not shuffle the corpus:\n$plan")
  }

  test("corpus pipeline: dedup window is the only pre-agg exchange; tokenizer not inlined into the filter") {
    val df = SparkEntry.queries("q_corpus_pipeline")(spark, sf)
    val plan = physical(df)
    assert(plan.contains("Window"), plan)
    // quality/sampling predicates sit ABOVE the window reading bound
    // attributes — a collapse regression would re-inline the tokenizer
    // (split/regexp_replace) into the Filter node
    val filterLines = plan.linesIterator.filter(_.trim.startsWith("+- Filter")).toSeq
    assert(filterLines.nonEmpty &&
        filterLines.forall(l => !l.contains("regexp_replace")),
      s"tokenizer inlined into a filter:\n$plan")
  }

  test("SkipPartialAgg fires from NDV stats for near-unique keys only") {
    import graft.plans.{SkipPartialAgg, TableStats}
    val df = spark.range(20000)
      .select(col("id").as("user_id"),           // near-unique
        (col("id") % 5).as("region_id"),          // low-card
        (col("id") % 3).cast("string").as("tag"))
    df.createOrReplaceTempView("stats_t")
    TableStats.analyze(df)
    Tables.tune(spark)
    try {
      def plan(sql: String): String =
        spark.sql(sql).queryExecution.executedPlan.toString
      // high-NDV key: Complete-mode agg after the exchange, no partial
      val hi = plan("SELECT user_id, count(*) FROM stats_t GROUP BY user_id")
      assert(!hi.contains("partial_count"), s"partial agg not skipped:\n$hi")
      // low-NDV key: classic partial-then-final
      val lo = plan("SELECT region_id, count(*) FROM stats_t GROUP BY region_id")
      assert(lo.contains("partial_count"), s"partial agg lost:\n$lo")
      // derived expression keys stay conservative (factor 1 → partial)
      val ex = plan(
        "SELECT substring(tag, 1, 1) AS t, count(*) FROM stats_t GROUP BY t")
      assert(ex.contains("partial_count"), s"expression key must not fire:\n$ex")
      // unanalyzed attributes veto entirely
      TableStats.clear()
      val un = plan("SELECT user_id, count(*) FROM stats_t GROUP BY user_id")
      assert(un.contains("partial_count"), s"unanalyzed stats must veto:\n$un")
    } finally {
      // clearing the stats makes the rule inert; the shared session keeps
      // the one install Tables.tune made for every later suite
      TableStats.clear()
      assert(spark.experimental.extraStrategies.count(_ == SkipPartialAgg) == 1)
    }
  }

  test("TableStats are identity-keyed: renames and other tables cannot cross-fire") {
    import graft.plans.{SkipPartialAgg, TableStats}
    val df = spark.range(20000)
      .select(col("id").as("user_id"), (col("id") % 4).as("region_id"))
    TableStats.analyze(df)
    Tables.tune(spark)
    try {
      def plan(q: DataFrame): String = q.queryExecution.executedPlan.toString
      // another table with the SAME column name, unanalyzed: veto
      val other = spark.range(64).select((col("id") % 2).as("user_id"))
      assert(plan(other.groupBy("user_id").agg(count(lit(1))))
        .contains("partial_count"), "foreign same-named column cross-fired")
      // the low-card column RENAMED to the high-card name: attribute
      // identity says 4 distinct values — a name-keyed lookup would have
      // borrowed user_id's 20000 NDV and wrongly skipped the partial agg
      val renamed = df.select(col("region_id").as("user_id"))
        .groupBy("user_id").agg(count(lit(1)))
      assert(plan(renamed).contains("partial_count"),
        "renamed low-card column borrowed the high-card name's stats")
      // sanity: the genuine high-card attribute still fires
      assert(!plan(df.groupBy("user_id").agg(count(lit(1))))
        .contains("partial_count"), "identity-keyed stats lost the hit")
      // re-registration evicts: an attribute absent from the new analyze
      // pass must veto again, not serve stale numbers
      TableStats.analyze(df, Seq("region_id"))
      assert(plan(df.groupBy("user_id").agg(count(lit(1))))
        .contains("partial_count"), "stale stats survived re-registration")
    } finally {
      // clearing the stats makes the rule inert; the shared session keeps
      // the one install Tables.tune made for every later suite
      TableStats.clear()
      assert(spark.experimental.extraStrategies.count(_ == SkipPartialAgg) == 1)
    }
  }

  test("projection routing: covered agg is shuffle-free, uncovered is not") {
    import graft.plans.Projections
    val base = spark.range(50000)
      .select((col("id") % 1000).as("k"), (col("id") % 7).as("v"),
        (col("id") % 13).as("w"))
      .persist()
    base.count()
    base.createOrReplaceTempView("proj_t")
    // ground truth computed BEFORE any projection exists
    val truth = base.groupBy(col("k")).agg(sum(col("v")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Projections.register(spark, base, Seq("k"), Seq("k", "v"))
    try {
      // exchange lines inside the projection's own cached build (its
      // InMemoryRelation subtree) are the layout, not a per-query shuffle
      def aboveCache(plan: String): Seq[String] =
        plan.linesIterator.takeWhile(l => !l.contains("InMemoryRelation")).toSeq
      val routed = spark.sql("SELECT k, sum(v) AS s FROM proj_t GROUP BY k")
      val rp = physical(routed)
      assert(!aboveCache(rp).exists(_.contains("Exchange")),
        s"covered agg still shuffles:\n$rp")
      val got = routed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == truth, "routed aggregation changed results")
      // w is not carried: the projection must NOT serve this query
      val un = physical(
        spark.sql("SELECT k, sum(w) FROM proj_t GROUP BY k"))
      assert(aboveCache(un).exists(_.contains("Exchange")),
        s"uncovered agg unexpectedly routed:\n$un")
      // grouping keys not covering the partition key: no route either
      val off = physical(
        spark.sql("SELECT v, sum(k) FROM proj_t GROUP BY v"))
      assert(aboveCache(off).exists(_.contains("Exchange")),
        s"non-covering grouping unexpectedly routed:\n$off")
    } finally {
      Projections.clear()
      base.unpersist(false)
    }
  }

  test("aggregate projection: gate query finishes from state, exchange-free") {
    import graft.plans.Projections
    try {
      val df = SparkEntry.queries("q_projection_agg_route")(spark, sf)
      val plan = physical(df)
      // the rewrite swapped base rows for the per-key state table
      assert(plan.contains("__cnt"),
        s"agg gate query did not route to the state table:\n$plan")
      // exact-key re-aggregation inherits the state build's partitioning:
      // exchanges inside the cached build are layout, not per-query cost
      val above = plan.linesIterator
        .takeWhile(l => !l.contains("InMemoryRelation")).toSeq
      assert(!above.exists(_.contains("Exchange")),
        s"state re-aggregation still shuffles:\n$plan")
    } finally Projections.clear()
  }
}
