package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Projections

/** Expression-keyed, filtered aggregate projections — the reference's
  * AggregatingMergeTree MV in its general form (a SELECT that computes
  * expressions and carries a WHERE). The rewrite must be invisible:
  * identical results to the un-routed plan, exact filter-conjunct
  * matching (a query with a different WHERE must NOT route), subset
  * grouping roll-up, and refusal outside the supported function family.
  */
class ExprAggProjectionSpec extends AnyFunSuite {
  import TestSpark._

  private def routed(df: DataFrame): Boolean =
    Projections.usesAggProjection(df)

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def makeBase(): DataFrame = {
    val df = spark.range(30000).select(
      concat(lit("http://d"), col("id") % 13, lit(".org/p"), col("id") % 5)
        .as("url"),
      when(col("id") % 9 === 0, lit("")).otherwise(concat(lit("r"), col("id") % 7))
        .as("ref"),
      (col("id") % 100).cast("long").as("v"))
      .persist()
    df.count()
    df
  }

  test("expression key + baked filter: routed result matches the base scan") {
    val base = makeBase()
    def q: DataFrame = base
      .filter(col("ref") =!= "")
      .groupBy(substring(col("url"), 8, 3).as("key"))
      .agg(avg(length(col("ref"))).as("l"), count(lit(1)).as("c"),
        min(col("ref")).as("anyr"))
    val exact = rows(q)
    assert(!routed(q), "query routed before any registration")
    Projections.registerAggExpr(spark, base,
      keys = Seq(substring(col("url"), 8, 3)),
      measures = Seq(length(col("ref")), col("ref")),
      where = Seq(col("ref") =!= ""))
    try {
      assert(routed(q), "agg did not route to the expression state table")
      assert(rows(q) == exact, "routed result diverges from base scan")
    } finally Projections.clear()
  }

  test("any_value over a measure routes (min state is a legitimate any)") {
    val base = makeBase()
    Projections.registerAggExpr(spark, base,
      keys = Seq(substring(col("url"), 8, 3)),
      measures = Seq(col("ref")),
      where = Nil)
    try {
      val q = base.groupBy(substring(col("url"), 8, 3).as("key"))
        .agg(any_value(col("ref")).as("a"), count(lit(1)).as("c"))
      assert(routed(q), "any_value did not route")
      // the returned value must be SOME ref of the group
      val vals = q.collect().map(_.getAs[String]("a"))
      assert(vals.forall(v => v == "" || v.startsWith("r")))
    } finally Projections.clear()
  }

  test("a different WHERE must not route; an unsupported agg must not route") {
    val base = makeBase()
    Projections.registerAggExpr(spark, base,
      keys = Seq(substring(col("url"), 8, 3)),
      measures = Seq(col("v")),
      where = Seq(col("ref") =!= ""))
    try {
      val wrongWhere = base.filter(col("ref") =!= "r1")
        .groupBy(substring(col("url"), 8, 3).as("key"))
        .agg(sum(col("v")).as("s"))
      assert(!routed(wrongWhere), "routed despite a different baked filter")
      val noWhere = base.groupBy(substring(col("url"), 8, 3).as("key"))
        .agg(sum(col("v")).as("s"))
      assert(!routed(noWhere), "routed despite a missing baked filter")
      val unsupported = base.filter(col("ref") =!= "")
        .groupBy(substring(col("url"), 8, 3).as("key"))
        .agg(expr("percentile_approx(v, 0.5)").as("p"))
      assert(!routed(unsupported), "routed an unsupported aggregate")
    } finally Projections.clear()
  }

  test("SQL text with HAVING + ORDER BY routes and matches (q29 shape)") {
    val base = makeBase()
    base.createOrReplaceTempView("eb")
    val sql = """SELECT substring(url, 8, 3) AS key,
                 avg(length(ref)) AS l, count(*) AS c
                 FROM eb WHERE ref != '' GROUP BY key
                 HAVING count(*) > 10 ORDER BY l DESC, key LIMIT 5"""
    val exact = spark.sql(sql).collect().map(_.toString).toSeq
    Projections.registerAggExpr(spark, base,
      keys = Seq(substring(col("url"), 8, 3)),
      measures = Seq(length(col("ref")), col("ref")),
      where = Seq(col("ref") =!= ""))
    try {
      val q = spark.sql(sql)
      assert(routed(q), "SQL-text query did not route")
      assert(q.collect().map(_.toString).toSeq == exact)
    } finally Projections.clear()
  }

  test("residual key-only filter routes as a state-table filter (MV date-window shape)") {
    val base = makeBase()
    // state keyed on (key, v): a query's extra range filter on v is
    // constant within each state group — filtering state rows == filtering
    // base rows, the reference's (group cols, EventDate) MV pattern
    Projections.registerAggExpr(spark, base,
      keys = Seq(substring(col("url"), 8, 3), col("v")),
      measures = Seq(length(col("ref"))),
      where = Seq(col("ref") =!= ""))
    try {
      def q: DataFrame = base
        .filter(col("ref") =!= "" && col("v") >= 10 && col("v") <= 50)
        .groupBy(substring(col("url"), 8, 3).as("key"))
        .agg(count(lit(1)).as("c"), avg(length(col("ref"))).as("l"))
      assert(routed(q), "residual key-range query did not route")
      Projections.clear()
      val exact = rows(q) // same query, unrouted
      Projections.registerAggExpr(spark, base,
        keys = Seq(substring(col("url"), 8, 3), col("v")),
        measures = Seq(length(col("ref"))),
        where = Seq(col("ref") =!= ""))
      assert(routed(q))
      assert(rows(q) == exact, "routed result diverges under residual filter")
    } finally Projections.clear()
  }

  test("residual filter on a non-key must not route (needs base rows)") {
    val base = makeBase()
    Projections.registerAggExpr(spark, base,
      keys = Seq(substring(col("url"), 8, 3)),
      measures = Seq(col("v")),
      where = Nil)
    try {
      // v is a measure, not a key: a v-predicate filters WITHIN groups,
      // which pre-merged state cannot express
      val q = base.filter(col("v") > 50)
        .groupBy(substring(col("url"), 8, 3).as("key"))
        .agg(sum(col("v")).as("s"))
      assert(!routed(q), "routed a residual filter on a non-key column")
    } finally Projections.clear()
  }

  test("ingest-path invalidation rebuilds the expression state") {
    val dir = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"), "graft_expragg_inv").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    spark.range(100).select(concat(lit("a"), col("id") % 3).as("g"),
      col("id").cast("long").as("v")).write.parquet(dir)
    val base = spark.read.parquet(dir)
    Projections.registerAggExpr(spark, base,
      keys = Seq(upper(col("g"))), measures = Seq(col("v")), where = Nil)
    try {
      def q = base.groupBy(upper(col("g")).as("k")).agg(sum(col("v")).as("s"))
      assert(routed(q))
      val before = q.collect().map(_.getAs[Long]("s")).sum
      spark.range(100, 200).select(concat(lit("a"), col("id") % 3).as("g"),
        col("id").cast("long").as("v")).write.mode("append").parquet(dir)
      Projections.invalidatePath(dir)
      val after = q.collect().map(_.getAs[Long]("s")).sum
      assert(after == (0L until 200L).sum,
        s"stale state after ingest: $before -> $after")
    } finally {
      Projections.clear()
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("coalesceTo=1 state routes exchange-free: subset roll-up + ORDER BY in one stage") {
    val base = makeBase()
    // bounded-key state (13 urls x 7 refs); subset grouping + a global
    // sort would otherwise plan a hash exchange AND a range exchange
    def q: DataFrame = base
      .filter(col("ref") =!= "")
      .groupBy(substring(col("url"), 8, 3).as("key"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("key"))
    val exact = q.collect().map(_.toString).toSeq
    Projections.registerAggExpr(spark, base,
      keys = Seq(substring(col("url"), 8, 3), col("ref")),
      measures = Nil,
      where = Seq(col("ref") =!= ""),
      coalesceTo = Some(1))
    try {
      assert(routed(q), "subset roll-up did not route")
      val exchanges = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"SinglePartition state must satisfy every distribution; found: $exchanges")
      assert(q.collect().map(_.toString).toSeq == exact,
        "single-partition routed result diverges")
    } finally Projections.clear()
  }

  test("avg over a decimal measure must not route (result type would change)") {
    val base = spark.range(1000).select(
      (col("id") % 5).as("g"),
      (col("id") % 97).cast("decimal(38,2)").as("d"))
      .persist()
    base.count()
    def q: DataFrame = base.groupBy(col("g")).agg(avg(col("d")).as("a"))
    val exact = q.collect().map(_.toString).toSet
    Projections.registerAggExpr(spark, base,
      keys = Seq(col("g")), measures = Seq(col("d")))
    try {
      // count/min/max over the decimal measure still route...
      val qOk = base.groupBy(col("g"))
        .agg(count(col("d")).as("c"), min(col("d")).as("mn"))
      assert(routed(qOk), "count/min over decimal measure should route")
      // ...but avg must NOT: Spark's avg(decimal) returns decimal, and the
      // state rewrite would emit a Double — silent type/precision change
      assert(!routed(q), "decimal avg routed: result type would change")
      assert(q.schema("a").dataType.isInstanceOf[
        org.apache.spark.sql.types.DecimalType])
      assert(q.collect().map(_.toString).toSet == exact)
    } finally Projections.clear()
  }

  test("full-key grouping over an expression-keyed state eliminates the " +
      "aggregate and matches the base scan (residual key filter kept)") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // url must be NON-nullable here (bitwiseAND, not %, in its lineage):
    // a nullable url under the residual `length(url) > 14` makes the
    // optimizer infer IsNotNull(url), and url itself is not a key — the
    // route then rightly refuses (the refusal path has its own test);
    // this test wants the residual to actually route
    val base = spark.range(30000).select(
      concat(lit("http://d"), col("id").bitwiseAND(15), lit(".org/p"),
        col("id").bitwiseAND(3)).as("url"),
      when(col("id") % 9 === 0, lit("")).otherwise(concat(lit("r"), col("id") % 7))
        .as("ref"),
      (col("id") % 100).cast("long").as("v"))
      .persist()
    base.count()
    def q: DataFrame = base
      .filter(col("ref") =!= "")
      .groupBy(substring(col("url"), 8, 3).as("key"),
        length(col("url")).as("ul"))
      .agg(count(lit(1)).as("c"), sum(col("v")).as("sv"),
        avg(col("v")).as("av"))
    // residual key-only filter on top must still eliminate: the filter
    // partitions whole groups, i.e. selects whole state rows
    // urls are 16 or 17 bytes (d0..d15) — the threshold SELECTS a strict
    // subset of key groups, so a vacuously-true residual can't pass this
    def qf: DataFrame = base
      .filter(col("ref") =!= "" && length(col("url")) > 16)
      .groupBy(substring(col("url"), 8, 3).as("key"),
        length(col("url")).as("ul"))
      .agg(count(lit(1)).as("c"))
    val exact = rows(q)
    val exactF = rows(qf) // un-routed references, BEFORE registration
    Projections.registerAggExpr(spark, base,
      keys = Seq(substring(col("url"), 8, 3), length(col("url"))),
      measures = Seq(col("v")),
      where = Seq(col("ref") =!= ""))
    try {
      assert(routed(q), "full-key expression grouping did not route")
      assert(!q.queryExecution.optimizedPlan.exists(_.isInstanceOf[Aggregate]),
        "full-key grouping must plan a Project over state rows")
      assert(rows(q) == exact, "eliminated plan diverges from base scan")
      assert(routed(qf))
      assert(!qf.queryExecution.optimizedPlan.exists(_.isInstanceOf[Aggregate]))
      assert(rows(qf) == exactF)
      // subset grouping keeps the roll-up
      def qs: DataFrame = base.filter(col("ref") =!= "")
        .groupBy(substring(col("url"), 8, 3).as("key"))
        .agg(count(lit(1)).as("c"))
      assert(routed(qs))
      assert(qs.queryExecution.optimizedPlan.exists(_.isInstanceOf[Aggregate]))
    } finally Projections.clear()
  }
}
