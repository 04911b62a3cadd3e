package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Coverage extras: remaining window functions (first/last/nth value),
  * the reference benchmark's wide-aggregation shape (BASELINE Q30: many
  * sums in one pass), scalar subqueries (daisy TreeRewriter
  * executeScalarSubqueries), and GLOBAL IN via broadcast. */
object Extras extends QueryModule {

  def queries: Map[String, Q] = Map(
    // first_value / last_value / nth_value over a full-frame window.
    "q_window_value_funcs" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .withColumn("first_key", first(col("o_orderkey")).over(w))
        .withColumn("last_key", last(col("o_orderkey")).over(w))
        .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("first_key"),
                col("last_key"), col("second_key"))
    }),

    // Q30-class: one scan, many aggregates (exercises wide partial-agg
    // buffers — the reference's 90-sums-in-one-pass benchmark shape).
    "q_wide_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sums = (1 to 12).map { i =>
        round(sum(when(col("l_partkey") % 12 === (i - 1), col("l_extendedprice"))), 2)
          .as(s"sum_bucket_$i")
      }
      li.agg(sums.head, sums.tail :+ count(lit(1)).as("n_rows"): _*)
    }),

    // scalar subquery: rows above the global average price.
    "q_scalar_subquery" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val avgPrice = li.agg(avg(col("l_extendedprice")).as("ap"))
      li.crossJoin(broadcast(avgPrice))
        .filter(col("l_extendedprice") > col("ap") * 1.8)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(min(col("l_extendedprice")), 2).as("min_price"))
    }),

    // Sharding-key placement compatibility (daisy FunctionsHashing.h —
    // cityHash64 is the default Distributed sharding key, sipHash64 the
    // keyed alternative): rows sharded by pmod(cityHash64(key), 8) here
    // land on the same shard as in the reference. Hash values are
    // bit-checked against a literal-vector oracle (DuckDB has neither
    // hash; CityHashSpec/SipHashSpec hold the upstream vectors).
    "q_shard_key" -> ((s, dir) => {
      import graft.functions.GraftScalar.{cityhash64, halfmd5, murmurhash2_64, siphash64}
      import org.apache.spark.sql.functions.call_function
      val key = col("c_custkey").cast("string")
      t(s, dir, "customer")
        .filter(col("c_custkey").between(1, 8))
        .select(col("c_custkey"),
          cityhash64(key).as("city_h"),
          siphash64(key).as("sip_h"),
          halfmd5(key).as("md5half_h"),
          murmurhash2_64(key).as("murmur_h"),
          call_function("murmurhash2_32", key).as("murmur32_h"),
          pmod(cityhash64(key), lit(8)).cast("long").as("shard"))
    }),

    // Alternate-layout projection + automatic routing (daisy keeps
    // same-rows/other-order copies as materialized views,
    // src/Storages/StorageMaterializedView.cpp; graft routes in the
    // optimizer — plans/Projections.scala). The GROUP BY o_custkey agg
    // below is served by the o_custkey-partitioned projection without a
    // shuffle (asserted in PlanSpec); the oracle runs on the BASE table,
    // so hash-equality proves the routed rewrite is semantics-preserving.
    "q_projection_route" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
      graft.plans.Projections.register(s, base,
        Seq("o_custkey"), Seq("o_custkey", "o_totalprice"))
      base.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .filter(col("o_custkey") <= 300)
    }),

    // AGGREGATE projection + automatic routing (daisy AggregatingMergeTree
    // materialized views, src/Storages/MergeTree/registerStorageMergeTree
    // .cpp + AggregateFunctionMerge.cpp: per-key partial state finished
    // with -Merge combinators). The GROUP BY below re-aggregates the
    // registered per-priority state — sum of sums, min of mins — instead
    // of scanning base rows (shape asserted in PlanSpec); the oracle runs
    // on the BASE table, so hash-equality proves the state rewrite exact.
    "q_projection_agg_route" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_custkey"), col("o_totalprice"))
      graft.plans.Projections.registerAggExpr(s, base,
        keys = Seq(col("o_orderpriority")),
        measures = Seq(col("o_totalprice"), col("o_custkey")))
      base.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          count(col("o_totalprice")).as("n_priced"),
          round(sum(col("o_totalprice")), 2).as("total"),
          round(avg(col("o_totalprice")), 2).as("avg_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_custkey")).as("first_cust"))
    }),

    // GLOBAL IN (broadcast set membership — daisy
    // InJoinSubqueriesPreprocessor): small key set broadcast to all tasks.
    "q_global_in" -> ((s, dir) => {
      val hotParts = t(s, dir, "part")
        .filter(col("p_type") === "PROMO").select(col("p_partkey"))
      t(s, dir, "lineitem")
        .join(broadcast(hotParts), col("l_partkey") === col("p_partkey"), "left_semi")
        .agg(count(lit(1)).as("n_promo_lines"),
             round(sum(col("l_extendedprice")), 2).as("promo_revenue"))
    }))

  def oracles: Map[String, String] = Map(
    // Literal-vector oracle: values from the pristine public CityHash
    // 1.0.2 / SipHash-2-4 implementations (see CityHashSpec); the join
    // against customer keeps the row set honest (a missing key fails).
    "q_shard_key" ->
      """SELECT c.c_custkey, v.city_h, v.sip_h, v.md5half_h, v.murmur_h,
        |  v.murmur32_h, v.shard
        |FROM customer c
        |JOIN (VALUES
        |  (1, -7033283626417106703, 5003827105613308882, -4266524885998034046, 746762829127501960, 1228156847, 1),
        |  (2, -974149032703449225, -6997198735350404217, -4026655064267673757, 602994839685422785, 772897149, 7),
        |  (3, -7171393999769757590, 3672830208859661989, -1383792015730482434, -3266576381013309554, 2292183779, 2),
        |  (4, 2169371982377735806, 5406800756778728304, -6305049951010035939, 2090661578966068036, 873905602, 6),
        |  (5, -2305045263268298267, -3965718763787747005, -1956185668341324987, -1703000253499410570, 1598865363, 5),
        |  (6, -8343369942190246627, 1609946449970207933, 1619335558399004591, 2462676316711722248, 1503201697, 5),
        |  (7, 5566429635965498611, 8255655750251093705, -8136627526607169926, -7446916648201533712, 3657602018, 3),
        |  (8, -3538524045097112010, 8491335656787965458, -3895340354620576879, 1819085394523955522, 194571672, 6))
        |  AS v(c_custkey, city_h, sip_h, md5half_h, murmur_h, murmur32_h, shard)
        |ON c.c_custkey = v.c_custkey""".stripMargin,

    "q_window_value_funcs" ->
      """SELECT o_custkey, o_orderkey,
        | first_value(o_orderkey) OVER w AS first_key,
        | last_value(o_orderkey) OVER w AS last_key,
        | nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,

    "q_wide_agg" -> {
      val sums = (1 to 12).map { i =>
        s"round(sum(CASE WHEN l_partkey % 12 = ${i - 1} THEN l_extendedprice END),2) AS sum_bucket_$i"
      }.mkString(",\n ")
      s"SELECT $sums,\n count(*) AS n_rows FROM lineitem"
    },

    "q_scalar_subquery" ->
      """SELECT l_returnflag, count(*) AS n, round(min(l_extendedprice),2) AS min_price
        |FROM lineitem
        |WHERE l_extendedprice > (SELECT avg(l_extendedprice) FROM lineitem) * 1.8
        |GROUP BY l_returnflag""".stripMargin,

    "q_global_in" ->
      """SELECT count(*) AS n_promo_lines, round(sum(l_extendedprice),2) AS promo_revenue
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type='PROMO')""".stripMargin,

    "q_projection_route" ->
      """SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_custkey <= 300 GROUP BY o_custkey""".stripMargin,

    "q_projection_agg_route" ->
      """SELECT o_orderpriority, count(*) AS n, count(o_totalprice) AS n_priced,
        | round(sum(o_totalprice), 2) AS total,
        | round(avg(o_totalprice), 2) AS avg_price,
        | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        | min(o_custkey) AS first_cust
        |FROM orders GROUP BY o_orderpriority""".stripMargin)
}
