package graft

import org.apache.spark.sql.SparkSession

/** Result-identity A/B for the hits-suite projection routes: each probe
  * aggregation runs once with the BenchHits projection tier registered
  * (routed) and once against the raw table (unrouted), comparing
  * group count + count-sum + an order-independent key checksum. The
  * suite's own LIMIT-10 queries tie heavily at 10 M rows (near-unique
  * key tuples, all c=1), so the probes wrap the same GROUP BY shapes in
  * deterministic whole-result checksums instead of comparing an
  * arbitrary tie cut. Exits non-zero on any mismatch.
  * Usage: runMain graft.BenchHitsCheck
  */
object BenchHitsCheck {

  // (name, aggregation SQL producing columns k… and cnt) — the checksum
  // wrapper is applied around each
  private val probes: Seq[(String, String)] = Seq(
    // q33: unfiltered (WatchID, ClientIP) — the widened ClientIP copy
    "q33_watchid_clientip" ->
      ("SELECT WatchID, ClientIP, count(*) AS cnt, sum(Refresh) AS sr, " +
        "avg(ResolutionWidth) AS ar FROM hits GROUP BY WatchID, ClientIP"),
    // q32: same keys under the SearchPhrase filter
    "q32_filtered" ->
      ("SELECT WatchID, ClientIP, count(*) AS cnt, sum(Refresh) AS sr, " +
        "avg(ResolutionWidth) AS ar FROM hits WHERE SearchPhrase != '' " +
        "GROUP BY WatchID, ClientIP"),
    // q34/q35: GROUP BY URL — the URL count state
    "q34_url" ->
      "SELECT URL, count(*) AS cnt FROM hits GROUP BY URL",
    // q36: pure per-ClientIP — the copy's original consumer
    "q36_clientip" ->
      ("SELECT ClientIP, count(*) AS cnt, sum(Refresh) AS sr, " +
        "avg(ResolutionWidth) AS ar FROM hits GROUP BY ClientIP"),
    // q21: global count under a LIKE filter on the state's KEY column —
    // the aggregate-state route (Projections.AggStateProj) applies the
    // predicate to state rows as a residual key-only conjunct (a
    // key-column filter partitions whole groups, so sum(cnt) over
    // matching keys is exact)
    "q21_like_count" ->
      "SELECT count(*) AS cnt FROM hits WHERE URL LIKE '%metrika%'",
    // q40: the FULL 5-tuple group-by over the baked ctr62/July/Refresh
    // slice — exact-key elimination routes it to a Project over the
    // state (no re-aggregation), so the whole result must bit-match the
    // raw aggregation
    "q40_fullkey_state" ->
      ("SELECT TraficSourceID, SearchEngineID, AdvEngineID, " +
        "IF(SearchEngineID = 0 AND AdvEngineID = 0, Referer, '') AS Src, " +
        "URL AS Dst, count(*) AS cnt FROM hits WHERE CounterID = 62 " +
        "AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31' " +
        "AND Refresh = 0 " +
        "GROUP BY TraficSourceID, SearchEngineID, AdvEngineID, Src, Dst"),
    // q37/q38: full-key URL / Title states with the month window baked
    // (exact-key elimination, r16) — entire grouped results must
    // bit-match the raw aggregation
    "q37_url_fullkey_state" ->
      ("SELECT URL, count(*) AS cnt FROM hits WHERE CounterID = 62 " +
        "AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31' " +
        "AND DontCountHits = 0 AND Refresh = 0 AND URL != '' " +
        "GROUP BY URL"),
    "q39_islink_fullkey_state" ->
      ("SELECT URL, count(*) AS cnt FROM hits WHERE CounterID = 62 " +
        "AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31' " +
        "AND Refresh = 0 AND IsLink = 1 AND IsDownload = 0 " +
        "GROUP BY URL"),
    "q38_title_fullkey_state" ->
      ("SELECT Title, count(*) AS cnt FROM hits WHERE CounterID = 62 " +
        "AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31' " +
        "AND DontCountHits = 0 AND Refresh = 0 AND Title != '' " +
        "GROUP BY Title"))

  private def checksum(spark: SparkSession, sql: String): String = {
    // order-independent whole-result digest: group count, total count,
    // and a sum of per-row hashes over every output column
    val inner = spark.sql(sql)
    val cols = inner.columns.map(c => s"`$c`").mkString(", ")
    inner.createOrReplaceTempView("__probe")
    val r = spark.sql(
      s"""SELECT count(*) AS groups, sum(cnt) AS total,
         |       bit_xor(xxhash64($cols)) AS rowhash
         |FROM __probe""".stripMargin).collect().head
    s"groups=${r.get(0)} total=${r.get(1)} rowhash=${r.get(2)}"
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.tune(spark)

    BenchHits.generate(spark)
    val hits = spark.read.parquet(BenchHits.DefaultPath)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hits.count()
    hits.createOrReplaceTempView("hits")
    graft.functions.GraftScalar.register(spark)
    graft.plans.TableStats.analyze(hits)
    graft.plans.SkipPartialAgg.register(spark)

    // pass 1: raw (no projections)
    val raw = probes.map { case (n, q) => n -> checksum(spark, q) }.toMap

    // pass 2: the full BenchHits projection tier
    BenchHits.registerProjections(spark, hits, BenchHits.HitsRows,
      BenchHits.DefaultPath)
    var failed = 0
    probes.foreach { case (n, q) =>
      val routedPlan =
        graft.plans.Projections.usesRowProjection(spark.sql(q)) ||
        graft.plans.Projections.usesAggProjection(spark.sql(q)) ||
        graft.plans.Projections.usesFilteredProjection(spark.sql(q))
      val got = checksum(spark, q)
      val ok = got == raw(n)
      if (!ok) failed += 1
      println(s"[check] $n routed=$routedPlan ${if (ok) "OK" else "MISMATCH"}" +
        s"\n        raw:    ${raw(n)}\n        routed: $got")
    }
    graft.plans.Projections.clear()
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
