package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Maintenance
import graft.sql.Search

class MaintenanceSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("TTL expiry removes only rows older than the cutoff") {
    val dir = "/root/repo/target/ttl_test"
    Tables.load(spark, sf, "events").withColumnRenamed("ts", "_time")
      .write.mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).count()
    val expectKept = spark.read.parquet(dir)
      .filter($"_time" >= "2024-01-15 00:00:00").count()
    val (kept, dropped) = Maintenance.expireOlderThan(
      spark, dir, "_time", "2024-01-15 00:00:00")
    assert(kept == expectKept && kept + dropped == before)
    assert(spark.read.parquet(dir).count() == kept)
    assert(spark.read.parquet(dir)
      .filter($"_time" < "2024-01-15 00:00:00").count() == 0)
  }

  test("TTL GROUP BY SET rolls expired rows up; any() takes the order-minimal row; NULL time survives") {
    val dir = "/root/repo/target/ttlagg_test"
    // (id, key, v, tag, t): key 1 has two expired rows + one survivor;
    // key 2 has one expired row; id 6 has NULL time (must never expire)
    Seq(
      (1L, 1L, 10.0, "a", Some("2020-01-01 00:00:00")),
      (2L, 1L, 20.0, "b", Some("2020-06-01 00:00:00")),
      (3L, 1L, 40.0, "c", Some("2024-01-01 00:00:00")),
      (4L, 2L, 5.0,  "d", Some("2019-01-01 00:00:00")),
      (5L, 3L, 7.0,  "e", Some("2024-06-01 00:00:00")),
      (6L, 2L, 9.0,  "f", None: Option[String]))
      .toDF("id", "key", "v", "tag", "ts")
      .withColumn("ts", $"ts".cast("timestamp"))
      .write.mode("overwrite").parquet(dir)
    val (survivors, expired, rollups) = Maintenance.expireGroupBy(
      spark, dir, "ts", "2023-01-01 00:00:00",
      groupKeys = Seq("key"), setExprs = Seq("v" -> "sum(v)"),
      anyOrderCol = "id")
    assert(survivors == 3 && expired == 3 && rollups == 2)
    val out = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .sortBy(t => (t._2, t._1)).toSeq
    // key 1 rollup: sum(10+20)=30, any-columns from id=1 (minimal id);
    // key 2 rollup: the single expired row with v=5
    assert(out == Seq(
      (1L, 1L, 30.0, "a"),   // rollup of ids 1,2
      (3L, 1L, 40.0, "c"),   // survivor
      (4L, 2L, 5.0,  "d"),   // rollup of id 4 alone
      (6L, 2L, 9.0,  "f"),   // NULL ts — kept verbatim
      (5L, 3L, 7.0,  "e")))  // survivor
  }

  test("TTL GROUP BY SET casts the aggregate back to the column type") {
    val dir = "/root/repo/target/ttlagg_cast_test"
    Seq((1L, 1L, 3L, "2020-01-01"), (2L, 1L, 4L, "2020-01-02"))
      .toDF("id", "key", "n", "d")
      .withColumn("ts", $"d".cast("timestamp")).drop("d")
      .write.mode("overwrite").parquet(dir)
    // avg() is DOUBLE; the column is LONG — the reference wraps SET
    // expressions in CAST(col type), so 3.5 lands as 3L
    Maintenance.expireGroupBy(spark, dir, "ts", "2023-01-01",
      Seq("key"), Seq("n" -> "avg(n)"), anyOrderCol = "id")
    val r = spark.read.parquet(dir).select($"n").as[Long].collect()
    assert(r.sameElements(Array(3L)))
  }

  test("column TTL resets only expired rows' values; NULL default and NULL time handled") {
    val dir = "/root/repo/target/ttlcol_test"
    Seq((1L, 10L, Some("2020-01-01 00:00:00")),
        (2L, 20L, Some("2024-06-01 00:00:00")),
        (3L, 30L, None: Option[String]))
      .toDF("id", "v", "ts")
      .withColumn("ts", $"ts".cast("timestamp"))
      .write.mode("overwrite").parquet(dir)
    val reset = Maintenance.expireColumn(
      spark, dir, "ts", "2023-01-01 00:00:00", "v") // default = NULL
    assert(reset == 1)
    val out = spark.read.parquet(dir).orderBy($"id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    // id=1 expired -> NULL; id=2 fresh; id=3 NULL ts never expires
    assert(out.sameElements(Array((1L, -1L), (2L, 20L), (3L, 30L))))
  }

  test("TTL recompression splits codecs without changing content") {
    val dir = "/root/repo/target/ttlrc_test"
    Tables.load(spark, sf, "orders").write.mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir)
      .agg(count(lit(1)), sum($"o_orderkey")).head()
    val (hot, cold) = Maintenance.recompressOlderThan(
      spark, dir, "o_orderdate", "1996-01-01")
    assert(hot > 0 && cold > 0)
    val codecs = Maintenance.fileCountByCodec(spark, dir)
    assert(codecs.getOrElse("zstd", 0) > 0, s"no zstd files: $codecs")
    assert(codecs.getOrElse("snappy", 0) > 0, s"no snappy files: $codecs")
    val after = spark.read.parquet(dir)
      .agg(count(lit(1)), sum($"o_orderkey")).head()
    assert(after == before, "recompression changed content")
  }

  test("OPTIMIZE compacts many small files into the target count, preserving rows") {
    val dir = "/root/repo/target/compact_test"
    Tables.load(spark, sf, "lineitem")
      .repartition(24).write.mode("overwrite").parquet(dir)
    assert(Maintenance.fileCount(spark, dir) >= 20)
    val before = spark.read.parquet(dir).count()
    val n = Maintenance.compact(spark, dir, targetFiles = 2,
      sortBy = Seq("l_orderkey"))
    assert(n == before)
    assert(Maintenance.fileCount(spark, dir) <= 2)
    assert(spark.read.parquet(dir).count() == before)
  }

  test("ALTER DELETE drops matching rows; NULL predicate rows are kept") {
    val dir = "/root/repo/target/mutdel_test"
    Seq((1, Some(5)), (2, Some(20)), (3, None: Option[Int]))
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    val (kept, deleted) = Maintenance.mutateDelete(spark, dir, "v > 10")
    assert(kept == 2 && deleted == 1)
    assert(spark.read.parquet(dir).select($"id").as[Int].collect().sorted
      .sameElements(Array(1, 3)))
  }

  test("ALTER UPDATE evaluates assignments on the pre-mutation row and casts to the column type") {
    val dir = "/root/repo/target/mutupd_test"
    Seq((1, 10L, 100L), (2, 20L, 200L)).toDF("id", "a", "b")
      .write.mode("overwrite").parquet(dir)
    // simultaneous swap + a double-typed expression cast back to LONG:
    // both read the ORIGINAL a/b (MutationsInterpreter semantics)
    val matched = Maintenance.mutateUpdate(spark, dir,
      Seq("a" -> "b", "b" -> "a + 0.9"), "id = 1")
    assert(matched == 1)
    val out = spark.read.parquet(dir).orderBy($"id")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.sameElements(Array((1, 100L, 10L), (2, 20L, 200L))))
  }

  test("ALTER UPDATE rejects duplicate assignments to one column") {
    val dir = "/root/repo/target/mutupd_dup_test"
    Seq((1, 10L)).toDF("id", "a").write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Maintenance.mutateUpdate(spark, dir, Seq("a" -> "1", "a" -> "2"), "true")
    }
    assert(e.getMessage.contains("duplicate assignment"))
  }

  test("analyzer endpoint returns plans without executing") {
    Tables.load(spark, sf, "orders").createOrReplaceTempView("orders_an")
    val out = Search.analyze(spark,
      "SELECT o_orderstatus, count(*) FROM orders_an GROUP BY 1")
    assert(out.contains("== Optimized ==") && out.contains("== Physical =="))
    assert(out.contains("HashAggregate") || out.contains("Aggregate"))
  }

  test("parquetRowCount (footer metadata) equals a full count() scan") {
    val dir = "/root/repo/target/footer_count_test"
    // multi-file dir so the footer sum actually sums across files
    Tables.load(spark, sf, "orders").repartition(5, $"o_orderkey")
      .write.mode("overwrite").parquet(dir)
    val exact = spark.read.parquet(dir).count()
    assert(Maintenance.parquetRowCount(spark, dir) == exact)
    // empty result set → zero rows, not an error
    val emptyDir = "/root/repo/target/footer_count_empty"
    Tables.load(spark, sf, "orders").filter(lit(false))
      .coalesce(1).write.mode("overwrite").parquet(emptyDir)
    assert(Maintenance.parquetRowCount(spark, emptyDir) == 0L)
  }

  test("parquetRowCount counts the files of a time-partitioned table") {
    val dir = java.nio.file.Files.createTempDirectory("footer_count_part")
    try {
      val table = dir.resolve("t").toString
      val df = (0 until 50).map(i => (i.toLong, java.sql.Timestamp.valueOf(
        f"2024-03-${i % 3 + 1}%02d 10:00:00"))).toDF("id", "_time")
      graft.core.TimeTable.write(df, table)
      assert(new java.io.File(table).listFiles().count(_.isDirectory) == 3)
      assert(Maintenance.parquetRowCount(spark, table) == 50L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("HLL sketch states survive parquet round-trip and merge in a fresh read") {
    val dir = "/root/repo/target/sketch_test"
    val li = Tables.load(spark, sf, "lineitem")
    li.groupBy($"l_returnflag")
      .agg(hll_sketch_agg($"l_partkey").as("state"))
      .write.mode("overwrite").parquet(dir)
    // new read (fresh plan — simulates a later job consuming the states)
    val est = spark.read.parquet(dir)
      .agg(hll_sketch_estimate(hll_union_agg($"state")).as("e"))
      .head.getLong(0)
    val exact = li.select(countDistinct($"l_partkey")).head.getLong(0)
    assert(math.abs(est - exact).toDouble / exact < 0.05, s"est=$est exact=$exact")
  }
}
