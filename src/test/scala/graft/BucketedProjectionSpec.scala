package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Projections

/** Bucketed DISK row-projection contract — the alternate-layout copy at
  * scales where it cannot live in executor memory: the copy is written
  * as an external bucketed parquet table (one file per bucket), a
  * covered aggregation routes to it AND runs exchange-free (the
  * bucketed scan's HashPartitioning satisfies the aggregate's
  * distribution through the alias layer), results are identical,
  * re-registration reuses the files without rewriting, and ingest
  * invalidation rebuilds the copy. */
class BucketedProjectionSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  private def physical(df: DataFrame): String = {
    df.collect() // force so AQE's final plan is in place
    df.queryExecution.executedPlan.toString
  }

  private def freshDirs(): (String, String) = {
    val stamp = System.nanoTime().toString
    (tmp("bproj_base_") + stamp, tmp("bproj_copy_") + stamp)
  }

  private def writeBase(dir: String, n: Int = 40000): DataFrame = {
    spark.range(n).select(
      (col("id") % 1500).as("uid"),
      concat(lit("p"), col("id") % 37).as("phrase"),
      (col("id") % 9).as("v"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("covered group-by routes to the bucketed copy, exchange-free, identical results") {
    val (baseDir, copyDir) = freshDirs()
    val base = writeBase(baseDir)
    base.createOrReplaceTempView("bproj_t")
    def q: DataFrame = spark.sql(
      "SELECT uid, phrase, count(*) AS c FROM bproj_t GROUP BY uid, phrase")
    val exact = q.collect().map(_.toString).sorted.toSeq
    Projections.registerBucketed(spark, base, Seq("uid"),
      Seq("uid", "phrase", "v"), numBuckets = 8, dir = copyDir)
    try {
      assert(Projections.usesRowProjection(q),
        s"covered agg did not read the bucketed copy:\n${physical(q)}")
      val plan = physical(q)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"routed agg still exchanges:\n$plan")
      assert(q.collect().map(_.toString).sorted.toSeq == exact,
        "bucket-routed result diverges from the base scan")
      // an aggregation keyed off the bucket column must NOT route
      val off = spark.sql("SELECT v, count(*) AS c FROM bproj_t GROUP BY v")
      assert(!Projections.usesRowProjection(off),
        "non-covering keys routed to the bucketed copy")
    } finally Projections.clear()
  }

  test("re-registration reuses the written files via the catalog declaration") {
    val (baseDir, copyDir) = freshDirs()
    val base = writeBase(baseDir)
    Projections.registerBucketed(spark, base, Seq("uid"),
      Seq("uid", "phrase", "v"), numBuckets = 8, dir = copyDir)
    val firstWrite = new java.io.File(copyDir).listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    Projections.clear()
    Projections.registerBucketed(spark, base, Seq("uid"),
      Seq("uid", "phrase", "v"), numBuckets = 8, dir = copyDir)
    try {
      val second = new java.io.File(copyDir).listFiles()
        .map(f => f.getName -> f.lastModified()).toMap
      assert(second == firstWrite,
        "re-registration rewrote the bucketed files instead of reusing them")
      def q: DataFrame = base.groupBy(col("uid"))
        .agg(count(lit(1)).as("c"))
      assert(Projections.usesRowProjection(q),
        s"reused declaration does not route:\n${physical(q)}")
    } finally Projections.clear()
  }

  test("ingest invalidation rebuilds the bucketed copy") {
    val (baseDir, copyDir) = freshDirs()
    val base = writeBase(baseDir)
    Projections.registerBucketed(spark, base, Seq("uid"),
      Seq("uid", "phrase", "v"), numBuckets = 8, dir = copyDir)
    try {
      def q: DataFrame = base.groupBy(col("uid")).agg(count(lit(1)).as("c"))
      val before = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // append rows to the base the way an ingest does, then invalidate
      spark.range(500).select(
        lit(77L).as("uid"), lit("pX").as("phrase"), lit(1L).as("v"))
        .write.mode("append").parquet(baseDir)
      Projections.invalidatePath(baseDir)
      val after = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Projections.usesRowProjection(q),
        s"rebuilt projection does not route:\n${physical(q)}")
      assert(after(77L) == before(77L) + 500,
        s"rebuilt copy does not see the appended rows: ${after.get(77L)}")
    } finally Projections.clear()
  }

  test("re-registering the same dir with a different definition is refused") {
    val (baseDir, copyDir) = freshDirs()
    val base = writeBase(baseDir)
    Projections.registerBucketed(spark, base, Seq("uid"),
      Seq("uid", "phrase", "v"), numBuckets = 8, dir = copyDir)
    try {
      // a LIVE entry scans copyDir with 8 buckets; rebuilding it with a
      // different bucket count would overwrite the files mid-scan —
      // must refuse loudly, never drop/recreate under the live plan
      val e = intercept[IllegalArgumentException] {
        Projections.registerBucketed(spark, base, Seq("uid"),
          Seq("uid", "phrase", "v"), numBuckets = 16, dir = copyDir)
      }
      assert(e.getMessage.contains("already backing"))
      // the original registration keeps routing
      def q: DataFrame = base.groupBy(col("uid")).agg(count(lit(1)).as("c"))
      assert(Projections.usesRowProjection(q))
    } finally Projections.clear()
  }
}
