package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  test("a second load of a table launches no Spark job") {
    val dir = tmp("second_load")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(jobsIn(Tables.load(spark, dir, "t")) >= 1, "first load infers the schema")
    assert(jobsIn(Tables.load(spark, dir, "t")) == 0)
    // a parquet conf can change inferred types: changing one re-resolves
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try assert(jobsIn(Tables.load(spark, dir, "t")) >= 1)
    finally spark.conf.unset("spark.sql.parquet.binaryAsString")
  }

  test("a rewritten table re-resolves its schema") {
    val dir = tmp("rewrite")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((2L, 3.5, "b")).toDF("k", "x", "v").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.load(spark, dir, "t")
    assert(after.columns.toSeq == Seq("k", "x", "v"))
    assert(after.as[(Long, Double, String)].collect().toSeq == Seq((2L, 3.5, "b")))
  }

  test("a typed load returns the rows and schema of an inferred read") {
    Tables.all.foreach { name =>
      val typed = Tables.load(spark, sf, name)
      val read = spark.read.parquet(s"$sf/$name.parquet")
      // events.ts is read as TIMESTAMP_NTZ and loaded as the session-local TIMESTAMP
      val inferred =
        if (name == "events") read.withColumn("ts", col("ts").cast("timestamp")) else read
      assert(typed.schema == inferred.schema, name)
      assert(typed.exceptAll(inferred).isEmpty && inferred.exceptAll(typed).isEmpty, name)
    }
  }

  test("events loads like every other table: no job, no cached copy, a session-local ts") {
    assert(Tables.load(spark, sf, "events").schema("ts").dataType == TimestampType)
    assert(jobsIn(Tables.load(spark, sf, "events")) == 0)
    val plan = Tables.load(spark, sf, "events").queryExecution.optimizedPlan
    assert(plan.collect { case r: InMemoryRelation => r }.isEmpty, plan)
  }

  test("Tables.tune sets no legacy parquet conf") {
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(nanos)
    Tables.tune(spark)
    assert(!spark.conf.getAll.contains(nanos))
  }

  test("a missing table still fails with Spark's error") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.load(spark, tmp("missing"), "t"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }

  test("the specs' warehouse is outside the working directory") {
    val warehouse = new java.io.File(
      new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    assert(warehouse.getCanonicalFile == TestSpark.warehouse.getCanonicalFile)
    assert(!warehouse.getCanonicalPath.startsWith(
      new java.io.File(System.getProperty("user.dir")).getCanonicalPath + "/"))
  }

  test("the scratch root belongs to this JVM") {
    val root = new java.io.File(Tables.scratchRoot)
    assert(root.getName == s"graft-scratch-${ProcessHandle.current().pid()}")
    assert(Set("/dev/shm", new java.io.File(System.getProperty("java.io.tmpdir")).getPath)
      .contains(root.getParent))
  }
}
