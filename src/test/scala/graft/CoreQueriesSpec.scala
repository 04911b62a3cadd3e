package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. */
object TestSpark {
  /** Spark's warehouse (where catalog tables are written): a directory of
    * this JVM, deleted at exit, never the working directory. */
  lazy val warehouse: java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Tables.tune(s)
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Spark jobs that `body` launches from this thread: jobs are tagged
    * with a job group, and a marker job after `body` proves the listener
    * has seen every earlier job. */
  def jobsIn(body: => Unit): Int = countJobs(body, anyThread = false)

  /** Spark jobs launched from ANY thread while `body` runs (a REST
    * request runs on a server thread), so nothing else may launch jobs
    * meanwhile. A marker job before `body` starts the count, so a job
    * from before it that the listener bus delivers late is not counted. */
  def allJobsIn(body: => Unit): Int = countJobs(body, anyThread = true)

  private def countJobs(body: => Unit, anyThread: Boolean): Int = {
    val sc = spark.sparkContext
    val group = "jobs-in-" + System.nanoTime()
    val jobs = new AtomicInteger
    val startSeen = new CountDownLatch(1)
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val mine = e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group
        val description = if (mine) e.properties.getProperty("spark.job.description") else null
        if (description == "start") startSeen.countDown()
        else if (description == "marker") markerSeen.countDown()
        else if (mine || (anyThread && startSeen.getCount == 0)) jobs.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "body")
    try {
      if (anyThread) {
        sc.setJobDescription("start")
        sc.parallelize(Seq(1), 1).count()
        assert(startSeen.await(60, TimeUnit.SECONDS), "listener never saw the start job")
        sc.setJobDescription("body")
      }
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

class CoreQueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("every registered query runs and yields a schema on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.schema.nonEmpty, s"$name has empty schema")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
  }

  test("q1 pricing summary has expected groups and positive sums") {
    val rows = SparkEntry.queries("q1_pricing_summary")(spark, sf).collect()
    assert(rows.length >= 3)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Long]("count_order") > 0)
    }
  }

  test("q_join_anti + q_join_semi partition the customers with/without orders") {
    val c = Tables.load(spark, sf, "customer").count()
    val anti = SparkEntry.queries("q_join_anti")(spark, sf).count()
    val withOrders = Tables.load(spark, sf, "orders")
      .select("o_custkey").distinct().count()
    assert(anti == c - withOrders)
  }

  test("events table loads with microsecond timestamps") {
    val e = Tables.load(spark, sf, "events")
    assert(e.schema("ts").dataType.typeName == "timestamp")
    assert(e.count() == 1000)
  }
}
