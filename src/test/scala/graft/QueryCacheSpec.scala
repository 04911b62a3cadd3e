package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.QueryCache

/** Query-cache contract (graft EXTENSION — the v21.4-era reference has no
  * query result cache; see QueryCache.scala class doc): plan-keyed hits,
  * non-deterministic refusal, TTL expiry, LRU eviction, and insert-driven
  * invalidation. */
class QueryCacheSpec extends AnyFunSuite {
  import TestSpark._

  private def freshState(): Unit = {
    QueryCache.clear()
    QueryCache.ttlMs = 60000L
    QueryCache.maxEntries = 64
  }

  /** Re-list `df`'s file relations in place, as the ingest paths do. */
  private def refreshFileIndex(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.refresh()
          case _ =>
        }
      case _ =>
    }

  test("identical plans hit; textually different but plan-equal queries share") {
    freshState()
    val base = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
    val q1 = base.groupBy("k").agg(sum("id").as("s"))
    val r1 = QueryCache.cached(q1).collect().toSet
    assert(QueryCache.misses == 1 && QueryCache.hits == 0)
    // a second, separately-built but semantically identical query
    val q2 = base.groupBy(col("k")).agg(sum(col("id")).as("s2"))
    val served = QueryCache.cached(q2)
    val r2 = served.collect().toSet
    assert(QueryCache.hits == 1, "plan-equal query missed the cache")
    assert(r1.map(_.getLong(1)) == r2.map(_.getLong(1)))
    // the hit must carry the REQUESTING query's aliases, not the
    // populating twin's — a REST client reads back what it asked for
    assert(served.columns.toSeq == Seq("k", "s2"),
      s"hit served the wrong column names: ${served.columns.toSeq}")
    QueryCache.clear()
  }

  test("non-deterministic plans are never cached") {
    freshState()
    val q = spark.range(10).select(rand().as("r"))
    QueryCache.cached(q)
    QueryCache.cached(q)
    assert(QueryCache.size == 0 && QueryCache.hits == 0)
    QueryCache.clear()
  }

  test("TTL expiry forces recomputation") {
    freshState()
    QueryCache.ttlMs = 1L
    val q = spark.range(100).agg(sum("id").as("s"))
    QueryCache.cached(q)
    Thread.sleep(10)
    QueryCache.cached(q)
    assert(QueryCache.hits == 0 && QueryCache.misses == 2)
    QueryCache.clear()
  }

  test("LRU eviction keeps the most recently used entries") {
    freshState()
    QueryCache.maxEntries = 2
    val qs = (1 to 3).map(i => spark.range(100L * i).agg(sum("id").as("s")))
    QueryCache.cached(qs(0))
    QueryCache.cached(qs(1))
    QueryCache.cached(qs(0))  // touch 0 so 1 is eldest
    QueryCache.cached(qs(2))  // evicts 1
    assert(QueryCache.size == 2)
    QueryCache.cached(qs(0))
    // hit events so far: line 60 (touch) + this one = 2
    assert(QueryCache.hits == 2, "entry 0 should have survived eviction")
    QueryCache.cached(qs(1))
    assert(QueryCache.misses == 4, "entry 1 should have been evicted")
    QueryCache.clear()
  }

  test("ingest invalidation drops entries scanning the path, keeps others") {
    freshState()
    val dir = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"), "graft_qcache_inv").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    spark.range(100).write.parquet(dir)
    val base = spark.read.parquet(dir)
    val onPath = base.agg(sum("id").as("s"))
    val offPath = spark.range(50).agg(sum("id").as("s"))
    assert(QueryCache.cached(onPath).collect()(0).getLong(0) == 4950L)
    QueryCache.cached(offPath)
    assert(QueryCache.size == 2)
    // append + refresh the relation in place (the ingest-path sequence)
    spark.range(100, 200).write.mode("append").parquet(dir)
    refreshFileIndex(base)
    QueryCache.invalidatePath(dir)
    assert(QueryCache.size == 1, "off-path entry must survive")
    assert(QueryCache.cached(onPath).collect()(0).getLong(0) == (0L until 200L).sum,
      "stale result served after invalidation")
    QueryCache.clear()
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("an invalidation that lands while a miss is computed is not lost") {
    freshState()
    val root = java.nio.file.Files.createTempDirectory("graft_qcache_race")
    val dir = root.resolve("t").toString
    val staged = root.resolve("staged").toString
    spark.range(100).coalesce(1).write.parquet(dir)
    spark.range(100, 200).coalesce(1).write.parquet(staged)
    val base = spark.read.parquet(dir)
    import QueryCacheSpec.{first, proceed, started}
    // the first row the compute reads parks it until the ingest below is
    // done; the latches live in an object because tasks get a
    // deserialized copy of the closure
    val gate = udf { (id: Long) =>
      if (first.getAndSet(false)) { started.countDown(); proceed.await() }
      id
    }
    val onPath = base.agg(sum(gate(col("id"))).as("s"))
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val racing = pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = QueryCache.cached(onPath).collect()(0).getLong(0)
      })
      assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      // an ingest commits a file while the miss is being computed (a
      // Spark write here would wait on the parked cache build)
      new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(f.toPath, root.resolve("t").resolve(f.getName)))
      refreshFileIndex(base)
      QueryCache.invalidatePath(dir)
      proceed.countDown()
      racing.get(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(QueryCache.cached(onPath).collect()(0).getLong(0) == (0L until 200L).sum,
        "result computed before the ingest served after its invalidation")
    } finally {
      proceed.countDown()
      pool.shutdown()
      QueryCache.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }
}

object QueryCacheSpec {
  val started = new java.util.concurrent.CountDownLatch(1)
  val proceed = new java.util.concurrent.CountDownLatch(1)
  val first = new java.util.concurrent.atomic.AtomicBoolean(true)
}
