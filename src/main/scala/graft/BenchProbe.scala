package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Stage-level profiler for individual hits-suite queries: prints per-
  * stage executor time / shuffle volumes so optimization effort lands on
  * the real bottleneck (scan vs shuffle vs aggregate) instead of configs.
  * Usage: runMain graft.BenchProbe <1-based query number> [runs]
  */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val qn = args.headOption.map(_.toInt).getOrElse(16)
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
    sys.env.get("SPARK_GRAFT_CORE_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.tune(spark)

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.add(f"stage=${si.stageId}%3d tasks=${si.numTasks}%3d " +
          f"execMs=${m.executorRunTime}%6d cpuMs=${m.executorCpuTime / 1000000}%6d " +
          f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1024 / 1024}%4dMB " +
          f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1024 / 1024}%4dMB " +
          f"gcMs=${m.jvmGCTime}%5d deserMs=${m.executorDeserializeTime}%6d " +
          f"deserCpuMs=${m.executorDeserializeCpuTime / 1000000}%6d " +
          f"${si.name.takeWhile(_ != '\n').take(60)}" +
          (if (sys.env.get("SPARK_GRAFT_PROBE_RDDS").contains("1"))
             si.rddInfos.map(r => s"\n        rdd=${r.id} ${r.name} [${r.scope.map(_.name).getOrElse("")}]").mkString
           else ""))
      }
    })

    BenchHits.generate(spark)
    spark.conf.set("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val hits = spark.read.parquet(BenchHits.DefaultPath)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hits.count()
    hits.createOrReplaceTempView("hits")
    graft.plans.TableStats.analyze(hits)
    if (!sys.env.get("SPARK_GRAFT_PROJECTIONS").contains("0"))
      BenchHits.registerProjections(spark, hits, BenchHits.HitsRows,
        BenchHits.DefaultPath)
    sys.env.get("SPARK_GRAFT_HITS_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })

    val sql = BenchHits.queries(qn - 1)
    println(s"=== q$qn: ${sql.take(120)}")
    if (sys.env.get("SPARK_GRAFT_PROBE_EXPLAIN").contains("1")) {
      val qe = spark.sql(sql).queryExecution
      println("=== OPTIMIZED ===\n" + qe.optimizedPlan)
      println("=== PHYSICAL ===\n" + qe.executedPlan)
    }
    if (sys.env.get("SPARK_GRAFT_PROBE_STATE").contains("1")) {
      graft.plans.Projections.aggStateDfs.zipWithIndex.foreach { case ((df, pl), i) =>
        val t0 = System.nanoTime()
        val n = df.count()
        val t1 = System.nanoTime()
        val n2 = df.count()
        val t2 = System.nanoTime()
        val imrs = pl.collect {
          case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }
        println(f"state[$i]: rows=$n count1=${(t1 - t0) / 1e9}%.3f s " +
          f"count2=${(t2 - t1) / 1e9}%.3f s imrInPlan=${imrs.size} " +
          s"builderMaterialized=${imrs.headOption.map(_.cacheBuilder.isCachedColumnBuffersLoaded)}")
      }
    }
    println(s"routes: rowProj=${graft.plans.Projections.usesRowProjection(spark.sql(sql))}" +
      s" filtered=${graft.plans.Projections.usesFilteredProjection(spark.sql(sql))}" +
      s" agg=${graft.plans.Projections.usesAggProjection(spark.sql(sql))}")
    for (r <- 1 to runs) {
      stages.clear()
      val t0 = System.nanoTime()
      spark.sql(sql).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"--- run $r: $dt%.3f s")
      stages.forEach(s => println("    " + s))
    }
    spark.stop()
  }
}
