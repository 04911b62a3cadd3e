package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Stage-level profile of one query, so optimization effort lands on the
  * real bottleneck (jobs × scheduling vs scan vs shuffle vs aggregate)
  * instead of configs: per run, the wall time and one line per stage with
  * its tasks, executor and CPU time, shuffle bytes, GC and deserialization.
  *
  * Usage: Probe <SparkEntry query name | hits query number 1-43> [runs]
  *   - a name runs the registered query on SPARK_GRAFT_SF_DIR;
  *   - a number runs that hits query on the 10 M-row table, set up as the
  *     suite times it (BenchHits.prepare + registerProjections; cold with
  *     SPARK_GRAFT_HITS_COLD=1), and first prints which projection kinds
  *     its plan reads.
  * Exits 1 when a run throws.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val target = args(0)
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = Bench.session()

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.add(f"stage=${si.stageId}%3d tasks=${si.numTasks}%3d " +
          f"execMs=${m.executorRunTime}%6d cpuMs=${m.executorCpuTime / 1000000}%6d " +
          f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1024}%7dKB " +
          f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1024}%7dKB " +
          f"gcMs=${m.jvmGCTime}%5d deserMs=${m.executorDeserializeTime}%6d " +
          f"${si.name.takeWhile(_ != '\n').take(70)}")
      }
    })

    // Drain the async listener bus, so every stage event of a run is in
    // `stages` before it is printed and none lands after the next clear.
    // listenerBus is private[spark] — reflection, with a sleep fallback.
    def drainListeners(): Unit =
      try {
        val bus = spark.sparkContext.getClass
          .getMethod("listenerBus").invoke(spark.sparkContext)
        bus.getClass.getMethods
          .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
          .fold(Thread.sleep(200))(_.invoke(bus): Unit)
      } catch { case _: Throwable => Thread.sleep(200) }

    val failed = try {
      val (label, run): (String, () => Unit) = target.toIntOption match {
        case Some(n) =>
          val scale = BenchHits.Default
          val (hits, _) = BenchHits.prepare(spark, scale)
          BenchHits.registerProjections(spark, hits, scale.rows, scale.path)
          val sql = BenchHits.queries(n - 1)
          println(s"=== q$n: ${sql.take(120)}")
          import graft.plans.Projections.{usesAggProjection, usesFilteredProjection, usesRowProjection}
          println(s"routes: rowProj=${usesRowProjection(spark.sql(sql))}" +
            s" filtered=${usesFilteredProjection(spark.sql(sql))}" +
            s" agg=${usesAggProjection(spark.sql(sql))}")
          (s"q$n", () => spark.sql(sql).write.mode("overwrite").format("noop").save())
        case None =>
          val fn = SparkEntry.queries(target)
          val sfDir = sys.env("SPARK_GRAFT_SF_DIR")
          (target, () => try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
            finally Tables.releaseScratch())
      }
      (1 to runs).count { r =>
        drainListeners()
        stages.clear()
        val t = Bench.timeOnce(run)
        drainListeners()
        println(f"--- $label run $r: ${t.sec}%.3f s (stages=${stages.size})" +
          t.error.fold("")(e => s" FAILED: $e"))
        stages.forEach(s => println("    " + s))
        !t.ok
      }
    } finally spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
