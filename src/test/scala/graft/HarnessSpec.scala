package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench and Verify count a query that throws as a failure. */
class HarnessSpec extends AnyFunSuite with TempDirs {

  test("Bench records a throwing query as failed, never as a timing") {
    val thrown = Bench.bestOf(() => throw new IllegalStateException("boom"))
    assert(!thrown.ok && thrown.status == "failed")
    assert(thrown.error.exists(_.contains("boom")))
    // a failure in a retry fails the query as well
    var calls = 0
    val flaky = Bench.bestOf { () =>
      calls += 1
      if (calls == 2) throw new RuntimeException("second run")
    }
    assert(calls == 3 && !flaky.ok)
    val fine = Bench.bestOf(() => ())
    assert(fine.ok && fine.status == "ok" && fine.sec >= 0)
  }

  test("a hits query that throws is named in hits_failed and never timed") {
    val spark = TestSpark.spark
    spark.range(100).toDF("UserID").createOrReplaceTempView("hits")
    val boom = "SELECT assert_true(UserID < 0) FROM hits"
    val fine = "SELECT count(*) FROM hits"
    val t = BenchHits.time(spark, Seq(fine, boom, fine), (1, 1))
    assert(t.failed.map(_._1) == Seq("q2"))
    assert(t.per.map { case (k, r) => k -> r.ok } == Seq("q1" -> true, "q2" -> false, "q3" -> true))
    // a failing warm-up is named too, and its query still fails
    val warm = BenchHits.time(spark, Seq(boom, fine), (1, 1))
    assert(warm.failed.map(_._1) == Seq("q1 (warm-up)", "q1"))
    spark.catalog.dropTempView("hits")
  }

  /** Runs `main` with `args` in a separate JVM whose working directory is
    * `cwd` (a main stops its session and calls sys.exit) and whose
    * environment adds `env`: its exit status, its stdout and its stderr. */
  private def runMain(cwd: String, env: Map[String, String], main: String,
                      args: String*): (Int, String, String) = {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      jvm.getInputArguments.toArray.map(_.toString).filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), main) ++ args
    new java.io.File(cwd).mkdirs()
    val out = new java.io.File(tmp(s"$main-${System.nanoTime()}.out"))
    val err = new java.io.File(out.getPath.stripSuffix(".out") + ".err")
    val pb = new ProcessBuilder(cmd: _*).directory(new java.io.File(cwd))
      .redirectOutput(out).redirectError(err)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS), s"$main did not exit")
    (proc.exitValue(), java.nio.file.Files.readString(out.toPath),
      java.nio.file.Files.readString(err.toPath))
  }

  test("Bench prints the seconds of every query that ran on its last line") {
    val queries = Seq("q1_pricing_summary", "q_window_rank")
    val (exit, out, err) = runMain(tmp("bench_cwd"),
      Map("SPARK_GRAFT_SF_DIR" -> TestSpark.sf, "SPARK_GRAFT_SKIP_HITS" -> "1",
        "SPARK_GRAFT_CPUS" -> "2", "SPARK_GRAFT_BENCH_OUT" -> tmp("bench_out.json")),
      "graft.Bench", queries.mkString(","))
    assert(exit == 0, err.takeRight(2000))
    val last = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out.trim.linesIterator.toSeq.last)
    assert(last.get("metric").asText == "per_query")
    assert(last.get("failed").isEmpty)
    queries.foreach(q => assert(last.get("queries").get(q).asDouble > 0, q))
    // bench_out.json keeps the full line and the totals line
    val saved = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(tmp("bench_out.json")))
    assert(saved.size == 2 && saved.get(1).startsWith("{\"metric\":\"totals\""))
  }

  test("the per-query line names failures and rounds to 3 significant digits") {
    val line = Bench.perQueryLine(
      Seq("q_a" -> Bench.Timing(0.123456, None), "q_b" -> Bench.Timing(12.3456, None),
        "q_c" -> Bench.Timing(1.0, Some("boom"))),
      Seq("q_c", "hits q2"))
    assert(line == """{"metric":"per_query","unit":"sec","queries":{"q_a":0.123,"q_b":12.3},""" +
      """"failed":["q_c","hits q2"]}""")
  }

  test("the hits suite takes an extra pass only while its last two passes disagree") {
    assert(!BenchHits.wantsExtraPass((10.0, 10.9), 0))
    assert(BenchHits.wantsExtraPass((10.0, 11.1), 0))
    assert(BenchHits.wantsExtraPass((11.1, 10.0), 1))
    assert(!BenchHits.wantsExtraPass((11.1, 10.0), 2))
  }

  test("Verify exits non-zero when a query fails") {
    val (exit, _, err) = runMain(tmp("verify_cwd"), Map.empty, "graft.Verify",
      tmp("no_tables"), tmp("verify_out"), "q1_pricing_summary")
    assert(err.contains("[verify] q1_pricing_summary failed"), err.takeRight(2000))
    assert(exit != 0)
  }

  test("q_join_bucketed writes its warehouse outside the working directory") {
    val cwd = tmp("warehouse_cwd")
    val (exit, _, err) = runMain(cwd, Map.empty, "graft.Verify",
      TestSpark.sf, tmp("warehouse_out"), "q_join_bucketed")
    assert(exit == 0, err.takeRight(2000))
    assert(!new java.io.File(cwd, "spark-warehouse").exists())
  }

  test("q_jdbc_roundtrip leaves no derby.log in the working directory") {
    val cwd = tmp("jdbc_cwd")
    val (exit, _, err) = runMain(cwd, Map.empty, "graft.Verify",
      TestSpark.sf, tmp("jdbc_out"), "q_jdbc_roundtrip")
    assert(exit == 0, err.takeRight(2000))
    assert(!new java.io.File(cwd, "derby.log").exists())
  }
}
