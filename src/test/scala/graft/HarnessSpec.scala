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
    val t = BenchHits.time(spark, Seq(fine, boom, fine), Seq(1.0, 1.0, 1.0), (1, 1))
    assert(t.failed.map(_._1) == Seq("q2"))
    assert(t.per.map { case (k, r) => k -> r.ok } == Seq("q1" -> true, "q2" -> false, "q3" -> true))
    // a failing warm-up is named too, and its query still fails
    val warm = BenchHits.time(spark, Seq(boom, fine), Seq(1.0, 1.0), (1, 1))
    assert(warm.failed.map(_._1) == Seq("q1 (warm-up)", "q1"))
    spark.catalog.dropTempView("hits")
  }

  /** Runs `main` with `args` in a separate JVM whose working directory is
    * `cwd` (a main stops its session and calls sys.exit): its exit status
    * and its combined output. */
  private def runMain(cwd: String, main: String, args: String*): (Int, String) = {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      jvm.getInputArguments.toArray.map(_.toString).filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), main) ++ args
    new java.io.File(cwd).mkdirs()
    val log = new java.io.File(tmp(s"$main-${System.nanoTime()}.log"))
    val proc = new ProcessBuilder(cmd: _*).directory(new java.io.File(cwd))
      .redirectErrorStream(true).redirectOutput(log).start()
    assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS), s"$main did not exit")
    (proc.exitValue(), java.nio.file.Files.readString(log.toPath))
  }

  test("Verify exits non-zero when a query fails") {
    val (exit, out) = runMain(tmp("verify_cwd"), "graft.Verify",
      tmp("no_tables"), tmp("verify_out"), "q1_pricing_summary")
    assert(out.contains("[verify] q1_pricing_summary failed"), out.takeRight(2000))
    assert(exit != 0)
  }

  test("q_jdbc_roundtrip leaves no derby.log in the working directory") {
    val cwd = tmp("jdbc_cwd")
    val (exit, out) = runMain(cwd, "graft.Verify",
      TestSpark.sf, tmp("jdbc_out"), "q_jdbc_roundtrip")
    assert(exit == 0, out.takeRight(2000))
    assert(!new java.io.File(cwd, "derby.log").exists())
  }
}
