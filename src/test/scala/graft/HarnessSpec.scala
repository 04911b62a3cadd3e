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

  test("Verify exits non-zero when a query fails") {
    // a separate JVM: the main stops its session and calls sys.exit
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      jvm.getInputArguments.toArray.map(_.toString).filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), "graft.Verify",
        tmp("no_tables"), tmp("verify_out"), "q1_pricing_summary")
    val log = new java.io.File(tmp("verify.log"))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start()
    assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS), "Verify did not exit")
    val out = java.nio.file.Files.readString(log.toPath)
    assert(out.contains("[verify] q1_pricing_summary failed"), out.takeRight(2000))
    assert(proc.exitValue() != 0)
  }
}
