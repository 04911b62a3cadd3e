package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VolnitskySearcher

/** Case-insensitive position (reference positionCaseInsensitive.cpp):
  * the CI engine must equal `lower(hay).indexOf(needle) + 1` on every
  * input — randomized across mixed-case ASCII, and the non-ASCII
  * fallback across case folds that change byte LENGTH (U+0130) or
  * produce ASCII (U+212A Kelvin sign) — plus the plan-level swap of
  * instr(lower(x), c) / locate(c, lower(x), 1). */
class PositionCISpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  private def engine(needle: String) =
    new VolnitskySearcher(UTF8String.fromString(needle).getBytes,
      caseInsensitive = true)

  /** The exact expression the swap replaces. */
  private def oracle(hay: String, loweredNeedle: String): Int =
    UTF8String.fromString(hay).toLowerCase
      .indexOf(UTF8String.fromString(loweredNeedle), 0) + 1

  test("positionCI identity on randomized mixed-case ASCII") {
    val rnd = new scala.util.Random(20260816L)
    val alphabet = "aAbBcC xX-"
    val needles = Seq("abca", "bca x", "xxac", "c-bx")
    var checked = 0
    (0 until 3000).foreach { _ =>
      val hay = Seq.fill(rnd.nextInt(40))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      needles.foreach { nd =>
        assert(engine(nd).positionCI(UTF8String.fromString(hay)) ==
          oracle(hay, nd), s"hay=$hay needle=$nd")
        checked += 1
      }
    }
    assert(checked == 12000)
  }

  test("positionCI non-ASCII fallback: length-changing and " +
      "ASCII-producing case folds stay exact") {
    // U+212A KELVIN SIGN lowers to ASCII 'k' — a raw-column scan would
    // miss it; the fallback must find it at the LOWERED position
    val kelvin = "ab \u212Aitx xx"
    assert(engine("kitx").positionCI(UTF8String.fromString(kelvin)) ==
      oracle(kelvin, "kitx"))
    assert(oracle(kelvin, "kitx") == 4)
    // U+0130 LATIN CAPITAL I WITH DOT lowers to TWO code points —
    // positions after it shift by one in the lowered string, and the
    // fallback must report the lowered-string position (what the
    // replaced locate(c, lower(x)) computes)
    val dotted = "\u0130 abcd"
    assert(engine("abcd").positionCI(UTF8String.fromString(dotted)) ==
      oracle(dotted, "abcd"))
    // pure-ASCII rows take the raw-column tier and agree too
    val ascii = "AB abCd dd"
    assert(engine("abcd").positionCI(UTF8String.fromString(ascii)) == 4)
    assert(engine("zzzz").positionCI(UTF8String.fromString(ascii)) == 0)
  }

  test("instr(lower(x), c) and locate(c, lower(x)) swap to the CI " +
      "engine and keep results; position_ci matches them") {
    graft.functions.GraftScalar.register(spark)
    Tables.tune(spark)
    val rows = Seq("Spark SQL engine", "no match here", "SPARK upper",
      "mid sPaRk mid", "Kelvin sparK trail", null)
    // parquet-backed: a LocalRelation would be constant-folded away
    val dir = tmp("pci_rows")
    rows.toDF("t").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("pci_rows")
    val q = spark.sql(
      """SELECT instr(lower(t), 'spark') AS a,
        |       locate('spark', lower(t)) AS b,
        |       position_ci(t, 'SPARK') AS c FROM pci_rows""".stripMargin)
    val cis = q.queryExecution.optimizedPlan.collect {
      case n => n.expressions.flatMap(_.collect {
        case v: graft.functions.VolnitskyPositionCI => v
      })
    }.flatten
    assert(cis.length >= 3, s"CI position swap missing in plan:\n" +
      q.queryExecution.optimizedPlan.treeString)
    val got = q.collect().map(r =>
      (Option(r.get(0)), Option(r.get(1)), Option(r.get(2))))
    val want = rows.map {
      case null => (None, None, None)
      case s =>
        val p = Some(oracle(s, "spark"))
        (p, p, p)
    }
    assert(got.toSeq.sortBy(_.toString) == want.sortBy(_.toString))
  }

  test("multi CI engines equal their lowered-copy compositions on " +
      "randomized mixed-case input (incl. non-ASCII fallback rows)") {
    import graft.functions.BatchedMultiVolnitsky
    val needles = Seq("abca", "xayx", "bb cx")
    val eng = new BatchedMultiVolnitsky(
      needles.map(UTF8String.fromString(_).getBytes).toArray,
      caseInsensitive = true)
    def oracleAll(hay: String): Array[Long] = {
      val low = UTF8String.fromString(hay).toLowerCase
      needles.map(n =>
        low.indexOf(UTF8String.fromString(n), 0) + 1L).toArray
    }
    val rnd = new scala.util.Random(816L)
    val alphabet = "aAbBcC xXyY" + "Kİ" // Kelvin sign + dotted I
    (0 until 4000).foreach { _ =>
      val hay = Seq.fill(rnd.nextInt(30))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val h = UTF8String.fromString(hay)
      val all = oracleAll(hay)
      assert(eng.allPositions(h).sameElements(all), s"allPositions hay=$hay")
      val firstPos = all.filter(_ > 0).sorted.headOption.getOrElse(0L)
      assert(eng.firstPosition(h) == firstPos, s"firstPosition hay=$hay")
      val firstIdx = all.indexWhere(_ > 0) + 1
      assert(eng.firstIndex(h) ==
        (if (needles.indices.exists(i => all(i) > 0))
          needles.indices.find(i => all(i) > 0).get + 1 else 0),
        s"firstIndex hay=$hay idx=$firstIdx")
    }
  }

  test("multi_search_*_ci SQL functions fold mixed-case needles to the " +
      "CI engines and match the lowered compositions") {
    graft.functions.GraftScalar.register(spark)
    val rows = Seq("Spark and HASH", "neither", "hash only", "Kelvin hash")
    val dir = tmp("msci_rows")
    rows.toDF("t").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("msci_rows")
    val q = spark.sql(
      """SELECT multi_search_first_index_ci(t, array('SPARK','Hash')) AS fi,
        |       multi_search_first_position_ci(t, array('SPARK','Hash')) AS fp,
        |       multi_search_all_positions_ci(t, array('SPARK','Hash')) AS ap
        |FROM msci_rows""".stripMargin)
    val cis = q.queryExecution.analyzed.expressions.flatMap(_.collect {
      case e: graft.functions.MultiSearchFirstIndex if e.ci => e: Any
      case e: graft.functions.MultiSearchFirstPosition if e.ci => e: Any
      case e: graft.functions.MultiSearchAllPositions if e.ci => e: Any
    })
    assert(cis.size == 3, s"CI multi engines not routed: $cis")
    val got = q.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
    val want = rows.map { s =>
      val low = UTF8String.fromString(s).toLowerCase
      val ps = Seq("spark", "hash").map(n =>
        low.indexOf(UTF8String.fromString(n), 0) + 1L)
      val fi = ps.indexWhere(_ > 0) match {
        case -1 => 0L; case i => i + 1L
      }
      (fi, ps.filter(_ > 0).sorted.headOption.getOrElse(0L), ps)
    }
    assert(got.toSeq.sortBy(_.toString) == want.sortBy(_.toString))
  }
}
