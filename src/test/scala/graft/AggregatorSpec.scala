package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions._
import graft.functions.aggs._

import scala.collection.mutable.ArrayBuffer

/** Brute-force cross-checks for the custom Aggregators. */
class AggregatorSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Reference funnel: exhaustive chain search (exponential, tiny inputs only). */
  private def bruteFunnel(events: Seq[(Long, Int)], window: Long, n: Int): Int = {
    def chains(level: Int, minTs: Long, start: Long): Boolean = {
      if (level > n) return true
      events.exists { case (t, k) =>
        k == level && t >= minTs &&
          (level == 1 || t - start <= window) &&
          chains(level + 1, t, if (level == 1) t else start)
      }
    }
    var best = 0
    (1 to n).foreach { l =>
      def reach(level: Int): Boolean = {
        def go(lv: Int, minTs: Long, start: Long): Boolean =
          if (lv > level) true
          else events.exists { case (t, k) =>
            k == lv && t >= minTs && (lv == 1 || t - start <= window) &&
              go(lv + 1, t, if (lv == 1) t else start)
          }
        go(1, Long.MinValue, 0L)
      }
      if (reach(l)) best = l
    }
    best
  }

  test("windowFunnel DP matches brute force on random inputs") {
    val rnd = new scala.util.Random(7)
    (1 to 60).foreach { _ =>
      val events = Seq.fill(rnd.nextInt(12) + 1)((rnd.nextInt(100).toLong, rnd.nextInt(3) + 1))
      val window = (rnd.nextInt(40) + 5).toLong
      val agg = new WindowFunnelAgg(window, 3)
      val got = agg.finish(ArrayBuffer.from(events))
      val expect = bruteFunnel(events, window, 3)
      assert(got == expect, s"events=$events window=$window got=$got expect=$expect")
    }
  }

  test("windowFunnel strict_order breaks chains on interleaved funnel events") {
    // base: 1 @0, 2 @10, 3 @20 — full chain
    val clean = ArrayBuffer((0L, 1), (10L, 2), (20L, 3))
    assert(new WindowFunnelStrictAgg(100L, 3, strictOrder = true).finish(clean.clone()) == 3)
    // a step-1 event between 2 and 3 interleaves → strict_order restarts
    val broken = ArrayBuffer((0L, 1), (10L, 2), (15L, 1), (20L, 3))
    assert(new WindowFunnelStrictAgg(100L, 3, strictOrder = true).finish(broken.clone()) == 2)
    // non-strict DP still reaches 3 (chain 0→10→20 exists)
    assert(new WindowFunnelAgg(100L, 3).finish(broken.clone()) == 3)
  }

  test("windowFunnel strict_increase rejects tied timestamps") {
    val tied = ArrayBuffer((0L, 1), (0L, 2), (10L, 3))
    assert(new WindowFunnelStrictAgg(100L, 3, strictIncrease = true).finish(tied.clone()) == 1)
    assert(new WindowFunnelAgg(100L, 3).finish(tied.clone()) == 3)
  }

  test("sequenceMatch time conditions bound per-transition gaps") {
    // (?1)(?t<=5)(?2): gap must be <= 5
    val a = new SequenceMatchTimeAgg(2, Seq((0L, 5L)))
    assert(a.finish(ArrayBuffer((0L, 1), (4L, 2))))
    assert(!a.finish(ArrayBuffer((0L, 1), (9L, 2))))
    // a later step-1 re-opens the window
    assert(a.finish(ArrayBuffer((0L, 1), (9L, 1), (12L, 2))))
    // (?1)(?t>=10)(?2): gap must be >= 10 — the DP must consider the
    // EARLIER completion even when a later one exists
    val b = new SequenceMatchTimeAgg(2, Seq((10L, Long.MaxValue)))
    assert(b.finish(ArrayBuffer((0L, 1), (8L, 1), (11L, 2))))
    assert(!b.finish(ArrayBuffer((5L, 1), (8L, 2))))
    // 3 steps, mixed constraints
    val c = new SequenceMatchTimeAgg(3, Seq((0L, 5L), (10L, 20L)))
    assert(c.finish(ArrayBuffer((0L, 1), (3L, 2), (15L, 3))))
    assert(!c.finish(ArrayBuffer((0L, 1), (3L, 2), (30L, 3))))
  }

  test("windowFunnel via udaf on a dataframe") {
    val df = Seq(
      (1L, 0L, 1), (1L, 10L, 2), (1L, 20L, 3),   // full chain
      (2L, 0L, 1), (2L, 100L, 2), (2L, 120L, 3), // view outside window of signup
      (3L, 0L, 2), (3L, 10L, 3)                  // never step 1
    ).toDF("uid", "ts_us", "step")
    val got = df.groupBy($"uid")
      .agg(window_funnel(50L, 3)($"ts_us", $"step").as("lvl"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 0))
  }

  test("sequenceMatch strict ordering") {
    val agg = new SequenceMatchAgg(2)
    assert(agg.finish(ArrayBuffer((1L, 1), (2L, 2))))
    assert(!agg.finish(ArrayBuffer((2L, 1), (1L, 2))))
    assert(!agg.finish(ArrayBuffer((1L, 1), (1L, 2)))) // equal ts not strict
    assert(agg.finish(ArrayBuffer((5L, 2), (1L, 1), (9L, 2))))
  }

  test("sequenceCount greedy non-overlap") {
    val agg = new SequenceCountAgg(2)
    assert(agg.finish(ArrayBuffer((1L, 1), (2L, 2), (3L, 1), (4L, 2))) == 2)
    assert(agg.finish(ArrayBuffer((1L, 1), (2L, 1), (3L, 2))) == 1)
    assert(agg.finish(ArrayBuffer((1L, 2), (2L, 2))) == 0)
  }

  test("sequenceCount orders a timestamp tie signup-first, as q_sequence_count's oracle does") {
    val agg = new SequenceCountAgg(2)
    // a purchase and a signup at the same time, purchase arriving first:
    // the tie sorts by step, so the signup opens and the purchase closes
    assert(agg.finish(ArrayBuffer((10L, 2), (10L, 1))) == 1)
    assert(agg.finish(ArrayBuffer((5L, 1), (7L, 2), (7L, 1), (7L, 2))) == 1)
    // the oracle's form: purchases directly preceded by a signup in
    // (ts, step) order; drawn from few timestamps so most events tie
    val rng = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val evs = Seq.fill(rng.nextInt(30))((rng.nextInt(6).toLong, 1 + rng.nextInt(2)))
      val steps = evs.sorted.map(_._2)
      val adjacent = steps.zip(steps.drop(1)).count(_ == ((1, 2)))
      assert(agg.finish(ArrayBuffer.from(evs)) == adjacent, evs)
    }
  }

  test("retention masks by first condition") {
    val agg = new RetentionAgg(3)
    val buf = agg.merge(agg.reduce(agg.zero, Seq(true, false, true)),
                        agg.reduce(agg.zero, Seq(false, false, false)))
    assert(agg.finish(buf) == Seq(1, 0, 1))
    assert(agg.finish(agg.reduce(agg.zero, Seq(false, true, true))) == Seq(0, 0, 0))
  }

  test("topK SpaceSaving exact when capacity >= distinct") {
    val data = Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c") ++ Seq.fill(5)("d")
    val agg = new TopKAgg(2, 8)
    val buf = data.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(buf) == Seq(("a", 50L), ("b", 30L)))
  }

  test("deltaSumTimestamp sums positive deltas in ts order") {
    val agg = new DeltaSumTimestampAgg
    // ts order: (1,10) (2,5) (3,20) → deltas -5, +15 → 15
    val buf = ArrayBuffer((3L, 30L, 20.0), (1L, 10L, 10.0), (2L, 20L, 5.0))
    assert(agg.finish(buf) == 15.0)
    // duplicate ts: key breaks the tie → order (5,1,100) (5,2,50) (6,3,70)
    val tied = ArrayBuffer((5L, 2L, 50.0), (6L, 3L, 70.0), (5L, 1L, 100.0))
    assert(agg.finish(tied) == 20.0)
  }

  test("uniqUpTo caps at n+1") {
    val agg = new UniqUpToAgg(2)
    val buf = Seq("a", "b", "c", "d", "a").foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(buf) == 3L) // n+1
    val small = Seq("a", "a", "b").foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(small) == 2L)
  }

  test("groupBitmap cardinality matches countDistinct") {
    val c = Tables.load(spark, sf, "customer")
    val got = c.agg(group_bitmap($"c_custkey".cast("int")).as("n")).head.getLong(0)
    val expect = c.select(countDistinct($"c_custkey")).head.getLong(0)
    assert(got == expect)
  }

  test("stochastic linear regression converges to y = 2x + 1 and merges " +
    "across partitions by model averaging") {
    import graft.functions.GraftFunctions.stochastic_linear_regression
    // centered feature (zero-mean x decouples slope from bias — one
    // SGD pass has no second chance at correlated coordinates)
    val rows = (1 to 20000).map { i =>
      val x = (i % 100) / 100.0 - 0.5
      (2.0 * x + 1.0, Seq(x))
    }
    // 4 partitions: exercises the weighted-average merge path
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4)).toDF("y", "xs")
    val model = df.agg(
      stochastic_linear_regression(0.2, 0.0, 16, 1)($"y", $"xs").as("m"))
      .head.getSeq[Double](0)
    assert(math.abs(model(0) - 2.0) < 0.15, s"slope ${model(0)}")
    assert(math.abs(model(1) - 1.0) < 0.15, s"bias ${model(1)}")
  }

  test("stochastic logistic regression separates a threshold rule") {
    import graft.functions.GraftFunctions.stochastic_logistic_regression
    val rows = (1 to 20000).map { i =>
      val x = (i % 100) / 100.0 - 0.5
      (if (x > 0.0) 1.0 else 0.0, Seq(x))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4)).toDF("y", "xs")
    val m = df.agg(
      stochastic_logistic_regression(0.5, 0.0, 16, 1)($"y", $"xs").as("m"))
      .head.getSeq[Double](0)
    // decision boundary -bias/slope near 0.0, slope positive
    assert(m(0) > 0, s"slope ${m(0)}")
    assert(math.abs(-m(1) / m(0)) < 0.1, s"boundary ${-m(1) / m(0)}")
  }

  test("hll state-merge estimate is within 5% of exact") {
    val li = Tables.load(spark, sf, "lineitem")
    val est = li.groupBy($"l_returnflag")
      .agg(hll_sketch_agg($"l_partkey").as("st"))
      .agg(hll_sketch_estimate(hll_union_agg($"st")).as("e")).head.getLong(0)
    val exact = li.select(countDistinct($"l_partkey")).head.getLong(0)
    assert(math.abs(est - exact).toDouble / exact < 0.05, s"est=$est exact=$exact")
  }
}
