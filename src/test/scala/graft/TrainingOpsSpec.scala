package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CorpusOps, Dedup}

/** Pins the sub-document corpus operators on hand-built inputs:
  * paragraph dedup's first-occurrence rule and doc reconstruction,
  * duplicate-substring span merging, classifier state arithmetic. (The
  * sf0.01 gate hash-checks the same operators against DuckDB; these
  * cases document WHY each answer is what it is.)
  */
class TrainingOpsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._
  import spark.implicits._

  test("paragraphDedup keeps the globally first occurrence and rebuilds docs") {
    // "b" appears in doc 1 (idx 1) and doc 2 (idx 0): doc 1 wins.
    // "a" appears twice inside doc 1: only the first survives.
    val d = Seq(
      (1L, Seq("a", "b", "a")),
      (2L, Seq("b", "c"))
    ).toDF("doc_id", "paras")
    val out = CorpusOps.paragraphDedup(d, "doc_id", col("paras"))
      .orderBy("doc_id")
      .select("doc_id", "n_paras", "n_kept", "kept_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq((1L, 3L, 2L, "a b"), (2L, 2L, 1L, "c")))
  }

  test("paragraphDedup: a doc made entirely of dups keeps empty text") {
    val d = Seq((1L, Seq("x")), (2L, Seq("x"))).toDF("doc_id", "paras")
    val out = CorpusOps.paragraphDedup(d, "doc_id", col("paras"))
      .orderBy("doc_id").select("n_kept", "kept_text")
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "x"), (0L, "")))
  }

  test("repetitionSignals: top-n-gram char coverage is count times gram chars") {
    // "a b a b a": 2-grams {a b, b a, a b, b a} → best cover 2·len("a b")=6;
    // 3-grams {a b a ×2, b a b} → 2·5=10; 4-grams all unique → 1·7=7;
    // no repeated 5-gram → dup5 coverage 0.
    val d = Seq((1L, Seq("a", "b", "a", "b", "a"))).toDF("doc_id", "toks")
    val out = CorpusOps.repetitionSignals(d, "doc_id", col("toks"))
      .select("n_toks", "top2_chars", "top3_chars", "top4_chars", "dup5_toks")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(out == ((5L, 6L, 10L, 7L, 0L)))
  }

  test("repetitionSignals: duplicate-5-gram coverage merges overlapping spans") {
    // period-5 repeat "c d e f g"×3: every 5-gram start is duplicated,
    // union covers all 15 positions. Second doc repeats only its first
    // 5-gram at position 6: [0,5) ∪ [6,11) = 10 covered, not 11.
    val d = Seq(
      (1L, Seq("c", "d", "e", "f", "g", "c", "d", "e", "f", "g", "c", "d", "e", "f", "g")),
      (2L, Seq("u", "v", "w", "x", "y", "z", "u", "v", "w", "x", "y"))
    ).toDF("doc_id", "toks")
    val out = CorpusOps.repetitionSignals(d, "doc_id", col("toks"))
      .orderBy("id").select("n_toks", "dup5_toks", "dup10_toks")
      .as[(Long, Long, Long)].collect().toSeq
    // 10-grams of the period-5 doc still repeat (starts 0 and 5 overlap
    // to cover all 15); the second doc has no repeated 10-gram.
    assert(out == Seq((15L, 15L, 15L), (11L, 10L, 0L)))
  }

  test("repetitionSignals: short docs yield zero coverage, not nulls") {
    val d = Seq((7L, Seq("only"))).toDF("doc_id", "toks")
    val out = CorpusOps.repetitionSignals(d, "doc_id", col("toks"))
      .select("n_toks", "top2_chars", "top3_chars", "top4_chars", "dup5_toks")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(out == ((1L, 0L, 0L, 0L, 0L)))
  }

  /** The explode/pivot/window/join plan repetitionSignals used to run,
    * kept as the reference the row-local expression must reproduce. */
  private def repetitionReference(df: org.apache.spark.sql.DataFrame,
      topNs: Seq[Int] = Seq(2, 3, 4),
      dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col("doc_id").as("id"), col("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
    val ids = base.select(col("id"), col("n_toks"))
    val tagged = topNs.map { n =>
        base.select(col("id"), lit(n).as("n"),
          explode(CorpusOps.ngrams(col("toks"), n)).as("g"))
      }.reduce(_ unionByName _)
    val covers = tagged.groupBy(col("id"), col("n"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cover", col("cnt") * length(col("g")))
      .groupBy(col("id")).pivot("n", topNs)
      .agg(max(col("cover")))
    val coverCols = topNs.map(n => coalesce(col(s"`$n`"), lit(0L))
      .as(s"top${n}_chars"))
    val taggedDup = dupNs.map { n =>
        base.select(col("id"), lit(n).as("n"),
          posexplode(CorpusOps.ngrams(col("toks"), n)).as(Seq("pos", "g")))
      }.reduce(_ unionByName _)
    val dupPos = taggedDup
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(col("id"), col("n"), col("g"))))
      .filter(col("cnt") >= 2)
      .select(col("id"), col("n"), col("pos").cast("long").as("pos"))
    val wPrev = Window.partitionBy(col("id"), col("n")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dupCov = dupPos
      .withColumn("prev_end",
        coalesce(max(col("pos") + col("n")).over(wPrev), lit(-1L)))
      .withColumn("c", greatest(
        col("pos") + col("n") - greatest(col("pos"), col("prev_end")),
        lit(0L)))
      .groupBy(col("id")).pivot("n", dupNs)
      .agg(sum(col("c")))
    val dupCols = dupNs.map(n => coalesce(col(s"`$n`"), lit(0L))
      .as(s"dup${n}_toks"))
    ids.join(covers.select(col("id") +: coverCols: _*), Seq("id"), "left")
      .join(dupCov.select(col("id") +: dupCols: _*), Seq("id"), "left")
      .select(col("id") +: col("n_toks") +:
        (topNs.map(n => coalesce(col(s"top${n}_chars"), lit(0L))
          .as(s"top${n}_chars")) ++
         dupNs.map(n => coalesce(col(s"dup${n}_toks"), lit(0L))
           .as(s"dup${n}_toks"))): _*)
  }

  test("repetitionSignals matches the explode/pivot reference on random docs") {
    // 3 words of 1, 2 and 2 code points (the last is 4 UTF-16 units, so a
    // UTF-16 length would differ), lengths 0-40, an occasional null token
    // (array_join skips it) and one null array
    val vocab = Seq("a", "bé", "\uD835\uDD38\uD835\uDD39")
    val rnd = new scala.util.Random(20211208)
    val docs = (1L to 200L).map { id =>
      id -> Seq.fill(rnd.nextInt(41))(
        if (rnd.nextInt(50) == 0) null else vocab(rnd.nextInt(vocab.size)))
    } :+ (201L -> (null: Seq[String]))
    val d = docs.toDF("doc_id", "toks")
    val cols = Seq("id", "n_toks") ++ Seq(2, 3, 4).map(n => s"top${n}_chars") ++
      (5 to 10).map(n => s"dup${n}_toks")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val got = rows(CorpusOps.repetitionSignals(d, "doc_id", col("toks")))
    val want = rows(repetitionReference(d))
    assert(got.size == 201)
    assert(got.map(_.drop(2)).exists(_.exists(_ != 0L)), "all-zero signals")
    assert(got == want)
  }

  test("repetitionSignals is linear in document length: a 50 000-token periodic doc") {
    // a period-7 body of 2-char tokens (49 000 tokens) then 1 000 unique
    // tail tokens: every body n-gram repeats, every gram touching the
    // tail is unique, so dup-n covers exactly the body and the best top-n
    // gram is a body gram occurring ceil((body - n + 1) / 7) times
    val (p, body, tail) = (7, 49000, 1000)
    val toks = (0 until body).map(i => s"a${i % p}") ++ (0 until tail).map(i => s"u$i")
    val d = Seq((1L, toks)).toDF("doc_id", "toks")
    val t0 = System.nanoTime()
    val r = CorpusOps.repetitionSignals(d, "doc_id", col("toks")).collect().head
    val secs = (System.nanoTime() - t0) / 1e9
    assert(r.getAs[Long]("n_toks") == body + tail)
    Seq(2, 3, 4).foreach { n =>
      val occurrences = (body - n + 1 + p - 1) / p
      assert(r.getAs[Long](s"top${n}_chars") == occurrences.toLong * (2 * n + n - 1), s"top$n")
    }
    (5 to 10).foreach(n => assert(r.getAs[Long](s"dup${n}_toks") == body, s"dup$n"))
    // O(L) per n is well under a second; an all-pairs O(L²) scan is not
    assert(secs < 60, s"took $secs s")
  }

  test("q_quality_repetition carries n_chars through one documents scan, no self-join") {
    val q = SparkEntry.queries("q_quality_repetition")(spark, sf)
    val plan = q.queryExecution.executedPlan
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    assert(scans.map(_.relation.location.rootPaths.map(_.getName).mkString) ==
      Seq("documents.parquet"), plan.toString)
    assert(collectWithSubqueries(plan) { case j: BaseJoinExec => j }.isEmpty, plan.toString)
    // the rows equal those of the form that joined n_chars back by doc_id
    val docs = Tables.load(spark, sf, "documents")
      .withColumn("norm", Dedup.normalized(col("text")))
      .withColumn("toks", split(col("norm"), " "))
      .withColumn("n_chars", length(col("norm")).cast("long"))
    val joined = CorpusOps.repetitionSignals(docs, "doc_id", col("toks"))
      .withColumnRenamed("id", "doc_id")
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val got = rows(q.select(joined.columns.map(col): _*))
    assert(got.nonEmpty)
    assert(got == rows(joined))
  }

  test("dupSpans merges overlapping and adjacent duplicate k-gram ranges") {
    // k=2 over: doc1 = p q r s t, doc2 = p q r x s t
    // duplicate 2-grams: "p q" (d1@0, d2@0), "q r" (d1@1, d2@1),
    // "s t" (d1@3, d2@4).
    // doc1: positions 0,1 merge to [0,3); position 3 gives [3,5) —
    // adjacent to [0,3) (3 > 3 is false) so ONE span [0,5).
    // doc2: [0,3) and [4,6) stay separate (4 > 3).
    val d = Seq(
      (1L, Seq("p", "q", "r", "s", "t")),
      (2L, Seq("p", "q", "r", "x", "s", "t"))
    ).toDF("doc_id", "toks")
    val out = CorpusOps.dupSpans(d, "doc_id", col("toks"), k = 2)
      .orderBy("doc_id", "span_start")
      .select("doc_id", "span_start", "span_end", "span_toks")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 0L, 5L, 5L), (2L, 0L, 3L, 3L), (2L, 4L, 6L, 2L)))
  }

  test("dupSpans: a corpus with no repeated k-grams yields no spans") {
    val d = Seq((1L, Seq("a", "b", "c")), (2L, Seq("d", "e", "f")))
      .toDF("doc_id", "toks")
    assert(CorpusOps.dupSpans(d, "doc_id", col("toks"), k = 2).count() == 0)
  }

  test("lmScore: add-one bigram NLL replays by hand") {
    // corpus: d1 = a b a b, d2 = a b c
    // bigram counts: "a b"->3, "b a"->1, "b c"->1
    // left-context totals: c1(a)=3, c1(b)=2; right-vocab V = {b,a,c} = 3
    val d = Seq(
      (1L, Seq("a", "b", "a", "b")),
      (2L, Seq("a", "b", "c"))
    ).toDF("doc_id", "toks")
    val out = CorpusOps.lmScore(d, "doc_id", col("toks"))
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "nll_sum", "vocab")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._4)) == Seq((1L, 3L, 3L), (2L, 2L, 3L)))
    // d1: -2 ln P(b|a) - ln P(a|b), P(b|a)=(3+1)/(3+3), P(a|b)=(1+1)/(2+3)
    val d1 = 2 * math.log(6.0 / 4) + math.log(5.0 / 2)
    // d2: -ln P(b|a) - ln P(c|b), P(c|b)=(1+1)/(2+3)
    val d2 = math.log(6.0 / 4) + math.log(5.0 / 2)
    assert(math.abs(out(0)._3 - d1) < 1e-9 && math.abs(out(1)._3 - d2) < 1e-9)
  }

  test("lmScore: docs without a bigram produce no row") {
    val d = Seq((1L, Seq("solo")), (2L, Seq("a", "b"))).toDF("doc_id", "toks")
    val out = CorpusOps.lmScore(d, "doc_id", col("toks"))
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("mixTemperature: integer ppm derivation and deterministic coin") {
    // X: 4 docs -> w=floor(1000*2)=2000; Y: 1 doc -> w=1000; S=3000
    // budget 3: ppm_X = floor(1e6*3*2000 / (3000*4)) = 500000
    //           ppm_Y = floor(1e6*3*1000 / (3000*1)) = 1e6 (capped)
    val d = Seq(("x1", "X"), ("x2", "X"), ("x3", "X"), ("x4", "X"),
      ("y1", "Y")).toDF("doc_id", "lang")
    val out = CorpusOps.mixTemperature(d, "doc_id", "lang", budget = 3L)
    val ppm = out.select("lang", "ppm").distinct().as[(String, Long)]
      .collect().toMap
    assert(ppm == Map("X" -> 500000L, "Y" -> 1000000L))
    // every Y doc survives the capped rate; X decisions replay the coin
    val kept = out.filter(col("keep")).select("doc_id").as[String]
      .collect().toSet
    assert(kept.contains("y1"))
    val expectX = Seq("x1", "x2", "x3", "x4").filter { id =>
      val h = graft.functions.SimHash64.fnv1a64(id)
      ((h % 1000000) + 1000000) % 1000000 < 500000
    }.toSet
    assert(kept - "y1" == expectX)
  }

  test("mixTemperature: corpus side joins the rate table by broadcast") {
    val d = Seq(("a", "X"), ("b", "Y")).toDF("doc_id", "lang")
    val plan = CorpusOps.mixTemperature(d, "doc_id", "lang", budget = 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("classifierState: gram count and deterministic milli-weight sum") {
    val d = Seq(("u v w")).toDF("text")
      .withColumn("toks", split(col("text"), " "))
      .select(CorpusOps.classifierState(col("toks")).as("st"))
      .select("st.n_grams", "st.milli_sum").as[(Long, Long)].head()
    // grams = 3 unigrams + 2 bigrams
    assert(d._1 == 5L)
    // each weight is in [-1000, 1000] by construction
    assert(math.abs(d._2) <= 5000L)
    // replay the documented arithmetic for one gram
    val h = graft.functions.SimHash64.fnv1a64("u")
    val b = ((h % 1024) + 1024) % 1024
    val w = (b * 2654435761L) % 2001L - 1000L
    assert(w >= -1000L && w <= 1000L)
  }
}
