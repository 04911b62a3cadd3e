package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Ann, Dedup, Multimodal}
import graft.functions.GraftScalar

class DataOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  test("exact dedup groups identical normalized texts") {
    val d = docs(
      1L -> "Hello  World", 2L -> "hello world", 3L -> "different doc",
      4L -> " hello world ")
    val out = Dedup.exact(d, "doc_id", "text").collect()
    assert(out.length == 2)
    val dupGroup = out.find(_.getAs[Long]("n_copies") == 3).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds near-duplicates and skips unrelated docs") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"token$i").mkString(" ")
    val unrelated = (100 to 140).map(i => s"other$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("native minhash_sig is bit-identical to the HOF composition") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "pack my box with five dozen liquor jugs",
      3L -> "a b")
      .withColumn("hs", transform(
        Dedup.shinglesFromToks(Dedup.tokenize(col("text")), 2), s => xxhash64(s)))
      .filter(size(col("hs")) > 0)
    val n = 16
    val hof = transform(sequence(lit(0), lit(n - 1)),
      i => array_min(transform(col("hs"), h => xxhash64(i, h))))
    val rows = d.select(col("doc_id"),
      GraftScalar.minhashSig(col("hs"), n).as("native"), hof.as("ref")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"doc ${r.getLong(0)}")
    }
  }

  test("native shingle_hashes matches the HOF shingle+hash composition") {
    val d = docs(
      1L -> "one two three four five six one two three four",  // repeated shingles
      2L -> "a b",                                              // shorter than n
      3L -> "x y z")                                            // exactly n
      .withColumn("toks", Dedup.tokenize(col("text")))
    val hof = transform(Dedup.shinglesFromToks(col("toks"), 3),
      s => GraftScalar.fnv1a64(s))
    val rows = d.select(col("doc_id"),
      GraftScalar.shingleHashes(col("toks"), 3).as("native"), hof.as("ref")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"doc ${r.getLong(0)}")
    }
  }

  test("dot_arr generated code matches the HOF composition (float + double)") {
    val d = Seq(
      (1L, Seq(1.5f, -2.25f, 3.0f), Seq(0.5, 2.0, -1.25)),
      (2L, Seq(0.0f, 0.0f, 0.0f), Seq(1.0, 1.0, 1.0)),
      (3L, Seq(-1.0f, 2.0f, 4.5f), Seq(-1.0, 2.0, 4.5))).toDF("id", "fa", "da")
    val hofFF = aggregate(zip_with($"fa".cast("array<double>"), $"fa".cast("array<double>"),
      (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    val hofFD = aggregate(zip_with($"fa".cast("array<double>"), $"da", (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x)
    val rows = d.select(
      GraftScalar.dotArr($"fa", $"fa").as("n_ff"), hofFF.as("h_ff"),
      GraftScalar.dotArr($"fa", $"da").as("n_fd"), hofFD.as("h_fd"),
      GraftScalar.dotArr($"da", $"da").as("n_dd")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }

  test("simhash pairs: near-identical docs within hamming 3, unrelated not") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = base + " extra"
    val unrelated = (200 to 260).map(i => s"z$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val pairs = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhash64 expression is deterministic and order-sensitive-ish") {
    val d = Seq((1L, Seq("a", "b", "c")), (2L, Seq("a", "b", "c")),
      (3L, Seq("x", "y", "z"))).toDF("id", "toks")
    val fps = d.select($"id", GraftScalar.simhash64($"toks").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("ngram jaccard: permuted doc scores low, near-identical high") {
    val base = (1 to 30).map(i => s"t$i").mkString(" ")
    val shuffled = scala.util.Random.shuffle((1 to 30).map(i => s"t$i").toList).mkString(" ")
    val nearDup = base.replace("t15", "qq")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> shuffled)
      .withColumn("blk", lit("x")).withColumn("len", length($"text"))
    val out = Dedup.ngramJaccardPairs(d, "doc_id", "text", "blk", "len",
      lenTol = 1000, n = 3, threshold = 0.01)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 2L)) > 0.7)
    // permuted doc: low/no overlap — absent (index-driven) or scored low
    assert(out.get((1L, 3L)).forall(_ < 0.2))
  }

  test("brute-force ANN: query's own vector ranks first with cosine 1") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.filter($"vec_id" === 3).select($"embedding").head.getSeq[Float](0)
    val top = Ann.bruteForceTopK(emb, "vec_id", "embedding", q, 5).collect()
    assert(top.head.getAs[Long]("id") == 3L)
    assert(math.abs(top.head.getAs[Double]("cosine") - 1.0) < 1e-6)
  }

  test("LSH ANN returns a subset consistent with brute force ranking") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding").head.getSeq[Float](0)
    val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", q, 50)
      .collect().map(_.getAs[Long]("id")).toSet
    val lsh = Ann.lshTopK(emb, "vec_id", "embedding", q, 10,
      bands = 1, rowsPerBand = 4).collect()
    assert(lsh.nonEmpty)
    // the query vector itself always shares its own bucket → rank 1
    assert(lsh.head.getAs[Long]("id") == 0L)
    // candidates are genuinely similar: top LSH hits appear in brute-force top-50
    val hitRate = lsh.take(5).count(r => brute.contains(r.getAs[Long]("id"))) / 5.0
    assert(hitRate >= 0.2, s"hitRate=$hitRate")
  }

  test("IVF ANN: probed-cell search recalls most of the brute-force top-k") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding").head.getSeq[Float](0)
    val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getAs[Long]("id")).toSet
    val (index, centers) = Ann.ivfIndex(emb, "vec_id", "embedding", nlist = 8)
    val got = Ann.ivfTopK(index, centers, q, 10, nprobe = 4)
      .collect().map(_.getAs[Long]("id")).toSet
    // half the cells probed: the query's own cell always among them, so
    // the query vector itself and its near neighbors are found
    assert(got.contains(0L))
    val recall = brute.intersect(got).size / 10.0
    assert(recall >= 0.5, s"recall=$recall got=$got brute=$brute")
  }

  test("SQ8 ANN: quantized search recalls nearly all of the brute-force top-k") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding").head.getSeq[Float](0)
    val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getAs[Long]("id")).toSet
    val got = Ann.sq8TopK(emb, "vec_id", "embedding", q, 10).collect()
    // 8-bit levels keep ~1/255 of the per-dim range as max error: the
    // query finds itself at rank 1 with cosine ≈ 1 and the top-k barely
    // moves relative to exact search.
    assert(got.head.getAs[Long]("id") == 0L)
    assert(math.abs(got.head.getAs[Double]("cosine") - 1.0) < 1e-3)
    val recall = brute.intersect(got.map(_.getAs[Long]("id")).toSet).size / 10.0
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("IVFPQ ANN: probed-cell PQ search overlaps the IVF result") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding").head.getSeq[Float](0)
    val got = Ann.ivfPqTopK(emb, "vec_id", "embedding", q, 10,
      nlist = 8, nprobe = 3, m = 8, ksub = 16).collect()
    assert(got.length == 10)
    // the probe always includes the query's own cell; PQ codes are coarse
    // but the query's reconstruction stays its own nearest code word
    assert(got.head.getAs[Long]("id") == 0L)
    // results must be a subset of what an unrestricted PQ scan returns
    // scored identically — i.e. the probe filters, never rescores
    val pqAll = Ann.pqTopK(emb, "vec_id", "embedding", q, 500,
      m = 8, ksub = 16).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("cosine")).toMap
    got.foreach { r =>
      assert(pqAll(r.getAs[Long]("id")) == r.getAs[Double]("cosine"))
    }
  }

  test("stratified sampling is deterministic, rate-proportional, and respects 0/100 bounds") {
    import graft.operators.Sampling
    val docs = Tables.load(spark, sf, "documents")
    val total = docs.filter($"lang" === "en").count()
    val kept = Sampling.stratified(docs, "doc_id", "lang",
      Map("en" -> 30), defaultPct = 0)
    val keptEn = kept.filter($"lang" === "en").count()
    assert(kept.count() == keptEn, "default 0% must drop all other strata")
    // hash uniformity: observed rate within a wide band of the target
    assert(keptEn >= total * 15 / 100 && keptEn <= total * 45 / 100,
      s"kept $keptEn of $total")
    // deterministic: identical result on re-evaluation
    val again = Sampling.stratified(docs, "doc_id", "lang",
      Map("en" -> 30), defaultPct = 0)
      .select($"doc_id").as[Long].collect().sorted
    assert(again.sameElements(
      kept.select($"doc_id").as[Long].collect().sorted))
    assert(Sampling.stratified(docs, "doc_id", "lang",
      Map("en" -> 100), defaultPct = 100).count() == docs.count())
  }

  test("PQ ANN: reconstruction search overlaps the brute-force top-k") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding").head.getSeq[Float](0)
    val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getAs[Long]("id")).toSet
    val got = Ann.pqTopK(emb, "vec_id", "embedding", q, 10,
      m = 8, ksub = 16, iters = 1).collect()
    assert(got.length == 10)
    // m=8 × 16-centroid codebooks: coarse codes, but the ranking must
    // still be similarity-driven, not arbitrary.
    val recall = brute.intersect(got.map(_.getAs[Long]("id")).toSet).size / 10.0
    assert(recall >= 0.3, s"recall=$recall")
    // cosine column is a genuine similarity: descending and within [-1,1]
    val cs = got.map(_.getAs[Double]("cosine"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    assert(cs.forall(c => c <= 1.0 + 1e-9 && c >= -1.0 - 1e-9))
  }

  test("LSH near-dup pairs: true near-dups recalled, matches exact rerank") {
    // deterministic corpus with two planted near-dup pairs: (0,1) and
    // (2,3) differ by a tiny perturbation in one dimension; the rest are
    // pseudo-random (hash-derived) vectors.
    def vec(seed: Int): Seq[Float] =
      (0 until 32).map(d => (((seed * 31 + d) * 2654435761L % 1000) / 500.0f) - 1.0f)
    val rows = Seq(
      0L -> vec(100), 1L -> vec(100).updated(5, vec(100)(5) + 0.01f),
      2L -> vec(200), 3L -> vec(200).updated(9, vec(200)(9) - 0.01f)) ++
      (4 until 40).map(i => i.toLong -> vec(i))
    val emb = rows.toDF("vec_id", "embedding")
    val lsh = Ann.lshNearDupPairs(emb, "vec_id", "embedding", topN = 2,
      bands = 4, rowsPerBand = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((0L, 1L), (2L, 3L)))
    // exact cross-check: the O(n²) reference ranks the same two pairs first
    val exact = Ann.topSimilarPairs(emb, "vec_id", "embedding", topN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == lsh)
  }

  test("multimodal: features + frame sampling through mapPartitions") {
    val media = Multimodal.mediaFromDocuments(spark,
      Tables.load(spark, sf, "documents"))
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 500)
    feats.foreach { f =>
      assert(f.n_bytes > 0 && f.mean_byte > 0 && f.byte_entropy > 0)
      assert(f.n_frames == Multimodal.nFrames(f.n_bytes.toInt))
      assert(Set("image", "audio", "video").contains(f.kind))
    }
    val frames = Multimodal.sampleFrames(media, stride = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_bytes.length <= Multimodal.FrameSize))
  }

  test("connected components + canonicalize keep one doc per cluster") {
    import spark.implicits._
    // two chains (1-2-3, 10-11) and a singleton edge pair (20-21);
    // docs 30, 31 appear in no pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(20L) == 20L && comp(21L) == 20L)
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 30L, 31L).toDF("doc_id")
    val kept = Dedup.canonicalize(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 20L, 30L, 31L))
    // empty pair set: all docs pass through (no NPE on the fixpoint)
    val none = Dedup.canonicalize(docs, "doc_id",
      pairs.limit(0)).collect().map(_.getLong(0)).toSet
    assert(none == docs.collect().map(_.getLong(0)).toSet)
    // string ids: min-label works on any orderable key type
    val sPairs = Seq(("a", "b"), ("b", "c")).toDF("x", "y")
    val sComp = Dedup.connectedComponents(sPairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sComp == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("connected components over several edge partitions match a union-find reference") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val ids = rng.shuffle((0L until 80000L).toVector)
    // long chains whose ids rise along the chain, fall along it, and
    // follow no order; trees; clusters of two and three
    val rising = (1L until 12000L).map(i => (100000L + i - 1, 100000L + i))
    val falling = (1L until 12000L).map(i => (300000L - i + 1, 300000L - i))
    val shuffled = ids.take(8000).sliding(2).map(p => (p(0), p(1))).toSeq
    val trees = (8000 until 60000).map(i =>
      (ids(i), ids(8000 + (i - 8000) / 100 * 100 + rng.nextInt(math.max(1, (i - 8000) % 100)))))
    val small = (60000 until 79998 by 3).flatMap(i =>
      Seq((ids(i), ids(i + 1)), (ids(i + 1), ids(i + 2))).take(1 + i % 2))
    val pairs = rising ++ falling ++ shuffled ++ trees ++ small
    // both directions of every pair: more edges than one partition holds
    assert(pairs.size * 2 > 100000 && spark.sparkContext.defaultParallelism > 1)

    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap

    val pairFrame = rng.shuffle(pairs).toDF("a", "b")
    val got = Dedup.connectedComponents(pairFrame)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == expected.size)
    assert(got == expected)
    // the estimate sends this graph through the contraction loop, and the
    // loop needs more than one round for it
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(pairFrame, maxIter = 1))
    assert(e.getMessage.contains("did not converge in 1 rounds"))
  }

  test("connected components of a small pair graph are one lazy pass: no Spark job, no conf change") {
    import spark.implicits._
    val confs = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val before = confs.map(spark.conf.get)
    // duplicate pairs, both directions of a pair and a cycle: union-find
    // needs neither the symmetric union nor a distinct
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (2L, 1L), (10L, 11L), (12L, 11L))
      .toDF("a", "b")
    assert(jobsIn(Dedup.connectedComponents(pairs)) == 0)
    assert(confs.map(spark.conf.get) == before)
    assert(Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    assert(confs.map(spark.conf.get) == before)
    // the registered query over a parquet table builds without a job too
    Tables.load(spark, sf, "orders")
    assert(jobsIn { SparkEntry.queries("q_dedup_components")(spark, sf) } == 0)
    assert(confs.map(spark.conf.get) == before)
    // ids of two widths are widened to one type before the union-find
    val mixed = Seq((1, 2L), (2, 3L)).toDF("a", "b")
    assert(Dedup.connectedComponents(mixed).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}
