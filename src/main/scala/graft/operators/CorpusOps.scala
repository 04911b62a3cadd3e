package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftScalar

/** Corpus-preparation operators a large-scale training-data pipeline runs
  * after dedup: semantic dedup over embeddings (SemDeDup — Abbas et al.,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication", 2023), Gopher/C4-style document quality filters (Rae
  * et al., "Scaling Language Models: ... Gopher", 2021 §A1.1; Raffel et
  * al., C4, JMLR 2020 §2.2), PII redaction, greedy sequence packing
  * (concat-and-chunk) and TF-IDF keyword extraction.
  *
  * Scale rules shared by every member: pure `functions._` column
  * arithmetic (codegen, no UDF) for the per-document work, joins only on
  * bucket keys (cluster id), and window functions partitioned by a
  * bounded key (language) — never a single global ordering. A
  * per-document signal that columns reach only by explode → groupBy(doc)
  * → join back is one row-local expression over the document's own array
  * instead ([[repetitionSignals]]: 1 Spark job where that plan ran 8).
  */
object CorpusOps {

  /** Estimated plan-output bytes from which [[persistIfLarge]] persists. */
  private val PersistThreshold = 256L << 20

  /** Size-gated persist for multi-consumer frames (guide §5: caching is
    * only worth it when the frame is reused AND recomputing costs more
    * than the memory pressure). [[lmScore]] consumes its exploded gram
    * frame twice (model build + scoring join); at bench scale
    * recomputing the scan+normalize+explode lineage per consumer is
    * CHEAPER than a cache write + barrier (r16 measured persist
    * variants slower at sf0.1; r17 measured neutral at a 50× corpus),
    * but past that each extra consumer is a full corpus pass — at a
    * 200× corpus the persisted shape measured 82-84 s vs 99-118 s
    * recomputed. Gate on the optimizer's size estimate: below the
    * threshold the plan is untouched (bench shape preserved), above it
    * the frame is persisted once and feeds every consumer from
    * memory/disk. The threshold is [[PersistThreshold]] (256 MB of
    * estimated plan output — scan estimates derive from file sizes, so
    * heavily-compressed corpora may need
    * spark.sql.sources.fileCompressionFactor raised).
    * Persisted frames register with [[graft.Tables.registerScratch]] so
    * the bench/verify harness unpersists them after the query.
    * [[repetitionSignals]] has no multi-consumer frame to gate: it is one
    * narrow pass over each document's token array. */
  private[graft] def persistIfLarge(df: DataFrame): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est >= PersistThreshold)
      graft.Tables.registerScratch(df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    else df
  }

  // ---------------------------------------------------------------- SemDeDup

  /** Intra-cluster near-duplicate pairs over a deterministic IVF
    * clustering ([[Ann.ivfIndexDeterministic]] — fixed seeding + Lloyd
    * steps, the oracle-able build). A pair is reported iff both vectors
    * land in the same cell and their cosine clears `threshold` — the
    * SemDeDup trick: k-means cells bound the candidate set (Σ cell², not
    * n²), exactly like the LSH band buckets in [[Dedup.minhashLshPairs]].
    * At 100 TB the cell id doubles as the partition key, so each cell's
    * self-join is co-located. */
  def semDedupPairs(df: DataFrame, idCol: String, embCol: String,
                    nlist: Int, iters: Int = 1,
                    threshold: Double = 0.3): DataFrame = {
    val (assigned, _) = Ann.ivfIndexDeterministic(df, idCol, embCol, nlist, iters)
    pairsFromAssigned(assigned, threshold)
  }

  /** The intra-cell pair rule over an already-built assignment —
    * [[semDedupStats]] shares one IVF build between the pair mining and
    * the per-cell counts instead of training twice. */
  private def pairsFromAssigned(assigned: DataFrame,
                                threshold: Double): DataFrame = {
    val withNorm = assigned.select(col("id"), col("cell"), col("emb"),
      sqrt(GraftScalar.dotArr(col("emb"), col("emb"))).as("nrm"))
    val a = withNorm.select(col("cell"), col("id").as("id_a"),
      col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = withNorm.select(col("cell"), col("id").as("id_b"),
      col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("cell"), col("id_a"), col("id_b"),
        round(GraftScalar.dotArr(col("emb_a"), col("emb_b")) /
          (col("nrm_a") * col("nrm_b")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup keep/remove decision, resolved per cluster: a document is
    * REMOVED iff some lower-id document in its cell is within `threshold`
    * cosine — the deterministic one-representative-per-εneighborhood rule
    * (the paper keeps a random representative; lowest-id is the
    * reproducible choice). Returns per-cell (n_docs, n_removed). */
  def semDedupStats(df: DataFrame, idCol: String, embCol: String,
                    nlist: Int, iters: Int = 1,
                    threshold: Double = 0.3): DataFrame = {
    val (assigned, _) = Ann.ivfIndexDeterministic(df, idCol, embCol, nlist, iters)
    val removed = pairsFromAssigned(assigned, threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("removed", lit(1L))
    assigned.join(removed, Seq("id"), "left")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("removed"), lit(0L))).as("n_removed"))
  }

  // ---------------------------------------------- Gopher/C4 quality filters

  /** Word n-grams WITH multiplicity (unlike [[Dedup.shinglesFromToks]],
    * which distincts) — repetition metrics need the duplicates. */
  def ngrams(toks: Column, n: Int): Column =
    filter(
      transform(toks, (_, i) =>
        when(i <= size(toks) - n, array_join(slice(toks, i + 1, lit(n)), " "))),
      x => x.isNotNull)

  /** Count of n-gram occurrences beyond each gram's first — the numerator
    * of Gopher's duplicate-n-gram fraction. */
  def dupNgramCount(toks: Column, n: Int): Column = {
    val gs = ngrams(toks, n)
    (size(gs) - size(array_distinct(gs))).cast("long")
  }

  /** Gopher-style accept decision from integer-only per-doc metrics (the
    * thresholds are the shape; a production run tunes them):
    * word count in [minTok, maxTok], >= 2 stopword hits, and duplicate
    * 2-gram fraction <= maxDupPermille/1000 (compared in integer
    * arithmetic so the decision is bit-stable for the oracle). */
  def gopherPass(toks: Column, minTok: Int = 5, maxTok: Int = 100000,
                 maxDupPermille: Int = 600): Column = {
    val n2 = (size(toks) - 1).cast("long")
    val dup = dupNgramCount(toks, 2)
    size(toks).between(minTok, maxTok) &&
      TextAnalysis.markerHits(toks, TextAnalysis.langMarkers("en")) >= 2 &&
      dup * 1000 <= lit(maxDupPermille.toLong) * n2
  }

  /** The full Gopher repetition-signal suite (Rae et al. 2021 §A1.1)
    * beyond [[gopherPass]]'s duplicate-2-gram count: per document,
    *
    *  - `top{2,3,4}_chars` — character coverage (occurrences × gram
    *    chars) of the single most-covering word n-gram, the numerator of
    *    "fraction of characters in the most frequent n-gram". Maximizing
    *    count×chars (not the count-maximal gram's chars) makes count
    *    ties deterministic; it is the same monotone signal.
    *  - `dup{5..10}_toks` — token positions covered by n-grams occurring
    *    ≥ 2 times within the document, overlap-merged so each position
    *    counts once (the "fraction of characters in duplicate n-grams"
    *    family, token-resolution, the paper's full n = 5..10 range).
    *
    * Every signal is defined per document, so it is one row-local
    * expression ([[graft.functions.RepetitionSignals]]): one hash map of
    * grams per (document, n), O(L·n) work, no shuffle, one Spark job.
    * The `carry` columns of `df` pass through after the signals, so a
    * caller needs no join back on the id for other per-document values. */
  def repetitionSignals(df: DataFrame, idCol: String, toksCol: Column,
                        topNs: Seq[Int] = Seq(2, 3, 4),
                        dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10),
                        carry: Seq[String] = Nil): DataFrame =
    df.select(Seq(col(idCol).as("id"), size(toksCol).cast("long").as("n_toks"),
        GraftScalar.repetitionSignals(toksCol, topNs, dupNs).as("sig")) ++
        carry.map(col): _*)
      .select(Seq(col("id"), col("n_toks"), col("sig.*")) ++ carry.map(col): _*)

  // ----------------------------------------------------------- PII scrubbing

  /** Conservative patterns valid in both Java regex and RE2-family
    * engines (no \d, no lookaround): email, dotted-quad IPv4, and bare
    * digit runs >= 9 (account/card-number shaped). Order matters: emails
    * first (their local parts may contain digits), then IPs (octets are
    * <= 3 digits so the NUM rule cannot eat them), then digit runs. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val LongNumRe = "[0-9]{9,}"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      LongNumRe, "<NUM>")

  def piiCounts(text: Column): (Column, Column, Column) =
    (regexp_count(text, lit(EmailRe)).cast("long"),
      regexp_count(regexp_replace(text, EmailRe, "<EMAIL>"), lit(Ipv4Re)).cast("long"),
      regexp_count(
        regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"),
        lit(LongNumRe)).cast("long"))

  // ------------------------------------------------------- sequence packing

  /** Concat-and-chunk packing stats (the GPT-style pretraining packer:
    * concatenate all documents of a stream in a deterministic order, cut
    * every `budget` tokens). Per document: its first and last chunk index
    * and whether it straddles a boundary. The stream key is `streamCol`
    * (language here) so the running sum is windowed per stream — the
    * scale-safe shape; a single global cumsum would serialize 100 TB
    * through one task. `budget` should be a power of two: the /budget
    * division is then exact in double arithmetic, keeping floor()
    * bit-stable for the oracle. */
  def packChunks(df: DataFrame, idCol: String, tokCol: Column,
                 streamCol: String, budget: Int): DataFrame = {
    val w = Window.partitionBy(col(streamCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), col(streamCol), tokCol.cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("first_chunk", floor((col("cum") - col("n_tok")) / budget))
      .withColumn("last_chunk", floor((col("cum") - 1) / budget))
  }

  // --------------------------------------------------- winnowing fingerprints

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003 — the MOSS algorithm): hash every word k-gram IN ORDER, slide
    * a window of `w` hashes, keep each window's minimum — guaranteed to
    * share fingerprints with any document that shares a run of ≥ w+k-1
    * words, with ~2/(w+1) of the grams kept. All array HOFs over the
    * token column: no shuffle, no UDF. Hashes are FNV-1a (the oracle
    * replays the polynomial); fewer than w grams → one window over all. */
  def winnowFingerprints(toks: Column, k: Int, w: Int): Column =
    winnowFromHashes(gramHashes(toks, k), w)

  /** Ordered FNV-1a hashes of the word k-grams. BIND THIS to a column
    * (`withColumn("hs", gramHashes(...))`) before winnowing a corpus:
    * interpreted HOF lambdas have no common-subexpression elimination,
    * so an inline hash array referenced inside the window transform
    * re-hashes every gram once PER WINDOW — O(m²) hashing observed as
    * a 40× slowdown (same trap as [[Dedup.shinglesFromToks]]). */
  def gramHashes(toks: Column, k: Int): Column =
    transform(ngrams(toks, k), g => GraftScalar.fnv1a64(g))

  /** Window-minima selection over a PRE-MATERIALIZED hash array. */
  def winnowFromHashes(hs: Column, w: Int): Column = {
    val nWin = greatest(size(hs) - w + 1, lit(1))
    filter(
      array_distinct(transform(sequence(lit(1), nWin),
        i => array_min(slice(hs, i, lit(w))))),
      x => x.isNotNull)
  }

  // ------------------------------------------------------- document chunking

  /** Overlapping character-window chunks (the RAG/embedding-prep
    * splitter): windows of `size` chars every `size - overlap` chars,
    * n = ceil(len/stride) so the tail is covered without empty windows.
    * One generate-and-explode per document — no shuffle, no UDF; at
    * 100 TB chunking is a flatMap-shaped scan, exactly this plan. */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                size: Int, overlap: Int): DataFrame = {
    require(size > overlap && overlap >= 0,
      s"chunkDocs: need size > overlap >= 0, got size=$size overlap=$overlap")
    val stride = size - overlap
    val n = ceil(length(col(textCol)) / lit(stride.toDouble)).cast("int")
    // Zero-length (or null) documents yield no chunks — an empty chunk row
    // is useless downstream and the n>=1 floor it required diverged from
    // the ceil(len/stride) contract the oracle mirrors.
    df.where(length(col(textCol)) > 0)
      .select(col(idCol),
        explode(transform(sequence(lit(0), n - 1),
          i => struct(i.as("chunk_idx"),
            col(textCol).substr(i * stride + 1, lit(size)).as("chunk"))))
          .as("c"))
      .select(col(idCol), col("c.chunk_idx"), col("c.chunk"))
  }

  // ------------------------------------------------- eval decontamination

  /** Test-set decontamination: corpus documents sharing any word n-gram
    * with the benchmark/eval set (the GPT-3 appendix-C / PaLM 13-gram
    * overlap rule; n is caller-chosen per corpus statistics). The eval
    * side is small by nature — its distinct-gram set is broadcast, so
    * the corpus side is one scan + semi-join with NO shuffle of document
    * text; only the matched ids are shuffled for the final distinct. */
  def contaminatedIds(corpus: DataFrame, evalDf: DataFrame,
                      idCol: String, textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame) = df
      .withColumn("toks", Dedup.tokenize(col(textCol)))
      .select(col(idCol).as("id"),
        explode(Dedup.shinglesFromToks(col("toks"), n)).as("gram"))
    val evalGrams = grams(evalDf).select(col("gram")).distinct()
    grams(corpus).join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .select(col("id")).distinct()
  }

  /** Bloom-accelerated [[contaminatedIds]] — byte-identical results, the
    * 100 TB plan: a bloom filter over the eval grams (built with Spark's
    * own BloomFilterAggregate, held as a query parameter like a centroid
    * table) prefilters the corpus gram stream INSIDE the scan
    * (`might_contain` is a codegen'd predicate — the overwhelmingly
    * non-matching grams never reach the join), and the exact broadcast
    * semi-join then removes the bloom's false positives. `fpp`-sized at
    * ~1 % with 8 bits/item. */
  def contaminatedIdsBloom(corpus: DataFrame, evalDf: DataFrame,
                           idCol: String, textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame) = df
      .withColumn("toks", Dedup.tokenize(col(textCol)))
      .select(col(idCol).as("id"),
        explode(Dedup.shinglesFromToks(col("toks"), n)).as("gram"))
    // Consumed three times (count for bloom sizing, bloom_filter_agg,
    // exact broadcast semi-join) — without a persist each consumer
    // re-runs the eval explode + distinct SHUFFLE. The eval set is a
    // query parameter by design (benchmark-sized, not corpus-sized), so
    // an unconditional persist is safe at any scale; released by the
    // harness via registerScratch.
    val evalGrams = graft.Tables.registerScratch(
      grams(evalDf).select(col("gram")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nItems = math.max(evalGrams.count(), 1L)
    val bloom = evalGrams
      .agg(call_function("bloom_filter_agg", xxhash64(col("gram")),
        lit(nItems), lit(nItems * 8)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    grams(corpus)
      .filter(call_function("might_contain", lit(bloom), xxhash64(col("gram"))))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .select(col("id")).distinct()
  }

  // ------------------------------------------------------------------ TF-IDF

  /** Per-stream TF-IDF keyword scores: for each (stream, term), total
    * occurrences * ln(docs-in-stream / docs-containing-term). One explode
    * + two aggregations, all shuffles on (stream, term). Scores are
    * rounded BEFORE ranking so the top-k cut is stable across engines. */
  def tfidfTerms(df: DataFrame, idCol: String, toksCol: Column,
                 streamCol: String): DataFrame = {
    val exploded = df.select(col(idCol).as("_doc"), col(streamCol).as("stream"),
      explode(toksCol).as("term"))
    val perTerm = exploded.groupBy(col("stream"), col("term"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col("_doc")).as("dfreq"))
    val perStream = exploded.groupBy(col("stream"))
      .agg(countDistinct(col("_doc")).as("n_docs"))
    perTerm.join(perStream, Seq("stream"))
      .withColumn("tfidf",
        round(col("cnt") * log(col("n_docs").cast("double") / col("dfreq")), 4))
  }

  // -------------------------------------------- paragraph-level dedup (CCNet)

  /** Paragraph-level exact dedup (CCNet — Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * 2019 §3: dedup at paragraph granularity removes boilerplate that
    * document-level dedup like [[Dedup.exact]] never sees). `parasCol`
    * is the document pre-split into paragraphs (real corpora split on
    * blank lines; callers choose the segmentation). The globally FIRST
    * occurrence of each distinct paragraph survives — first = smallest
    * (docId, in-doc index), the deterministic tie-break — and each doc
    * is rebuilt from its survivors in original order.
    *
    * Returns one row per doc: `n_paras`, `n_kept`, and `kept_text`.
    *
    * Scale shape: one shuffle keyed by the 16-byte md5 digest (digests
    * travel, not paragraph text) for the first-occurrence window, one
    * doc-keyed aggregation to rebuild — the same two-exchange plan at
    * 100 TB, with no skew risk beyond genuinely viral paragraphs (and
    * those groups only rank, never materialize pairs). */
  def paragraphDedup(df: DataFrame, idCol: String, parasCol: Column): DataFrame = {
    val ex = df.select(col(idCol), posexplode(parasCol).as(Seq("p_idx", "para")))
      .withColumn("digest", md5(col("para").cast("binary")))
    val w = Window.partitionBy(col("digest")).orderBy(col(idCol), col("p_idx"))
    ex.withColumn("rn", row_number().over(w))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("p_idx"), col("para"))))),
          s => s.getField("para")), " ").as("kept_text"))
  }

  // ----------------------------------- duplicate-substring spans (ExactSubstr)

  /** Duplicate-substring spans (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022 — ExactSubstr): training
    * pipelines cut REPEATED SPANS (licenses, boilerplate) out of
    * otherwise-unique documents, which whole-document dedup
    * ([[Dedup.exact]], reference `OPTIMIZE ... DEDUPLICATE`) cannot do.
    * The paper's suffix array is replaced by its k-token-gram
    * equivalence: a maximal span of >= k tokens is corpus-duplicated iff
    * every k-gram inside it occurs >= 2 times corpus-wide, so marking
    * duplicate k-grams and interval-merging their [pos, pos+k) ranges
    * per doc recovers the same spans at >= k-token resolution.
    *
    * Returns one row per merged span: (`idCol`, span_start, span_end
    * [token positions, end exclusive], span_toks).
    *
    * Scale shape: explode to one row per k-gram (n_tokens rows), count
    * by the 8-byte FNV gram hash (classic wordcount shuffle — the hash
    * travels, never gram text), join the >= 2 hashes back (Spark
    * broadcast-or-shuffle by size), and a per-doc window for the merge.
    * Nothing is quadratic; the window key is the doc id, so skew is
    * bounded by document length. */
  def dupSpans(df: DataFrame, idCol: String, toksCol: Column, k: Int): DataFrame = {
    val grams = df.select(col(idCol),
      posexplode(gramHashes(toksCol, k)).as(Seq("pos", "h")))
    val dupH = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2).select("h")
    val dup = grams.join(dupH, "h").select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("pos") + k)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("new_span",
        when(col("pos") > coalesce(prevEnd, lit(Long.MinValue)), 1L)
          .otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(w))
      .groupBy(col(idCol), col("span_id"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        max(col("pos") + k).cast("long").as("span_end"))
      .withColumn("span_toks", col("span_end") - col("span_start"))
      .drop("span_id")
  }

  // --------------------------------- hashed n-gram linear classifier (fastText)

  /** fastText-shaped linear quality classifier (Joulin et al., "Bag of
    * Tricks for Efficient Text Classification", 2016): the score is the
    * mean over (uni+bi)gram bucket weights, bucket = FNV-1a mod
    * `buckets`. The CCNet/LLaMA corpus pipelines run exactly this model
    * class for language/quality filtering at web scale. The weight table
    * here is a deterministic hash-derived stand-in in milli-units
    * (bucket * Knuth-multiplier mod 2001, shifted to [-1000, 1000]) —
    * the container ships no trained model; a production run swaps in a
    * broadcast float array with the identical plan shape. All arithmetic
    * is integer until the final mean, so the decision threshold is
    * bit-stable for the oracle.
    *
    * Returns a struct column (n_grams, milli_sum): callers derive
    * score = milli_sum / (1000 * n_grams) and pass = milli_sum > 0.
    * Pure codegen column work — no shuffle, no UDF, no broadcast. */
  def classifierState(toks: Column, buckets: Int = 1024): Column = {
    val grams = concat(toks, ngrams(toks, 2))
    val milli = transform(grams, g => {
      val b = pmod(GraftScalar.fnv1a64(g), lit(buckets.toLong))
      (b * 2654435761L) % 2001L - 1000L
    })
    struct(
      size(grams).cast("long").as("n_grams"),
      aggregate(milli, lit(0L), (acc, x) => acc + x).as("milli_sum"))
  }

  // --------------------------------- n-gram LM perplexity (CCNet LM filter)

  /** Bigram-LM document scoring — the OTHER half of CCNet next to
    * [[paragraphDedup]] (Wenzek et al., "CCNet: Extracting High Quality
    * Monolingual Datasets from Web Crawl Data", 2020 §3.3: documents are
    * scored by a KenLM n-gram model's perplexity and bucketed
    * head/middle/tail; gibberish and boilerplate score high). The
    * pre-trained 5-gram model becomes a corpus-trained add-one-smoothed
    * bigram model — P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), with
    * c(w1 ·) the left-context total and V the right-vocab size — so the
    * entire model derives from ONE bigram-count aggregation over the
    * corpus being scored.
    *
    * Returns one row per doc with >= 1 bigram: (idCol, n_bigrams,
    * nll_sum, vocab) where nll_sum = Σ -ln P over the doc's bigrams;
    * perplexity = exp(nll_sum / n_bigrams). `vocab` (same value on every
    * row) rides along so callers can phrase thresholds relative to the
    * uniform-model baseline ln(V) without a second pass.
    *
    * Scale shape: explode to one row per bigram, count by gram string
    * (wordcount shuffle whose RESULT is vocab-bounded, not corpus-
    * bounded), derive the context totals by re-aggregating that count
    * table (vocab-sized input — never touches the corpus again), then
    * join the doc grams back to both tables — Spark picks broadcast
    * when the model fits and shuffle-hash when it does not, exactly how
    * a model TABLE replaces CCNet's driver-loaded KenLM binary on a
    * 1000-executor cluster — and one doc-keyed re-aggregation. Skew is
    * bounded: the join key is the gram, and even a viral gram only
    * fans out to its occurrence count, never pairs. */
  def lmScore(df: DataFrame, idCol: String, toksCol: Column): DataFrame = {
    // consumed twice (model build + scoring join) — size-gated persist
    val grams = persistIfLarge(
      df.select(col(idCol), explode(ngrams(toksCol, 2)).as("g")))
    val c12 = grams.groupBy(col("g")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1"))
    val vocab = c12.select(
      countDistinct(substring_index(col("g"), " ", -1)).as("vocab"))
    grams
      .join(c12, "g")
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(c1, "w1")
      .crossJoin(broadcast(vocab))
      // -ln P = ln(c1 + V) - ln(c12 + 1); both args are exact integers,
      // so the only inexactness is ln itself
      .withColumn("nll",
        log((col("c1") + col("vocab")).cast("double")) -
          log((col("c12") + 1).cast("double")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_sum"),
        max(col("vocab")).as("vocab"))
  }

  // ------------------------------ temperature-flattened domain mixing

  /** Temperature sampling across domains — the mixing stage of every
    * multi-source pretraining corpus (the α-flattened sampling of
    * multilingual models: Conneau et al., "Unsupervised Cross-lingual
    * Representation Learning at Scale" (XLM-R), 2020 §3.1, q_d ∝ p_d^α
    * with α ≈ 0.3–0.7): domain d with c_d docs gets weight ∝ √c_d
    * (α = 0.5), flattening the natural distribution so a 100× bigger
    * domain is only 10× more likely per doc and small domains are not
    * drowned. Keep decisions are a DETERMINISTIC coin, not an RNG:
    * keep ⇔ pmod(fnv1a64(id), 10^6) < ppm_d — reproducible across runs,
    * engines and partitionings.
    *
    * The rate derivation is integer-exact end to end so the decision is
    * bit-stable for the oracle: w_d = floor(1000·√c_d) (√ is
    * IEEE-correctly-rounded, the milli-floor makes it an exact BIGINT),
    * S = Σ w_d (exact integer sum — immune to float summation order),
    * ppm_d = min(10^6, (10^6 · budget · w_d) div (S · c_d)). The
    * intermediate 10^6·budget·w_d needs headroom: fine in signed 64-bit
    * up to ~10^5-doc budgets with 10^9-doc domains; a 100 TB run lifts
    * the two products to DECIMAL(38,0) with the same floors.
    *
    * Returns `df` with (domain-keyed) `ppm` and per-row `keep` attached.
    *
    * Scale shape: one tiny groupBy(domain) count whose result is
    * |domains| rows, broadcast back onto the corpus, then a stateless
    * per-row hash filter — the corpus itself NEVER shuffles. */
  def mixTemperature(df: DataFrame, idCol: String, domainCol: String,
                     budget: Long): DataFrame = {
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("c"))
      .withColumn("w", floor(sqrt(col("c")) * 1000).cast("long"))
    val total = counts.agg(sum(col("w")).as("s"))
    val rates = counts.crossJoin(broadcast(total))
      // floor(n/d) over exact-integer n, d < 2^53 is the true integer
      // quotient: the double division is correctly rounded and a
      // non-integer rational n/d sits >= 1/d > 2^-53·(n/d) away from any
      // integer, so rounding can never cross one (and exact quotients
      // divide exactly) — bit-stable in any IEEE engine
      .withColumn("ppm",
        least(lit(1000000L),
          floor((lit(1000000L) * budget * col("w")).cast("double") /
            (col("s") * col("c")).cast("double")).cast("long")))
      .select(col(domainCol), col("c"), col("ppm"))
    df.join(broadcast(rates), domainCol)
      .withColumn("keep",
        pmod(GraftScalar.fnv1a64(col(idCol).cast("string")),
          lit(1000000L)) < col("ppm"))
  }
}
