package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N-gram bloom side index for substring (`LIKE '%...%'`) scans — the
  * Spark-shaped equivalent of the reference's full-text skip indexes
  * (daisy: `src/Storages/MergeTree/MergeTreeIndexFullText.cpp`,
  * registered `MergeTreeIndices.cpp:87-100`). Of the reference's two
  * extractors only the n-gram one supports LIKE
  * (`MergeTreeIndexFullText.cpp:375` — `supportLike()`; tokenbf cannot
  * prove a mid-token substring absent), so the index stores the n-grams
  * of each value; a LIKE pattern prunes via the n-grams of its literal
  * runs (`NgramTokenExtractor::nextLike` — wildcards reset the run).
  *
  * Granularity: the reference indexes per 8192-row granule inside a
  * part; Spark's scan unit is the FILE, so the sidecar holds one bloom
  * per (file, column), built with Spark's own BloomFilterAggregate
  * (partial-aggregated map-side: the shuffle moves one bloom per file
  * per task, never the gram stream). Consulting it is one planning-time
  * Spark job that probes the KB-per-file blooms where they are read and
  * returns one (file, passes) pair per file; the pruned file list feeds
  * `spark.read.parquet(files:_*)` — files the bloom disproves are never
  * opened. Blooms have no false negatives, so results are byte-identical
  * to the full scan; false positives only cost extra files read.
  *
  * 100 TB notes: sidecar size is #files × bits/8 (default 512 KiB → a
  * 100 k-file table carries a ~50 GB index, ~0.05 % of the data, read
  * once per query and broadcast-sized per column). Pruning power needs
  * token LOCALITY, same as the reference: a token uniformly present in
  * every granule/file skips nothing anywhere — cluster the layout
  * (partition/sort by the correlate) for the index to bite. The gate
  * fixture does exactly that; the hits bench table spreads its LIKE
  * tokens uniformly by construction, so the suite keeps its full scans
  * (documented, not a regression).
  */
object TokenBloomIndex {

  def sidecarPath(tablePath: String): String =
    tablePath.stripSuffix("/") + "_ngrambloom"

  /** Distinct character n-grams of a string column (codegen'd HOFs; the
    * bound-attribute rule from Dedup.shinglesFromToks applies — pass a
    * column reference, not a rewritten expression). Values shorter than
    * `n` yield no grams, mirroring NgramTokenExtractor. */
  def ngrams(c: Column, n: Int): Column =
    when(length(c) >= n,
      array_distinct(transform(sequence(lit(0), length(c) - n),
        i => c.substr(i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Build/refresh the sidecar: one bloom per (file, column) over all
    * n-grams of that file's values. Rebuild after table rewrites (the
    * file set changes); `Maintenance` jobs swap the directory, so the
    * sidecar next to it stays a separate, atomically-replaced table. */
  def build(spark: SparkSession, tablePath: String, cols: Seq[String],
            n: Int = 3, numBits: Long = 1L << 22): Unit = {
    graft.functions.GraftScalar.register(spark) // char_ngram_hashes
    val base = spark.read.parquet(tablePath)
      .select(input_file_name().as("file") +: cols.map(col): _*)
    val perCol = cols.map { cname =>
      // r16: grams are hashed in one native pass over the value's bytes
      // (functions.NgramHashes) instead of materializing every n-char
      // substring, distinct-ing the strings, and hashing post-explode —
      // bit-identical hash stream into the bloom (same XXH64 seed-42
      // kernel as xxhash64(substr)), a fraction of the allocation.
      base.select(col("file"),
          explode(graft.functions.GraftScalar.charNgramHashes(
            col(cname), n)).as("gh"))
        .groupBy(col("file"))
        .agg(call_function("bloom_filter_agg", col("gh"),
          lit(numBits / 8), lit(numBits)).as("bloom"))
        .select(col("file"), lit(cname).as("column"), lit(n).as("n"),
          col("bloom"))
    }
    perCol.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(sidecarPath(tablePath))
  }

  /** Literal runs of a LIKE pattern: maximal substrings between
    * unescaped `%`/`_` wildcards, with `\%`/`\_`/`\\` unescaped into the
    * run (the `likeStringToBloomFilter` walk). */
  def literalRuns(pattern: String): Seq[String] = {
    val runs = Seq.newBuilder[String]
    val cur = new StringBuilder
    var escaped = false
    pattern.foreach { ch =>
      if (escaped) { cur += ch; escaped = false }
      else if (ch == '\\') escaped = true
      else if (ch == '%' || ch == '_') {
        if (cur.nonEmpty) { runs += cur.result(); cur.clear() }
      } else cur += ch
    }
    if (cur.nonEmpty) runs += cur.result()
    runs.result()
  }

  /** Every n-gram a matching value provably contains. Empty ⇒ the
    * pattern cannot prune (all runs shorter than n). */
  def requiredGrams(pattern: String, n: Int): Seq[String] =
    literalRuns(pattern).flatMap(_.sliding(n).filter(_.length == n)).distinct

  private def pathKey(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** XxHash64 of a string exactly as `xxhash64(col)` computes it (seed
    * 42) — the hash BloomFilterAggregate inserted at build time. */
  private def gramHash(g: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(
        g, org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]

  /** Files that may contain a match for `column LIKE pattern`, plus the
    * table's total file count. The driver-side file list is planning
    * metadata (same cardinality class as partition pruning results). */
  def prunedFiles(spark: SparkSession, tablePath: String, column: String,
                  pattern: String): (Seq[String], Int) =
    prunedFilesForGrams(spark, tablePath, column,
      n => requiredGrams(pattern, n))

  /** Files that may contain a value carrying every gram of
    * `gramsOf(n)`, plus the table's total file count. Each sidecar row
    * is tested against `gramsOf(n)` for its own gram width `n`; a row
    * whose `n` yields no grams cannot prune, so its file passes. The
    * probe runs on the executors in one Spark job: the blooms never
    * reach the driver, only one (file, passes) pair per sidecar row
    * (O(#files) strings, the cardinality of the partition listing). */
  def prunedFilesForGrams(spark: SparkSession, tablePath: String,
                          column: String,
                          gramsOf: Int => Seq[String]): (Seq[String], Int) = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val tablePathQ = new org.apache.hadoop.fs.Path(tablePath)
    // the listing a parquet read would make, without its schema-inference job
    val tableFiles = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Seq(tablePathQ.getFileSystem(hadoopConf).makeQualified(tablePathQ)),
      Map.empty, None).inputFiles.toSeq
    val sidePath = new org.apache.hadoop.fs.Path(sidecarPath(tablePath))
    if (!sidePath.getFileSystem(hadoopConf).exists(sidePath))
      return (tableFiles, tableFiles.size)
    import org.apache.spark.sql.Encoders
    val probes = spark.read.schema("file STRING, column STRING, n INT, bloom BINARY")
      .parquet(sidePath.toString)
      .filter(col("column") === column)
      .select(col("file"), col("n"), col("bloom"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.scalaInt, Encoders.BINARY))
      .mapPartitions { it =>
        val hashesOf = scala.collection.mutable.HashMap.empty[Int, Seq[Long]]
        it.map { case (f, n, b) =>
          val hashes = hashesOf.getOrElseUpdate(n, gramsOf(n).map(gramHash))
          lazy val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(b))
          (f, hashes.forall(bf.mightContainLong))
        }
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaBoolean))
      .collect()
    val passing = probes.iterator.collect { case (f, true) => pathKey(f) }.toSet
    val covered = probes.iterator.map(p => pathKey(p._1)).toSet
    // a file the sidecar doesn't cover (added after build) is NEVER
    // pruned — the index is an accelerator, not a correctness gate
    val kept = tableFiles.filter(f =>
      !covered.contains(pathKey(f)) || passing.contains(pathKey(f)))
    (kept, tableFiles.size)
  }

  /** Index-pruned `SELECT ... WHERE column LIKE pattern` scan: reads
    * only files the bloom cannot disprove, then applies the exact LIKE
    * residual — byte-identical to the full scan. Returns the DataFrame
    * plus (filesRead, filesTotal) for metric assertions. */
  def scanLike(spark: SparkSession, tablePath: String, column: String,
               pattern: String): (DataFrame, Int, Int) = {
    val (files, total) = prunedFiles(spark, tablePath, column, pattern)
    val schema = spark.read.parquet(tablePath).schema
    val df =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).option("basePath", tablePath)
        .parquet(files: _*) // basePath keeps hive partition columns resolvable
    (df.filter(col(column).like(pattern)), files.size, total)
  }

  /** Index-pruned `hasToken(column, token)` scan. The reference serves
    * hasToken from BOTH full-text extractors (tokenbf stores whole
    * tokens; ngrambf stores the token's n-grams —
    * `MergeTreeIndexFullText.cpp` `hasToken` → `stringToBloomFilter`);
    * this sidecar is the n-gram one, and the implication is the same:
    * a value matching hasToken contains the token as a substring, hence
    * every n-gram of it — files missing any gram cannot match. Tokens
    * shorter than n yield no grams (unprunable, full scan). Only the
    * case-SENSITIVE variant prunes: case folding changes grams, so
    * `has_token_ci` must keep the full scan against this index. */
  def scanHasToken(spark: SparkSession, tablePath: String, column: String,
                   token: String): (DataFrame, Int, Int) = {
    require(token.nonEmpty && !token.getBytes("UTF-8").exists(
      graft.functions.VolnitskySearcher.isTokenSep),
      s"hasToken: needle must not contain separator chars: $token")
    val (files, total) = prunedFilesForGrams(spark, tablePath, column,
      n => token.sliding(n).filter(_.length == n).toSeq)
    val schema = spark.read.parquet(tablePath).schema
    val df =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).option("basePath", tablePath)
        .parquet(files: _*)
    graft.functions.GraftScalar.register(spark)
    // token is separator-free by the require above, so it cannot
    // contain a quote — direct SQL interpolation is unambiguous
    (df.filter(expr(s"has_token(`$column`, '$token')")), files.size, total)
  }
}
