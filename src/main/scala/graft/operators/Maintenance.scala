package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table maintenance jobs — the reference's background machinery as
  * explicit batch jobs (daisy: TTL expiry
  * `src/DataStreams/TTLBlockInputStream.cpp`; part merges / OPTIMIZE
  * `src/Storages/MergeTree/MergeTreeData.cpp` background merges).
  *
  * On Spark these are rewrite jobs over the table path: TTL = filtered
  * rewrite (the scheduled `DELETE WHERE` analogue), OPTIMIZE = file
  * compaction to a target file count. Both stream through executors —
  * nothing driver-side — and both write to a temp location then swap, so
  * a failed job never corrupts the table.
  */
object Maintenance {

  /** Exact row count of a parquet directory from file FOOTERS — a
    * metadata read, not a scan job (guide §1.2: don't re-read the data
    * to learn what its metadata already records). Every maintenance
    * rewrite below used to run 1-3 full-table `count()` actions purely
    * for its returned bookkeeping counts; footer sums answer the same
    * question exactly (parquet block metadata is authoritative) for the
    * cost of the directory listing the next scan would repeat anyway.
    * Footers are read driver-side in parallel — at a 100 TB table this
    * is O(files) small reads instead of a full data pass. Files are found
    * at any depth, so a partitioned layout (`TimeTable`'s
    * `_time_bucket=...` directories) counts too; directories Spark's file
    * index skips (`_temporary`, hidden ones) are skipped here as well. */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def parquetFiles(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (st.isFile) Option.when(name.endsWith(".parquet"))(st).toSeq
      else if (name.startsWith(".") || (name.startsWith("_") && !name.contains("="))) Nil
      else parquetFiles(st.getPath)
    }
    java.util.Arrays.stream(parquetFiles(root).toArray).parallel().mapToLong { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum()
  }

  /** TTL expiry: drop rows whose `timeCol` is older than `cutoffIso`.
    * Returns (kept, dropped) counts. */
  def expireOlderThan(spark: SparkSession, path: String,
                      timeCol: String, cutoffIso: String): (Long, Long) = {
    val df = spark.read.parquet(path)
    val total = parquetRowCount(spark, path)
    val kept = df.filter(col(timeCol) >= lit(cutoffIso).cast("timestamp"))
    val tmp = path + ".ttl_tmp"
    kept.write.mode("overwrite").parquet(tmp)
    val keptCount = parquetRowCount(spark, tmp)
    swap(spark, tmp, path)
    (keptCount, total - keptCount)
  }

  /** OPTIMIZE: compact a table directory to `targetFiles` files,
    * optionally re-sorting (restores row-group skipping after many small
    * ingest batches — the reference's merge-parts behavior). */
  def compact(spark: SparkSession, path: String, targetFiles: Int,
              sortBy: Seq[String] = Seq.empty): Long = {
    val df = spark.read.parquet(path)
    val arranged =
      if (sortBy.nonEmpty)
        df.repartitionByRange(targetFiles, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else df.coalesce(targetFiles)
    val tmp = path + ".opt_tmp"
    arranged.write.mode("overwrite").parquet(tmp)
    val n = parquetRowCount(spark, tmp)
    swap(spark, tmp, path)
    n
  }

  /** TTL rollup-on-expiry — the reference's `TTL expr GROUP BY k…
    * SET col = agg(col), …` mode (daisy:
    * `src/DataStreams/TTLAggregationAlgorithm.cpp:41-121`,
    * `src/Storages/TTLDescription.cpp:202-288`): instead of deleting,
    * expired rows collapse to one row per group key; each SET column
    * takes its aggregate (cast back to the column type, per the
    * interpreter's addTypeConversionToAST), and every other non-key
    * column is wrapped in `any()` — the first value in part order.
    *
    * Spark shape: split the table on the TTL predicate, hash-aggregate
    * only the expired slice (one shuffle over that slice; survivors
    * stream through untouched), union, temp+swap rewrite. `any` is
    * pinned deterministically to the row minimizing `anyOrderCol`
    * within the group (the reference reads parts in PK order, so its
    * "first" is the PK-minimal row — pass the PK tail here to match).
    * Rows with NULL `timeCol` never expire. Returns
    * (survivors, expired, rollupRows). */
  def expireGroupBy(spark: SparkSession, path: String,
                    timeCol: String, cutoffIso: String,
                    groupKeys: Seq[String],
                    setExprs: Seq[(String, String)],
                    anyOrderCol: String): (Long, Long, Long) = {
    val df = spark.read.parquet(path)
    val cols = df.columns.toSeq
    require(groupKeys.forall(cols.contains), s"expireGroupBy: unknown group keys ${groupKeys.filterNot(cols.contains)}")
    val setMap = setExprs.toMap
    require(setExprs.size == setMap.size,
      "expireGroupBy: multiple aggregations set for one column (the reference rejects these)")
    require(setMap.keySet.subsetOf(cols.toSet -- groupKeys),
      "expireGroupBy: SET columns must be non-key table columns")
    val expiredPred = col(timeCol) < lit(cutoffIso).cast("timestamp")
    val kept = df.filter(!coalesce(expiredPred, lit(false)))
    val expired = df.filter(coalesce(expiredPred, lit(false)))
    val aggs = cols.filterNot(groupKeys.contains).map { c =>
      setMap.get(c) match {
        case Some(e) => expr(e).cast(df.schema(c).dataType).as(c)
        case None    => min_by(col(c), col(anyOrderCol)).as(c)
      }
    }
    val rollup = expired.groupBy(groupKeys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(cols.map(col): _*)
    val tmp = path + ".ttlagg_tmp"
    kept.select(cols.map(col): _*).unionAll(rollup)
      .write.mode("overwrite").parquet(tmp)
    // one predicate count job; total and after come from footers
    val expiredCount = expired.count()
    val total = parquetRowCount(spark, path)
    swap(spark, tmp, path)
    val after = parquetRowCount(spark, path)
    (total - expiredCount, expiredCount, after - (total - expiredCount))
  }

  /** Column TTL (daisy: `src/DataStreams/TTLColumnAlgorithm.cpp:26-66`):
    * rows whose `timeCol` expired keep living, but `targetCol` resets to
    * its DEFAULT expression — NULL when none (the reference inserts the
    * type default; Spark columns are nullable, so NULL is the honest
    * default here and any other default is the explicit `defaultSql`).
    * The result is cast to the column's type, same as every mutation.
    * NULL-time rows never expire. Returns the number of reset rows. */
  def expireColumn(spark: SparkSession, path: String,
                   timeCol: String, cutoffIso: String, targetCol: String,
                   defaultSql: Option[String] = None): Long = {
    val df = spark.read.parquet(path)
    require(df.columns.contains(targetCol), s"expireColumn: no column $targetCol")
    val expired = coalesce(
      col(timeCol) < lit(cutoffIso).cast("timestamp"), lit(false))
    val dt = df.schema(targetCol).dataType
    val dflt = defaultSql.map(expr).getOrElse(lit(null)).cast(dt)
    val outCols = df.columns.map { c =>
      if (c == targetCol) when(expired, dflt).otherwise(col(c)).as(c)
      else col(c)
    }
    val reset = df.filter(expired).count()
    val tmp = path + ".ttlcol_tmp"
    df.select(outCols.toIndexedSeq: _*).write.mode("overwrite").parquet(tmp)
    swap(spark, tmp, path)
    reset
  }

  /** TTL recompression (daisy: `TTLDescription.cpp:288-292` RECOMPRESS
    * mode + `MergeTreeDataPartTTLInfos` recompression scheduling): parts
    * whose data aged past the cutoff are rewritten with a
    * heavier-but-smaller codec while hot data keeps the fast one. Spark
    * shape: split on the TTL predicate, write the cold slice with
    * `coldCodec` and the hot slice with the session default, temp+swap.
    * Parquet allows per-file codecs inside one directory, so readers
    * are unaffected. Returns (hotRows, coldRows). */
  def recompressOlderThan(spark: SparkSession, path: String,
                          timeCol: String, cutoffIso: String,
                          coldCodec: String = "zstd"): (Long, Long) = {
    val df = spark.read.parquet(path)
    val expired = coalesce(
      col(timeCol) < lit(cutoffIso).cast("timestamp"), lit(false))
    val tmp = path + ".ttlrc_tmp"
    df.filter(expired).write.mode("overwrite")
      .option("compression", coldCodec).parquet(tmp)
    // cold count from the cold slice's footers BEFORE the hot append —
    // removes two more full passes (the old filter-count + total-count)
    val cold = parquetRowCount(spark, tmp)
    df.filter(!expired).write.mode("append").parquet(tmp)
    val total = parquetRowCount(spark, tmp)
    swap(spark, tmp, path)
    (total - cold, cold)
  }

  /** Data-file count per codec suffix (Spark names part files
    * `...c000.<codec>.parquet`) — the recompression gate's metric. */
  def fileCountByCodec(spark: SparkSession, path: String): Map[String, Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .groupBy(n => n.split('.').takeRight(2).head)
      .map { case (k, v) => k -> v.size }
  }

  /** ALTER TABLE … DELETE WHERE — the reference's mutation subsystem
    * (`src/Interpreters/MutationsInterpreter.cpp`: a mutation re-reads
    * the affected parts, drops matching rows, writes replacement parts).
    * Spark: filtered rewrite through the same crash-recoverable
    * temp+swap as TTL. Rows where the predicate is NULL are KEPT (the
    * DELETE takes only rows where it is true). Returns
    * (kept, deleted). */
  def mutateDelete(spark: SparkSession, path: String,
                   predicateSql: String): (Long, Long) = {
    val df = spark.read.parquet(path)
    val total = parquetRowCount(spark, path)
    val kept = df.filter(!coalesce(expr(predicateSql), lit(false)))
    val tmp = path + ".del_tmp"
    kept.write.mode("overwrite").parquet(tmp)
    val keptCount = parquetRowCount(spark, tmp)
    swap(spark, tmp, path)
    (keptCount, total - keptCount)
  }

  /** ALTER TABLE … UPDATE col = expr, … WHERE — mutation semantics per
    * MutationsInterpreter: every assignment expression and the predicate
    * are evaluated against the PRE-mutation row (so `a = b, b = a`
    * swaps), and each result is cast back to its column's type (the
    * interpreter wraps assignments in CAST to the column type). One
    * projection + rewrite; unmatched rows pass through byte-identical.
    * Returns the number of matched (rewritten) rows. */
  def mutateUpdate(spark: SparkSession, path: String,
                   assignments: Seq[(String, String)],
                   predicateSql: String): Long = {
    val df = spark.read.parquet(path)
    require(assignments.map(_._1).distinct.size == assignments.size,
      "mutateUpdate: duplicate assignment to one column (the reference's " +
        "MutationsInterpreter rejects these rather than last-write-wins)")
    val asg = assignments.toMap
    require(asg.keySet.subsetOf(df.columns.toSet),
      s"mutateUpdate: unknown columns ${asg.keySet -- df.columns}")
    val pred = coalesce(expr(predicateSql), lit(false))
    val matched = df.filter(pred).count()
    val outCols = df.columns.map { c =>
      asg.get(c) match {
        case Some(e) =>
          when(pred, expr(e).cast(df.schema(c).dataType))
            .otherwise(col(c)).as(c)
        case None => col(c)
      }
    }
    val tmp = path + ".upd_tmp"
    df.select(outCols.toIndexedSeq: _*).write.mode("overwrite").parquet(tmp)
    swap(spark, tmp, path)
    matched
  }

  /** Swap `tmp` into place at `path`, crash-recoverably: the live dir is
    * renamed aside first, so every crash point leaves either the old or
    * the new directory intact (recovery = rename `path + ".old"` back).
    * Concurrent readers can still observe a brief window where `path` is
    * absent between the two renames — the guarantee is recoverability,
    * not availability. Hadoop `fs.rename` signals failure by returning
    * false (not throwing), so each step is checked; a failed second
    * rename restores the aside copy before aborting. */
  private def swap(spark: SparkSession, tmp: String, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    fs.delete(old, true)                                   // clear stale leftovers
    if (!fs.rename(p, old))                                // live → aside
      throw new java.io.IOException(s"swap: rename $p -> $old failed")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), p)) { // new → live
      fs.rename(old, p)                                    // restore live copy
      throw new java.io.IOException(s"swap: rename $tmp -> $p failed (restored $old)")
    }
    fs.delete(old, true)                                   // drop aside
  }

  /** Current data-file count of a table directory. */
  def fileCount(spark: SparkSession, path: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).count(f => f.getPath.getName.endsWith(".parquet"))
  }
}
