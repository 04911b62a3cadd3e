package graft.functions

import java.util.{HashSet => JHashSet}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** shingle_hashes(tokens, n) — distinct 64-bit FNV-1a hashes of the word
  * n-grams of a token array, in first-occurrence order, as one native
  * pass.
  *
  * Fuses what was a four-layer interpreted HOF chain
  * (indexed transform → slice → array_join, then filter, array_distinct,
  * and a second transform for the hash) — per-element interpreted lambda
  * evaluation there cost ~1.4 ms per 50-token document and dominated the
  * dedup benchmarks. Hash values are bit-identical to
  * `fnv1a64(array_join(slice(toks, i+1, n), " "))`
  * ([[SimHash64.fnv1a64]] over UTF-8 bytes — FNV-1a rather than
  * xxhash64 so the exact per-shingle hash is reproducible byte-for-byte
  * in external engines and the DuckDB correctness oracle can mirror the
  * whole MinHash/LSH pipeline, not just its row counts). The distinct
  * hash set equals the distinct shingle-string set (64-bit collisions ~
  * |shingles|²/2^64), so MinHash signatures, LSH buckets, and Jaccard
  * counts are hash-choice-independent.
  *
  * Codegen emits a static call to [[ShingleHashes.compute]] so the
  * shingling projection stays inside WholeStageCodegen.
  */
case class ShingleHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) if right.dataType == IntegerType && right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires (array<string>, foldable int), got " +
        s"${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    ShingleHashes.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, n) =>
      s"${ev.value} = graft.functions.ShingleHashes.compute($toks, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleHashes =
    copy(left = newLeft, right = newRight)
}

/** char_ngram_hashes(s, n) — distinct xxhash64 (seed 42, Spark's
  * `xxhash64`) values of every n-CHARACTER substring of `s`, in
  * first-occurrence order, as one native pass over the string's bytes.
  *
  * Replaces the four-layer chain the n-gram bloom sidecar build ran per
  * value — `transform(sequence(...), i => substr(i+1, n))` (one
  * UTF8String copy per gram), `array_distinct` over those strings,
  * `explode`, then `xxhash64` — with a zero-copy sliding byte window:
  * character starts are found once (UTF-8 first-byte widths), each
  * window [start(i), start(i+n)) is hashed IN PLACE with the same XXH64
  * kernel `xxhash64(substring)` uses, so every emitted hash is
  * bit-identical to the old pipeline's and the sidecar's membership
  * probes (`TokenBloomIndex.gramHash`) keep matching. Strings shorter
  * than n chars yield an empty array (the old `when(length(c) >= n, …)`
  * guard); nulls stay null. NOTE: the replaced ngrams() pipeline
  * returned an EMPTY ARRAY for a null string — equivalent under explode
  * (the only caller: both produce zero rows) but divergent for any
  * future direct use of the registered char_ngram_hashes function
  * (advisor r16).
  */
case class NgramHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case StringType if right.dataType == IntegerType && right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"char_ngram_hashes requires (string, foldable int), got " +
        s"${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    NgramHashes.compute(l.asInstanceOf[UTF8String], r.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n) =>
      s"${ev.value} = graft.functions.NgramHashes.compute($s, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramHashes =
    copy(left = newLeft, right = newRight)
}

object NgramHashes {
  /** Static kernel shared by eval and generated code. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val totalBytes = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // character start offsets (byte positions); starts(numChars) = end
    val starts = new Array[Int](totalBytes + 1)
    var numChars = 0
    var b = 0
    while (b < totalBytes) {
      starts(numChars) = b
      b += UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, off + b))
      numChars += 1
    }
    starts(numChars) = totalBytes
    val count = numChars - n + 1
    if (count <= 0) return new GenericArrayData(Array.emptyLongArray)
    val seen = new JHashSet[java.lang.Long](count * 2)
    val out = new Array[Long](count)
    var outLen = 0
    var i = 0
    while (i < count) {
      val b0 = starts(i)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + b0, starts(i + n) - b0, 42L)
      if (seen.add(h)) { out(outLen) = h; outLen += 1 }
      i += 1
    }
    new GenericArrayData(
      if (outLen == count) out else java.util.Arrays.copyOf(out, outLen))
  }
}

object ShingleHashes {
  private val sep = UTF8String.fromString(" ")

  /** Static kernel shared by eval and generated code. */
  def compute(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    val count = m - n + 1
    if (count <= 0) return new GenericArrayData(Array.emptyLongArray)
    val seen = new JHashSet[java.lang.Long](count * 2)
    val out = new Array[Long](count)
    var outLen = 0
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < count) {
      // array_join semantics: null tokens are skipped within the join
      var k = 0
      var p = 0
      while (k < n) {
        if (!toks.isNullAt(i + k)) { parts(p) = toks.getUTF8String(i + k); p += 1 }
        k += 1
      }
      val joined =
        if (p == n) UTF8String.concatWs(sep, parts: _*)
        else UTF8String.concatWs(sep, java.util.Arrays.copyOf(parts, p): _*)
      val h = SimHash64.fnv1a64(joined)
      if (seen.add(h)) { out(outLen) = h; outLen += 1 }
      i += 1
    }
    new GenericArrayData(
      if (outLen == count) out else java.util.Arrays.copyOf(out, outLen))
  }
}

/** repetition_signals(tokens, topNs, dupNs) — Gopher's repetition signals
  * (Rae et al. 2021, App. A) of one token array, as a struct of longs:
  * `top{n}_chars` per n in topNs (the largest count × chars over the
  * distinct word n-grams, chars in code points as Spark's `length`
  * counts them), then `dup{n}_toks` per n in dupNs (token positions
  * covered by n-grams occurring at least twice, each position once). A
  * gram is its tokens joined by one space, nulls skipped — the strings
  * [[graft.operators.CorpusOps.ngrams]] builds. A null or short array
  * gives zeros. One hash map per (row, n): O(L·n) work in a narrow
  * projection, interpreted since the map loop has no codegen form. */
case class RepetitionSignals(child: Expression, topNs: Seq[Int], dupNs: Seq[Int])
    extends UnaryExpression with CodegenFallback {
  require((topNs ++ dupNs).forall(_ >= 1), "repetition_signals: n must be >= 1")

  override def dataType: DataType = StructType(
    (topNs.map(n => s"top${n}_chars") ++ dupNs.map(n => s"dup${n}_toks"))
      .map(StructField(_, LongType, nullable = false)))
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"repetition_signals requires array<string>, got $t")
  }

  override def eval(input: InternalRow): Any = {
    val toks = child.eval(input).asInstanceOf[ArrayData]
    new GenericInternalRow((topNs.map(RepetitionSignals.signal(toks, _, dup = false)) ++
      dupNs.map(RepetitionSignals.signal(toks, _, dup = true))).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): RepetitionSignals =
    copy(child = newChild)
}

object RepetitionSignals {
  private val Space = UTF8String.fromString(" ")

  /** top-n char coverage of `toks`, or with `dup` its dup-n token
    * coverage: duplicate spans merged in ascending start order, each
    * start adding the part of [pos, pos + n) past the running end. */
  def signal(toks: ArrayData, n: Int, dup: Boolean): Long = {
    val m = if (toks == null) 0 else math.max(toks.numElements() - n + 1, 0)
    val window = new Array[UTF8String](n)
    val grams = Array.tabulate(m) { i =>
      for (j <- 0 until n)
        window(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
      UTF8String.concatWs(Space, window: _*)
    }
    val counts = scala.collection.mutable.HashMap.empty[UTF8String, Int].withDefaultValue(0)
    grams.foreach(g => counts(g) += 1)
    if (!dup) grams.foldLeft(0L)((best, g) => math.max(best, counts(g).toLong * g.numChars))
    else {
      var prevEnd = -1L
      grams.indices.filter(pos => counts(grams(pos)) >= 2).foldLeft(0L) { (covered, pos) =>
        val c = math.max(pos + n - math.max(pos, prevEnd), 0L)
        prevEnd = math.max(prevEnd, pos + n.toLong)
        covered + c
      }
    }
  }
}
