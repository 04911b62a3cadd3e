package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis Column builders for training-data pipelines: language ID
  * (n-gram/stopword heuristic), quality scoring, token counting, document
  * fingerprinting. All pure Column expressions (codegen) so they run at
  * scan speed over 100 TB of documents — no UDF, no collect.
  */
object TextAnalysis {

  /** Tiny per-language function-word lists (stub wordlists — a real
    * deployment swaps in larger tables; the scoring shape is what
    * matters). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "est"))

  def tokens(text: Column): Column =
    split(regexp_replace(trim(lower(text)), "\\s+", " "), " ")

  /** Count of tokens that appear in `words`. */
  def markerHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => x.isin(words.map(w => lit(w)): _*)))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword estimate: word-chunks + punctuation via regexp,
    * ~chars/4 floor — the cheap pre-tokenizer-count heuristic. */
  def bpeEstimate(text: Column): Column =
    greatest(
      regexp_count(text, lit("[A-Za-z0-9]{1,4}|[^A-Za-z0-9\\s]")),
      ceil(length(text) / 4)).cast("long")

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    round(markerHits(toks, langMarkers("en")).cast("double") /
      greatest(size(toks), lit(1)), 4)
  }

  /** Composite quality score in [0,1]: length sweet-spot, mean word
    * length, stopword presence. Deterministic arithmetic only. */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val meanLen = length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(nTok, lit(1.0))
    val lengthScore = least(nTok / 50.0, lit(1.0))
    val wordLenScore = when(meanLen.between(3, 8), 1.0).otherwise(0.5)
    val stopScore = least(stopwordRatio(text) * 5, lit(1.0))
    round((lengthScore + wordLenScore + stopScore) / 3, 4)
  }

  /** Stable document fingerprint: md5 of normalized text (exact-dup key);
    * pair with GraftScalar.simhash64 for near-dup keys. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " ").cast("binary"))
}
