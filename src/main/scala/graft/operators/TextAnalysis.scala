package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * All operators are pure column expressions (codegen-friendly, no UDFs),
  * so they scale linearly with input: no shuffle, no driver involvement —
  * at 100 TB they run entirely inside the scan stage.
  */
object TextAnalysis {

  /** One-pass native counts (r18, [[graft.functions.TextStats]]): every
    * accessor below projects a field of the same `text_stats(text)`
    * call, so one projection using several of them evaluates the kernel
    * ONCE per row (identical trees — whole-stage-codegen subexpression
    * elimination) where the regex formulation ran 5-10 compiled-pattern
    * scans per row. Field semantics are asserted bit-identical to the
    * regex formulations in OperatorsSpec.
    */
  private def stats(text: Column): Column = call_function("text_stats", text)

  /** Whitespace tokenization; empty/blank text counts 0. */
  def tokenCount(text: Column): Column = stats(text).getField("n_tokens")

  /** BPE-ish subword count approximation: runs of letters, digits, or a
    * single non-space symbol each count as one token.
    */
  def subwordCount(text: Column): Column = stats(text).getField("n_subwords")

  /** Character-class ratios used by quality filters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(stats(text).getField("n_punct").cast("double")
        / length(text))

  def digitRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[^0-9]", "")).cast("double")
        / length(text))

  /** Mean whitespace-token length. */
  def meanWordLen(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0))
      .otherwise(stats(text).getField("n_nonspace").cast("double") / n)
  }

  /** English stopword hit ratio (hits / tokens) — a standard quality
    * signal (C4/Gopher-style filters use "has ≥2 stopwords").
    */
  val enStopwords: Seq[String] =
    Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "with")

  def stopwordHits(text: Column, words: Seq[String] = enStopwords): Column =
    call_function("marker_hits", lower(text), lit(words.mkString(",")))

  def stopwordRatio(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0)).otherwise(stopwordHits(text).cast("double") / n)
  }

  /** Composite quality score in [0,1]: rewards stopword presence and
    * moderate word length, penalizes punctuation/digit noise.
    */
  def qualityScore(text: Column): Column = {
    val lenOk = when(length(text).between(50, 10000), lit(0.25)).otherwise(lit(0.0))
    val stopOk = when(stopwordRatio(text) >= 0.05, lit(0.25)).otherwise(lit(0.0))
    val punctOk = when(punctRatio(text) <= 0.2, lit(0.25)).otherwise(lit(0.0))
    val wordOk = when(meanWordLen(text).between(3.0, 12.0), lit(0.25)).otherwise(lit(0.0))
    lenOk + stopOk + punctOk + wordOk
  }

  /** Tiny per-language marker-word lists for n-gram-heuristic language ID.
    * Deterministic argmax with fixed precedence on ties.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "with", "from", "this"),
    "de" -> Seq("der", "und", "mit", "von", "das"),
    "es" -> Seq("el", "la", "con", "por", "una"),
    "fr" -> Seq("le", "la", "avec", "dans", "une"),
  )

  /** Heuristic language ID: marker-word hit counts per language, argmax
    * with 'und' (undetermined) when no marker hits at all.
    */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (lang, words) =>
      lang -> stopwordHits(text, words)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, sc), acc) =>
      when(best > 0 && sc === best, lit(lang)).otherwise(acc)
    }
  }

  /** Order-insensitive document fingerprint: md5 over the sorted distinct
    * word set (Broder-style "sketch of the bag of words" — detects
    * shuffled/duplicated content with identical vocabulary).
    */
  def vocabFingerprint(text: Column): Column =
    md5(concat_ws(" ",
      array_sort(array_distinct(split(lower(trim(text)), "\\s+")))).cast("binary"))
}
