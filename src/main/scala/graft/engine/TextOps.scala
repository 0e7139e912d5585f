package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the `documents`
  * table: tokenization, quality scoring, n-gram language ID heuristic,
  * rolling-hash fingerprinting. All built from codegen'd built-ins
  * (no UDFs in the hot path). */
object TextOps {

  /** Words: lower-cased alnum runs. */
  def wordsCol(text: Column): Column =
    filter(split(lower(regexp_replace(text, "[^\\p{L}\\p{N}]+", " ")), " "),
      w => length(w) > 0)

  /** Whitespace as an explicit class: Java regex \s includes vertical tab
    * (\x0B) but RE2's \s does not — spelling the class out keeps the
    * DuckDB oracle bit-identical on any text. */
  val WsClass: String = "[ \\t\\n\\x0B\\f\\r]"

  /** BPE-style pre-tokenizer pattern (the public GPT-2 regex shape, without
    * lookahead so it runs on both Java regex and RE2): contraction suffixes,
    * optional-space letter runs, digit runs, punctuation runs, whitespace
    * runs. Counting these matches approximates BPE token counts well enough
    * for corpus budgeting without a vocabulary. */
  val BpeTokenRx: String =
    s"'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+|$WsClass+"

  /** doc_id + whitespace-token and BPE-ish token counts. */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs.select(
      col("doc_id"),
      size(filter(split(t, WsClass + "+"), w => length(w) > 0)).as("n_ws_tokens"),
      size(regexp_extract_all(t, lit(BpeTokenRx), lit(0))).as("n_bpe_tokens"))
  }

  /** Heuristic quality score in [0,1] of `t` with words `words`:
    * penalizes extreme length, high punctuation ratio, low word count, and
    * low alpha ratio — the standard cheap pre-filters of large-scale corpus
    * cleaning. */
  private def qualityCol(t: Column, words: Column): Column = {
    val nChars = length(t).cast("double")
    val nWords = size(words).cast("double")
    val punctRatio = (nChars - length(regexp_replace(t, "[\\p{Punct}]", ""))) / greatest(nChars, lit(1.0))
    val alphaRatio = length(regexp_replace(t, "[^\\p{L}]", "")) / greatest(nChars, lit(1.0))
    val lenScore = when(nChars.between(20, 10000), 1.0)
      .when(nChars < 20, nChars / 20.0)
      .otherwise(lit(10000.0) / nChars)
    val wordScore = when(nWords >= 5, 1.0).otherwise(nWords / 5.0)
    round(lenScore * wordScore * (lit(1.0) - punctRatio) * alphaRatio, 6)
  }

  /** Stopword tables of the tiny language-ID heuristic ([[langPredCol]]). */
  val StopwordTables: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "une", "dans", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "con", "una", "por", "que"))

  /** Tiny language-ID heuristic over a word array: scores stopword hits
    * per language and returns the argmax, or 'und' when nothing hits. */
  private def langPredCol(words: Column): Column = {
    val hits = StopwordTables.map { case (lang, ws) =>
      lang -> size(array_intersect(words, array(ws.map(lit): _*)))
    }
    val langs = StopwordTables.keys.toSeq.sorted
    // argmax via greatest + chained when; foldRight makes the FIRST sorted
    // language the outermost when(), so ties resolve in sorted lang order
    // (foldLeft would nest it innermost and resolve ties in reverse)
    langs.foldRight(lit("und")) { (lang, acc) =>
      when(hits(lang) > 0 && hits(lang) === greatest(langs.map(hits): _*), lang)
        .otherwise(acc)
    }
  }

  /** Document fingerprint: md5 over the normalized word sequence — a
    * shard-stable content identity that any SQL engine can recompute
    * verbatim. */
  private def fingerprintCol(words: Column): Column = md5(concat_ws(" ", words))

  /** Heavier-duty language ID: rank-weighted character-trigram profiles
    * (core.LangId, Cavnar-Trenkle style) as one codegen'd kernel pass per
    * row — no explode, no shuffle; the classifier a real pipeline would
    * run where the stopword heuristic above is the cheap prefilter. */
  def langIdNgram(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), call_function("st_langid", col("text")).as("lang3"))

  /** Winnowing fingerprints of `text`: rolling k-gram hashes with k = 5,
    * minimum per window of w = 4 (Schleimer/Wilkerson/Aiken 2003). Shared
    * substrings of length >= w + k - 1 = 8 guarantee a shared fingerprint.
    * One kernel pass per row. */
  private[engine] def winnowCol(text: Column): Column =
    call_function("st_winnow", text, lit(5), lit(4))

  /** (doc_id, fps): the [[winnowCol]] fingerprints, the substring-robust
    * fingerprint next to the whole-document md5 (`fp`); near-dup candidate
    * pairs come from grouping on exploded fingerprints (same bucket shape
    * as the minhash path). */
  def winnow(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), winnowCol(col("text")).as("fps"))

  /** Fused per-document profile: language ID + quality score + fingerprint
    * in ONE projection over ONE scan (doc_id, lang_pred, quality, fp).
    * Where three per-signal frames joined on doc_id would scan `documents`
    * three times and shuffle twice, this is a single FileScan + Project
    * (all three are per-row scalar computations over the same text column;
    * common subexpressions like the word split are eliminated inside
    * whole-stage codegen). At 100 TB that is 3x less scan I/O and zero
    * shuffles. */
  def profile(docs: DataFrame): DataFrame = profileSelect(docs)

  /** `profile` plus the heavier per-doc signals (trigram language id and
    * the winnowing fingerprint count) — still ONE projection over one scan.
    * The shape a training-data pipeline routes on: partition the output by
    * `lang3`, filter on `quality`, join near-dup candidates on fingerprint
    * overlap. */
  def profileFull(docs: DataFrame): DataFrame =
    profileSelect(docs,
      Seq(call_function("st_langid", col("text")).as("lang3"),
        size(winnowCol(col("text"))).as("n_fps")))

  private def profileSelect(docs: DataFrame, extra: Seq[Column] = Nil): DataFrame = {
    val t = col("text")
    val words = wordsCol(t)
    docs.select(Seq(
      col("doc_id"),
      langPredCol(words).as("lang_pred"),
      qualityCol(t, words).as("quality"),
      fingerprintCol(words).as("fp")) ++ extra: _*)
  }
}
