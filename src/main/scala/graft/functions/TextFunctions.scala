package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis kernels for large-scale corpus processing, as pure
  * Catalyst expressions (codegen'd, no UDFs): tokenization, n-grams /
  * shingles, stopword profiling, normalization, fingerprinting.
  *
  * All of these have exact DuckDB twins (list_transform / list_filter /
  * regexp_split_to_array) used by the TextPack/DedupPack oracles.
  */
object TextFunctions {

  import org.apache.spark.sql.GraftSqlBridge.{column, expression}

  /** Whitespace tokenization (non-empty tokens). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Single-pass token statistics STRUCT (ws_tokens, alpha_tokens,
    * bpe_tokens, nonspace_chars) — the native
    * [[graft.functions.expressions.TokenStats]] kernel. Identical
    * subtrees across derived features are merged by codegen subexpression
    * elimination, so the scan runs once per row however many features a
    * query reads. */
  def tokenStats(text: Column): Column =
    column(expressions.TokenStats(expression(text)))

  /** Word n-grams: sliding windows of `n` tokens joined by a space — the
    * native graft_ngrams expression (one compiled loop; the composed
    * transform/slice/concat_ws form evaluates interpreted HOFs per window
    * and dominated the shingle pipelines). */
  def wordNgrams(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    // null input -> [] preserves this API's original composed-form behavior
    coalesce(column(expressions.WordNgrams(expression(toks), Literal(n))),
      array().cast("array<string>"))
  }

  /** Estimated count of `item` in a serialized count-min sketch (the
    * BINARY from Spark's `count_min_sketch` aggregate) — see
    * [[graft.functions.expressions.CmsLookup]] for the probe contract. */
  def cmsProbe(sketch: Column, item: Column): Column =
    column(expressions.CmsLookup(expression(sketch), expression(item)))

  /** Unicode canonicalization: NFC + combining-mark strip — see
    * [[graft.functions.expressions.FoldAccents]]. */
  def foldAccents(text: Column): Column =
    column(expressions.FoldAccents(expression(text)))

  /** Longest-common-subsequence length of two token arrays (the ROUGE-L
    * kernel) — see [[graft.functions.expressions.LcsLen]]. */
  def lcsLen(a: Column, b: Column): Column =
    column(expressions.LcsLen(expression(a), expression(b)))

  /** Deflate compression ratio (compressed/raw bytes) — the corpus quality
    * signal behind "too repetitive / binary junk" filters; see
    * [[graft.functions.expressions.DeflateRatio]]. */
  def zratio(text: Column): Column =
    column(expressions.DeflateRatio(expression(text)))

  /** Strip markup from crawled HTML-ish text: tags become spaces, the
    * five standard entities unescape (&amp; LAST, so a double-escaped
    * "&amp;lt;" correctly yields the literal text "&lt;" rather than
    * unescaping twice), whitespace collapses. Case is preserved — this is
    * content extraction, not normalization. Deliberately regex-simple
    * (no nesting/CDATA/script awareness): the 100 TB cleaning pass runs
    * in the scan stage; a full parser belongs in a mapPartitions codec
    * like Multimodal's. */
  def stripMarkup(html: Column): Column = {
    val untagged = regexp_replace(html, "<[^>]*>", " ")
    val unescaped = replace(replace(replace(replace(replace(
      untagged, lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
      lit("&quot;"), lit("\"")), lit("&#39;"), lit("'")), lit("&amp;"), lit("&"))
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** Collapse runs of whitespace + trim + lowercase — the canonical form
    * used for exact-dup hashing. */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Number of tokens that appear in `words` (stopword-count style) — the
    * native [[graft.functions.expressions.VocabHits]] hash-set probe (the
    * composed `size(filter(toks, isin))` ran an interpreted lambda with a
    * linear In-probe per token). */
  def vocabHits(toks: Column, words: Seq[String]): Column =
    column(expressions.VocabHits(expression(toks), words))

  /** [[vocabHits]] straight off the text: counts over the raw whitespace
    * split — empty-string tokens can't be vocabulary words, so skipping
    * the non-empty filter is free and keeps the split codegen'd. */
  def vocabHitsText(text: Column, words: Seq[String]): Column =
    vocabHits(split(text, "\\s+"), words)

  /** Sorted distinct indices of the `patterns` occurring in `text` — the
    * native [[graft.functions.expressions.AcHits]] Aho–Corasick
    * multi-pattern scan (one pass over the bytes regardless of pattern
    * count; an OR-of-LIKEs blocklist is O(patterns) per character). */
  def acHits(text: Column, patterns: Seq[String]): Column =
    column(expressions.AcHits(expression(text), patterns))

  /** 32-bit content fingerprint of the normalized text (portable md5
    * prefix; see Portable.hash32). */
  def fingerprint(text: Column): Column =
    Portable.hash32(normalize(text))

  /** Average token length; null for token-less docs (the zero-token guard
    * matters: ANSI mode turns the division into a runtime error).
    * `nonspace_chars / ws_tokens` from the single-pass [[tokenStats]] —
    * same arithmetic as the regex form (`length(regexp_replace(text,
    * "\\s+", "")) / size(tokens)`), one scan instead of two regex passes. */
  def avgTokenLength(text: Column): Column = {
    val ts = tokenStats(text)
    val n = ts.getField("ws_tokens")
    when(n === 0, lit(null).cast("double"))
      .otherwise(ts.getField("nonspace_chars").cast("double") / n)
  }

  /** Stopword ratio; null for token-less docs. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val n = tokenStats(text).getField("ws_tokens")
    when(n === 0, lit(null).cast("double"))
      .otherwise(vocabHitsText(text, stopwords).cast("double") / n)
  }

  /** The quality score (length/stopword/token-shape linear blend) shared by
    * the quality query and the curation pipeline — ONE definition so the
    * two can't silently drift. Token-less docs score 0.0. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val n = tokenStats(text).getField("ws_tokens")
    when(n === 0, lit(0.0)).otherwise(
      least(n / 100.0, lit(1.0)) * 0.5
        + stopwordRatio(text, stopwords) * 0.3
        + least(avgTokenLength(text) / 10.0, lit(1.0)) * 0.2)
  }

  /** DuckDB twin of [[qualityScore]] over a `toks` list column + `text`. */
  def qualityScoreSql(stopwords: Seq[String]): String = {
    val hits = s"len(list_filter(toks, t -> t IN (${stopwords.map(w => s"'$w'").mkString(", ")})))"
    s"""CASE WHEN len(toks) = 0 THEN 0.0 ELSE
       |least(len(toks) / 100.0, 1.0) * 0.5
       |  + (CAST($hits AS DOUBLE) / len(toks)) * 0.3
       |  + least((CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(toks)) / 10.0, 1.0) * 0.2
       |END""".stripMargin
  }
}
