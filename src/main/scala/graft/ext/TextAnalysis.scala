package graft.ext

import graft.core.Jobs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, n-gram/stopword language ID, quality scoring, and
  * set-hash document fingerprinting. All pure `functions._` column
  * arithmetic (codegen'd, no UDFs), each with an exact ANSI-SQL
  * equivalent for the DuckDB oracle.
  */
object TextAnalysis {

  /** Whitespace-delimited token count (\S+ matches). */
  def tokenCount(text: Column): Column = regexp_count(text, lit("\\S+"))

  /** Deterministic 56-bit content hash usable identically from DuckDB:
    * first 14 hex chars of md5 as an integer. */
  def hash56(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 14), 16, 10).cast("long")

  /** Stopword tables for the language-ID heuristic (tiny, broadcast as
    * literals into the regexp). */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans"),
    "es" -> Seq("el", "la", "los", "las", "es", "una", "para", "del"))

  private def stopwordHits(text: Column, words: Seq[String]): Column =
    regexp_count(lower(text), lit("\\b(" + words.mkString("|") + ")\\b"))

  /** Language ID: argmax of stopword hits (ties -> first language in
    * table order; "und" = undetermined when no hits at all). */
  def langId(text: Column): Column = {
    val hits = LangStopwords.map { case (l, ws) => l -> stopwordHits(text, ws) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    // first language (in table order) achieving the max hit count
    hits.foldRight(lit("und")) { case ((l, h), acc) =>
      when(h === best && best > 0, lit(l)).otherwise(acc)
    }.as("lang_pred")
  }

  /** Quality signals: length, token count, mean token length, punctuation
    * ratio, stopword ratio; composite score in [0, 1]. */
  def qualityCols(text: Column): Seq[(String, Column)] = {
    val nChars = length(text).cast("double")
    val nTokens = tokenCount(text).cast("double")
    val nPunct = regexp_count(text, lit("[,.;:!?]")).cast("double")
    val nStop = stopwordHits(text, LangStopwords.head._2).cast("double")
    val meanTokLen = when(nTokens > 0,
      (nChars - (nTokens - 1)) / nTokens).otherwise(0.0)
    val punctRatio = when(nChars > 0, nPunct / nChars).otherwise(0.0)
    val stopRatio = when(nTokens > 0, nStop / nTokens).otherwise(0.0)
    val lenScore = least(nChars / lit(200.0), lit(1.0))
    val score = lit(0.4) * lenScore +
      lit(0.3) * least(stopRatio * 4.0, lit(1.0)) +
      lit(0.3) * (lit(1.0) - least(punctRatio * 10.0, lit(1.0)))
    Seq("n_tokens" -> nTokens, "mean_token_len" -> meanTokLen,
      "punct_ratio" -> punctRatio, "stopword_ratio" -> stopRatio,
      "quality_score" -> score)
  }

  /** Order-insensitive document fingerprint: bit_xor of the 56-bit
    * hashes of the DISTINCT tokens (robust to shuffling/duplication of
    * words; two docs with the same vocabulary collide — by design, it is
    * a cheap near-dup screen). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(array_distinct(
        split(col(textCol), "\\s+"))).as("__tok__"))
      .filter(col("__tok__") =!= "")
      .groupBy(col(idCol))
      .agg(expr("bit_xor(" +
        "cast(conv(substring(md5(__tok__), 1, 14), 16, 10) as bigint))")
        .as("fingerprint"))

  /** PII patterns (name, regex, placeholder) — deliberately restricted
    * to the Java-regex ∩ RE2 common dialect (char classes, bounded
    * repetition, \b) so the DuckDB oracle replays them byte-exactly.
    * Redaction order is table order: email first, so the later numeric
    * patterns cannot re-match inside an already-redacted span. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "[PHONE]"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]"))

  /** Per-category PII match counts on the raw text (columns named
    * n_email, n_phone, n_ip). */
  def piiCounts(text: Column): Seq[(String, Column)] =
    PiiPatterns.map { case (name, re, _) =>
      s"n_$name" -> regexp_count(text, lit(re))
    }

  /** Text with every PII category replaced by its placeholder, applied
    * in [[PiiPatterns]] order. Pure codegen'd regexp_replace chain. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (acc, (_, re, repl)) =>
      regexp_replace(acc, lit(re), lit(repl))
    }

  /** Per-doc n-gram repetition profile — the standard degenerate-text
    * screen for LLM corpora (a doc stuck in a loop has few distinct
    * n-grams and one dominant n-gram):
    * (total n-grams, distinct n-grams, rep_ratio = 1 - distinct/total,
    * top_share = most frequent n-gram's share). Docs with fewer than n
    * tokens produce no row. One explode + two hash aggregations, keyed
    * on (doc, gram) then doc — scales like any inverted index. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val in = Jobs.fanOutBy(df, idCol)
    val grams = in
      .select(col(idCol), split(col(textCol), "\\s+").as("__toks__"))
      .filter(size(col("__toks__")) >= n)
      .select(col(idCol), explode(expr(
        s"""transform(sequence(0, size(__toks__) - $n),
           |  i -> concat_ws(' ', slice(__toks__, i + 1, $n)))""".stripMargin))
        .as("gram"))
      .filter(col("gram") =!= "")
    grams.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"),
        max(col("c")).as("__max_c__"))
      .withColumn("rep_ratio",
        lit(1.0) - col("distinct_ngrams").cast("double") / col("total_ngrams"))
      .withColumn("top_share",
        col("__max_c__").cast("double") / col("total_ngrams"))
      .drop("__max_c__")
  }
}
