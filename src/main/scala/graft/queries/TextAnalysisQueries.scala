package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable
import graft.operators.TextOps

/** t1: stopword-profile language ID. Scores each document's distinct-token
  * set against per-language stopword lists (set intersection — executor-local
  * array work) and takes the deterministic argmax with a fixed preference
  * order on ties. A character-n-gram profile would be the production
  * upgrade; the pipeline shape (per-row scoring → argmax → no shuffle at
  * all) is identical.
  */
object T1LangId extends GraftQuery {
  val name = "t1_langid"
  val describe = "stopword-profile language ID with per-language scores + argmax"

  // Public-knowledge stopword shortlists.
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "des", "une", "dans", "que"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "no", "con", "una", "por"))

  private[queries] def scoreCols(toks: Column): Seq[(String, Column)] =
    profiles.map { case (lang, words) =>
      lang -> size(array_intersect(toks, array(words.map(lit): _*)))
    }

  /** Argmax language over the distinct-token column (strict->: later
    * languages win only on strictly greater scores). Shared with t14's
    * confusion matrix.
    */
  private[queries] def predLang(toks: Column): Column = {
    val scores = scoreCols(toks)
    scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
      case ((bestScore, bestLang), (lang, score)) =>
        (when(score > bestScore, score).otherwise(bestScore),
          when(score > bestScore, lit(lang)).otherwise(bestLang))
    }._2
  }

  private[queries] def scoreSqls: Seq[(String, String)] =
    profiles.map { case (lang, words) =>
      val listLit = words.map(w => s"'$w'").mkString("[", ", ", "]")
      lang -> s"len(list_intersect(toks, $listLit))"
    }

  /** DuckDB mirror of [[predLang]] over a relation exposing `toks`. */
  private[queries] def predLangSql: String =
    scoreSqls.tail.foldLeft((scoreSqls.head._2, s"'${scoreSqls.head._1}'")) {
      case ((bestScore, bestLang), (lang, score)) =>
        (s"(CASE WHEN $score > $bestScore THEN $score ELSE $bestScore END)",
          s"(CASE WHEN $score > $bestScore THEN '$lang' ELSE $bestLang END)")
    }._2

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = array_distinct(TextOps.tokens(col("text")))
    Tables.documents(spark, sfDir).select(
      col("doc_id") +:
        scoreCols(toks).map { case (lang, s) => s.as(s"score_$lang") } :+
        predLang(toks).as("pred_lang"): _*)
  }

  val oracle = Some(
    s"""WITH t AS (SELECT doc_id, list_distinct(${TextOps.tokensSql("text")}) AS toks FROM documents)
       |SELECT doc_id,
       |       ${scoreSqls.map { case (l, e) => s"$e AS score_$l" }.mkString(",\n       ")},
       |       $predLangSql AS pred_lang
       |FROM t""".stripMargin)
}

/** t14: language confusion matrix — declared `lang` metadata vs t1's
  * detected language, counted per (declared, predicted) cell: the audit
  * table behind any language-consistency gate (one that drops docs off
  * this matrix's diagonal; this query is how an operator decides whether
  * that gate is sane before enabling it). One partial-
  * aggregated groupBy over a scan-bound projection.
  */
object T14LangConfusion extends GraftQuery {
  val name = "t14_lang_confusion"
  val describe = "declared vs detected language counts (t1's detector) — the gate audit matrix"

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = array_distinct(TextOps.tokens(col("text")))
    Tables.documents(spark, sfDir)
      .select(col("lang"), T1LangId.predLang(toks).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  val oracle = Some(
    s"""WITH t AS (SELECT lang, list_distinct(${TextOps.tokensSql("text")}) AS toks FROM documents)
       |SELECT lang, ${T1LangId.predLangSql} AS pred_lang, count(*) AS n
       |FROM t GROUP BY lang, pred_lang""".stripMargin)
}

/** t2: document quality scoring — length, punctuation density, stopword
  * ratio, mean word length folded into a logistic score. Pure per-row
  * arithmetic (scan-bound, fully codegen'd); the score is the standard
  * pre-training quality-filter shape.
  */
object T2Quality extends GraftQuery {
  val name = "t2_quality"
  val describe = "quality score: length/punct/stopword/word-length signals, logistic blend"

  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** The logistic quality blend as a single Column over the raw text —
    * shared with p1's admission gate so the pipeline filters on EXACTLY the
    * score this query reports (one formula, two consumers).
    */
  private[queries] def score(text: Column): Column = {
    val toks = TextOps.tokens(text)
    val nTok = size(toks).cast("double")
    val nChar = length(text).cast("double")
    val nPunct = (length(text) -
      length(regexp_replace(text, "[.,;:!?]", ""))).cast("double")
    val nStop = size(array_intersect(array_distinct(toks),
      array(stopwords.map(lit): _*))).cast("double")
    val meanWordLen =
      length(regexp_replace(text, "\\s+", "")).cast("double") / nTok
    val z = lit(0.5) * log(nTok + 1.0) - lit(4.0) * (nPunct / nChar) +
      lit(2.0) * (nStop / lit(stopwords.length.toDouble)) - lit(0.3) * meanWordLen
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** DuckDB mirror of [[score]] as a CTE `<out>(doc_id, text, quality)`
    * over relation `<src>(doc_id, text, ...)` — term order matches the
    * Column expression exactly so round-6 canonicalization agrees.
    */
  private[queries] def scoreSqlCte(src: String, out: String): String = {
    val toks = TextOps.tokensSql("text")
    val stopLit = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""$out AS (
       |  SELECT doc_id, text,
       |         1.0 / (1.0 + exp(-(0.5 * ln(CAST(len($toks) AS DOUBLE) + 1.0)
       |           - 4.0 * (CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE))
       |           + 2.0 * (CAST(len(list_intersect(list_distinct($toks), $stopLit)) AS DOUBLE) / ${stopwords.length}.0)
       |           - 0.3 * (CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / CAST(len($toks) AS DOUBLE))))) AS quality
       |  FROM $src)""".stripMargin
  }

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nChar = length(col("text")).cast("double")
    val nPunct = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("double")
    val meanWordLen =
      length(regexp_replace(col("text"), "\\s+", "")).cast("double") / nTok
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      nTok.cast("long").as("n_tokens"),
      round(nPunct / nChar, 6).as("punct_ratio"),
      round(meanWordLen, 6).as("mean_word_len"),
      round(score(col("text")), 6).as("quality"))
  }

  val oracle = {
    val toks = TextOps.tokensSql("text")
    val stopLit = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    Some(
      s"""WITH t AS (
         |  SELECT doc_id, text, $toks AS toks,
         |         CAST(len($toks) AS DOUBLE) AS n_tok,
         |         CAST(length(text) AS DOUBLE) AS n_char,
         |         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
         |         CAST(len(list_intersect(list_distinct($toks), $stopLit)) AS DOUBLE) AS n_stop,
         |         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / CAST(len($toks) AS DOUBLE) AS mean_word_len
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(n_tok AS BIGINT) AS n_tokens,
         |       round(n_punct / n_char, 6) AS punct_ratio,
         |       round(mean_word_len, 6) AS mean_word_len,
         |       round(1.0 / (1.0 + exp(-(0.5 * ln(n_tok + 1.0) - 4.0 * (n_punct / n_char) + 2.0 * (n_stop / ${stopwords.length}.0) - 0.3 * mean_word_len))), 6) AS quality
         |FROM t""".stripMargin)
  }
}

/** t3: token counting — whitespace words plus a BPE-ish regex segmentation
  * (letter runs / digit runs / single symbols), the cheap proxy for
  * tokenizer-cost estimation over a corpus. Scan-bound projection.
  */
object T3TokenCount extends GraftQuery {
  val name = "t3_token_count"
  val describe = "whitespace + BPE-ish regex token counts per document"

  private val subwordPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def run(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(lower(col("text")), lit(subwordPattern), lit(0)))
        .cast("long").as("subword_tokens"),
      length(col("text")).cast("long").as("n_chars_actual"))

  val oracle = Some(
    s"""SELECT doc_id,
       |       CAST(len(${TextOps.tokensSql("text")}) AS BIGINT) AS ws_tokens,
       |       CAST(len(regexp_extract_all(lower(text), '$subwordPattern')) AS BIGINT) AS subword_tokens,
       |       CAST(length(text) AS BIGINT) AS n_chars_actual
       |FROM documents""".stripMargin)
}

/** t11: Shannon character entropy per document — the classic gibberish /
  * degenerate-text filter in corpus curation (low entropy ⇒ repeated
  * characters/boilerplate; near-uniform entropy ⇒ random noise). Counts are
  * taken over the 95 printable-ASCII codepoints (this corpus is pure ASCII,
  * established by m2's byte/char equivalence) — integer histograms, exact
  * in both engines (the oracle counts via per-codepoint `replace` deletion).
  *
  * Cross-engine float discipline: entropy is the sum, in ascending
  * codepoint order, of `-(p·log2 p)` terms (p = count/len, one exact
  * integer division each) — the oracle folds the identical terms in the
  * identical order, and the result is rounded to 6 decimals on both sides
  * (the same playbook as t9's log-prob scores; a grouped float SUM would
  * have engine-chosen addition order instead).
  *
  * Scale: one typed `mapPartitions` pass — a single scan of each row's
  * chars into a 95-slot array, then a fixed-order fold; no shuffle, no
  * driver involvement, partitioning preserved (the m2/m3 executor-batch
  * shape). The declarative alternative — 95 unrolled
  * `length(translate(text, chr(i), ''))` histogram columns — stays in
  * whole-stage codegen but allocates 95 intermediate strings per row and
  * measured 5.3 s at sf0.1 vs 0.2 s for this pass; an explode+groupBy
  * histogram would shuffle |chars| rows and surrender the addition order.
  */
object T11CharEntropy extends GraftQuery {
  val name = "t11_char_entropy"
  val describe = "printable-ASCII Shannon entropy + distinct-char count per document"

  private val codepoints = 32 to 126

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ln2 = StrictMath.log(2.0)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val counts = new Array[Long](codepoints.length)
          var i = 0
          while (i < text.length) {
            val c = text.charAt(i) - codepoints.head
            if (c >= 0 && c < counts.length) counts(c) += 1
            i += 1
          }
          val len = text.length.toDouble
          var distinct = 0
          var entropy = 0.0
          var j = 0
          while (j < counts.length) {
            if (counts(j) > 0) {
              distinct += 1
              val p = counts(j) / len
              entropy += -(p * (StrictMath.log(p) / ln2))
            }
            j += 1
          }
          (id, text.length.toLong, distinct, graft.functions.Rounding.roundTo(entropy, 6))
        }
      }
      .toDF("doc_id", "n_chars", "distinct_chars", "entropy")
  }

  val oracle = {
    // chr(39) is the single quote: chr(i) sidesteps SQL literal escaping.
    val countExprs = codepoints.map { i =>
      s"(length(text) - length(replace(text, chr($i), ''))) AS c$i"
    }
    val terms = codepoints.map { i =>
      s"(CASE WHEN c$i > 0 THEN -((CAST(c$i AS DOUBLE) / len) * log2(CAST(c$i AS DOUBLE) / len)) ELSE 0.0 END)"
    }
    val fold = terms.reduceLeft((a, b) => s"($a + $b)")
    val distinct = codepoints.map(i => s"(CASE WHEN c$i > 0 THEN 1 ELSE 0 END)")
      .reduceLeft((a, b) => s"($a + $b)")
    Some(
      s"""WITH c AS (
         |  SELECT doc_id, length(text) AS len,
         |         ${countExprs.mkString(",\n         ")}
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(len AS BIGINT) AS n_chars,
         |       CAST($distinct AS INT) AS distinct_chars,
         |       round($fold, 6) AS entropy
         |FROM c""".stripMargin)
  }
}
