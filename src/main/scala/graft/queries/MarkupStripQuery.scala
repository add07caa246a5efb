package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable

/** t21: markup strip — the HTML-boilerplate removal every web-corpus
  * pipeline runs before anything else (the extraction stage ahead of even
  * langid in C4/RefinedWeb-style pipelines). The corpus is plain text, so —
  * the t20/m5 fixture discipline — both engines deterministically wrap each
  * document in the same markup (elements, an optional `<script>` block
  * with CONTENT, an optional comment, an entity) and then strip it through
  * the same regex chain, so the stripping itself is what the hash gate
  * exercises.
  *
  * The ordering is the semantics: `<script>` blocks are removed WITH their
  * content first (the step a naive untag misses — script bodies are not
  * text), then comments, then remaining tags, then entity decode, then
  * whitespace collapse. All patterns sit in the Java∩RE2 common dialect
  * (non-greedy `.*?` included — supported identically by both engines);
  * the md5 over the final cleaned text makes the gate span-exact.
  *
  * Scale: a pure per-row projection over the scan — no shuffle, no state;
  * regex cost is linear in document length on both engines.
  */
object T21MarkupStrip extends GraftQuery {
  val name = "t21_markup_strip"
  val describe = "markup strip: script-with-content removal, untag, entity decode, md5-pinned text"

  // one pattern set, read by the Column chain and the oracle SQL alike
  private val scriptRe = "<script>.*?</script>"
  private val commentRe = "<!--.*?-->"
  private val tagRe = "<[^>]+>"

  /** The injected fixture document: the text's two halves wrapped in
    * elements, with hash-gated optional script/comment blocks and one
    * entity. Column form; the SQL mirror lives in [[htmlCte]].
    */
  private[queries] def htmlCol(doc_id: Column, text: Column): Column = {
    val h = Portable.hash60(concat(lit("html:"), text))
    // integer halving on BOTH engines: Spark's double-div + cast truncates,
    // so the SQL mirror must use `//` (DuckDB CAST(x.5 AS INT) rounds)
    val half = (length(text) / 2).cast("int")
    val a = text.substr(lit(1), half)
    val b = text.substr(half + 1, length(text))
    concat(
      lit("<html><body><p>"), a, lit("</p>"),
      when(h % 3 === 0,
        concat(lit("<script>var x="), (h % 1000).cast("string"), lit(";</script>")))
        .otherwise(lit("")),
      lit("<b>"), b, lit("</b>"),
      when(h % 2 === 0,
        concat(lit("<!-- meta "), (doc_id % 100).cast("string"), lit(" -->")))
        .otherwise(lit("")),
      lit("&amp; tail</body></html>"))
  }

  private val htmlCte: String = {
    val h = Portable.hash60Sql("'html:' || text")
    s"""hh AS (SELECT doc_id, text, $h AS h FROM documents),
       |html AS (
       |  SELECT doc_id,
       |         '<html><body><p>' || substr(text, 1, CAST(length(text) // 2 AS INT)) || '</p>' ||
       |         CASE WHEN h % 3 = 0 THEN '<script>var x=' || (h % 1000) || ';</script>' ELSE '' END ||
       |         '<b>' || substr(text, CAST(length(text) // 2 AS INT) + 1) || '</b>' ||
       |         CASE WHEN h % 2 = 0 THEN '<!-- meta ' || (doc_id % 100) || ' -->' ELSE '' END ||
       |         '&amp; tail</body></html>' AS html
       |  FROM hh)""".stripMargin
  }

  /** The strip chain, Column form — script blocks (with content) → comments
    * → tags → entities → whitespace collapse. Keep in lockstep with the SQL
    * in [[oracle]].
    */
  private[queries] def stripCol(html: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(html, scriptRe, " "),
            commentRe, " "),
          tagRe, " "),
        "&amp;", "&"),
      "\\s+", " "))

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), htmlCol(col("doc_id"), col("text")).as("html"))
    val noScript = regexp_replace(col("html"), scriptRe, " ")
    val clean = stripCol(col("html"))
    d.select(
      col("doc_id"),
      length(col("html")).as("raw_len"),
      size(regexp_extract_all(col("html"), lit(scriptRe), lit(0))).as("n_scripts"),
      size(regexp_extract_all(noScript, lit(tagRe), lit(0))).as("n_tags"),
      length(clean).as("clean_len"),
      md5(clean.cast("binary")).as("clean_md5"))
  }

  val oracle = {
    val stripSql =
      s"trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html, '$scriptRe', ' ', 'g'), '$commentRe', ' ', 'g'), '$tagRe', ' ', 'g'), '&amp;', '&', 'g'), '\\s+', ' ', 'g'))"
    Some(
      s"""WITH $htmlCte
         |SELECT doc_id,
         |       CAST(length(html) AS INT) AS raw_len,
         |       CAST(len(regexp_extract_all(html, '$scriptRe')) AS INT) AS n_scripts,
         |       CAST(len(regexp_extract_all(regexp_replace(html, '$scriptRe', ' ', 'g'), '$tagRe')) AS INT) AS n_tags,
         |       CAST(length($stripSql) AS INT) AS clean_len,
         |       md5($stripSql) AS clean_md5
         |FROM html""".stripMargin)
  }
}
