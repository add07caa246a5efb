package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextOps

/** t8: repetition-based quality filters — the Gopher/C4-style "remove
  * degenerate machine text" signals (Rae et al. 2021 §A1.1 published the
  * recipe): fraction of duplicated words and the share of the most frequent
  * bigram. Degenerate documents (boilerplate loops, keyword stuffing) score
  * high on both; the `flagged` column is the pipeline's drop decision.
  *
  * Shape: the word-level stats are a pure per-row projection (token array →
  * sizes); the bigram mode needs a per-(doc, bigram) count — explode +
  * two grouped aggregates, both keyed on doc_id, so the corpus shuffles by
  * document and never concentrates. At 100 TB this is scan-dominated with
  * map-side partial aggregation; no join against anything global.
  */
object T8Repetition extends GraftQuery {
  val name = "t8_repetition"
  val describe = "repetition quality filters: dup-word fraction + top-bigram share (Gopher-style)"

  /** Flag thresholds, read by the Column plan and the oracle SQL alike. */
  private val dupWordMax = 0.6
  private val topBigramMax = 0.1

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    // The token array feeds three derived columns and two consumer branches;
    // persist the tokenized frame so the regex tokenization runs once, not
    // once per reference (CollapseProject inlines non-cheap HOF trees into
    // every reference and codegen CSE cannot hoist them — the d4 pattern).
    // Bench/Verify sweep persistent RDDs after every query.
    val toksFrame = graft.CacheScope.persisted(Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")))
    val base = toksFrame
      .select(col("doc_id"), size(col("toks")).as("n_tok"),
        size(array_distinct(col("toks"))).as("n_uniq"))
    // Per-document bigram mode: count per (doc, bigram), then max/total per
    // doc. Documents with < 2 tokens have no bigrams — the left join puts
    // them back with share 0. Each branch reads the cached tokens and
    // computes only its own derivation (the word stats never carry the
    // bigram array through the join).
    val bigramTop = toksFrame
      .select(col("doc_id"), explode(TextOps.shingles(col("toks"), 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((max(col("c")).cast("double") / sum(col("c"))).as("tb"))
    val dupFrac = when(col("n_tok") > 0,
      lit(1.0) - col("n_uniq").cast("double") / col("n_tok")).otherwise(0.0)
    base.join(bigramTop, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        round(dupFrac, 6).as("dup_word_frac"),
        round(coalesce(col("tb"), lit(0.0)), 6).as("top_bigram_frac"),
        (dupFrac > dupWordMax || coalesce(col("tb"), lit(0.0)) > topBigramMax)
          .as("flagged"))
  }

  val oracle = Some(
    s"""WITH th AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks FROM documents),
       |base AS (
       |  SELECT doc_id, len(toks) AS n_tok, len(list_distinct(toks)) AS n_uniq,
       |         CASE WHEN len(toks) >= 2 THEN ${TextOps.shinglesSql("toks", 2)}
       |              ELSE [] END AS bgs
       |  FROM th),
       |bg AS (SELECT doc_id, unnest(bgs) AS g FROM base),
       |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
       |tb AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS tb FROM bc GROUP BY 1),
       |df AS (
       |  SELECT b.doc_id, b.n_tok,
       |         CASE WHEN b.n_tok > 0 THEN 1.0 - CAST(b.n_uniq AS DOUBLE) / b.n_tok ELSE 0.0 END AS dwf,
       |         COALESCE(t.tb, 0.0) AS tbf
       |  FROM base b LEFT JOIN tb t ON b.doc_id = t.doc_id)
       |SELECT doc_id, n_tok, round(dwf, 6) AS dup_word_frac,
       |       round(tbf, 6) AS top_bigram_frac,
       |       (dwf > $dupWordMax OR tbf > $topBigramMax) AS flagged
       |FROM df""".stripMargin)
}

/** t9: corpus-trained bigram language-model score — the perplexity-style
  * quality signal LLM pipelines use (CCNet scores documents with a trained
  * LM; here the LM is a bigram model with add-one smoothing trained on the
  * corpus itself, which keeps the whole thing in two aggregates):
  *
  *   score(doc) = avg over its bigrams (w1, w2) of
  *                ln( (count(w1 w2) + 1) / (occurrences(w1) + V) )
  *
  * with V = corpus vocabulary size. Unusual word sequences score low —
  * gibberish and wrong-language text fall to the bottom of the ranking.
  *
  * Shape at scale: "training" is two grouped counts (bigram and unigram
  * occurrences — shuffles keyed on the n-gram, map-side combined, output
  * bounded by vocabulary not corpus); V is a 1-row broadcast; scoring joins
  * each document's bigrams against the count tables on the n-gram key.
  * Nothing is driver-side; the model IS a DataFrame.
  *
  * Parity: two independent noise sources separate here. Summation ORDER
  * (partition-order on Spark, sequential in DuckDB) is removed outright by
  * `Rounding.exactAvg(_, 12, 4)` — the quantized-mean scaled-long fold, so
  * the per-document mean is order-independent within each engine. What
  * remains is genuine per-row cross-engine noise: ln is not a correctly-
  * rounded operation, so the SAME bigram can score ~1e-13 apart between
  * JVM Math.log and DuckDB's libm before any aggregation. That residue is
  * irreducible by any summation discipline and is absorbed by the 4-decimal
  * output grid (margin 5e-5, noise ~1e-13 per row — same treatment as every
  * exp/log in the suite, see q3's sigmoid). Deliberately NOT grid-rounding
  * the per-row ln: a coarse per-row grid would convert the 1e-13 noise into
  * midpoint flips at rate noise/grid, far worse than folding it into the
  * mean.
  */
object T9BigramLm extends GraftQuery {
  val name = "t9_bigram_lm"
  val describe = "bigram LM (add-1 smoothed, corpus-trained) avg log-prob per document"

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    // Tokenized once, read by the occurrence, bigram-count, and
    // unigram-count branches from cache (see t8's note).
    val docToks = graft.CacheScope.persisted(Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")))
    // One row per bigram OCCURRENCE (position), with its prefix token.
    val m = size(col("toks")) - 1
    val occ = docToks
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(arrays_zip(slice(col("toks"), lit(1), m), slice(col("toks"), lit(2), m))).as("p"))
      .select(col("doc_id"), col("p.0").as("w1"), col("p.1").as("w2"))
    val bigramCounts = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val uniCounts = docToks
      .select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val vocab = uniCounts.agg(count(lit(1)).as("v"))
    occ
      .join(bigramCounts, Seq("w1", "w2"))
      .join(uniCounts, occ("w1") === uniCounts("w"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.functions.Rounding.exactAvg(
          log((col("cb") + 1.0) / (col("cw") + col("v"))), 12, 4).as("avg_logp"))
  }

  val oracle = Some(
    s"""WITH th AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks FROM documents),
       |occ AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
       |         unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
       |  FROM th WHERE len(toks) >= 2),
       |bc AS (SELECT w1, w2, count(*) AS cb FROM occ GROUP BY 1, 2),
       |uc AS (SELECT w, count(*) AS cw FROM (SELECT unnest(toks) AS w FROM th) GROUP BY 1),
       |v AS (SELECT count(*) AS v FROM uc)
       |SELECT o.doc_id, count(*) AS n_bigrams,
       |       ${graft.functions.Rounding.exactAvgSql("ln((c.cb + 1.0) / (u.cw + v.v))", 12, 4)} AS avg_logp
       |FROM occ o
       |JOIN bc c ON o.w1 = c.w1 AND o.w2 = c.w2
       |JOIN uc u ON o.w1 = u.w
       |CROSS JOIN v
       |GROUP BY o.doc_id""".stripMargin)
}
