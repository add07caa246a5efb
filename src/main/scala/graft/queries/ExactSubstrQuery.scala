package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.operators.TextOps

/** Shared machinery for d18/p7 — the EXACT-SUBSTRING dedup family
  * (Lee et al. 2022 "Deduplicating Training Data Makes Language Models
  * Better", the ExactSubstr method): find every maximal verbatim token run
  * of length ≥ k that occurs more than once in the corpus, at SUB-document
  * granularity. This is the standard published dedup the set-similarity
  * family cannot express: two long documents sharing one boilerplate
  * paragraph have near-zero Jaccard (d4) and near-zero containment (d17)
  * yet the paragraph is exactly what memorization studies remove.
  *
  * The paper builds a monolithic suffix array; the Spark-first
  * re-expression is rolling k-token gram counting, which detects the same
  * spans: a verbatim repeat of length L ≥ k contributes L−k+1 duplicated
  * k-grams at CONSECUTIVE positions in each copy, so the maximal run of
  * duplicated gram positions recovers the maximal repeated span (runs from
  * overlapping distinct sources merge — the containment-closure any span
  * remover wants anyway). Conversely every duplicated k-gram IS a ≥ k-token
  * verbatim repeat (62-bit hashes make collisions negligible; a collision
  * changes both engines identically so the oracle still matches).
  * Occurrence counting follows the paper: ≥ 2 occurrences ANYWHERE,
  * including twice within one document (self-repeats are memorization risk
  * too).
  *
  * Scale shape (the reason this form replaces the suffix array): the
  * occurrence frame is one row per token position — O(corpus tokens) —
  * hash-partitioned by gram hash for the duplicate count (map-side partial
  * aggregation collapses per-partition repeats), joined back keyed on the
  * same hash, then run detection is a per-document window whose partitions
  * are bounded by DOCUMENT length, not corpus size. No global sort, no
  * driver state, nothing resembling the paper's shared-memory suffix
  * array. At 100 TB: two shuffles (count, join) + one doc-bounded window.
  */
private[queries] object ExactSubstr {
  /** Minimum verbatim run, in word tokens. The paper uses 50 BPE tokens on
    * web pages; the synthetic corpus averages ~54 word tokens per doc, so
    * the default keeps the same "about a fifth of a document" selectivity.
    */
  val k = 10

  /** Duplicated-gram hit positions: (doc_id, pos, occ_n) — every 1-based
    * token position whose k-gram occurs ≥ 2 times corpus-wide, with the
    * gram's total occurrence count. The occurrence frame is persisted:
    * the duplicate count and the join-back both read it, and recomputing
    * it means re-tokenizing the corpus.
    */
  def hits(spark: SparkSession, sfDir: String): DataFrame =
    // A Materialize stage since round 13. The round-11 note here said the
    // opposite ("build 5.1s vs 2.4s of avoided recompute") — but that was
    // measured with ONE consumer; t28 (round 12) made it three. Re-measured
    // A/B at sf0.1 (reps=3, d18+t28+p7 all riding this chain): unshared
    // consumers 7.81s (2.15+3.04+2.63) vs shared 2.61s build + 2.03s
    // consumers (0.22+1.08+0.73) = 4.64s — the build pays for itself at
    // two consumers and wins ~3.2s at three.
    // (doc_id, pos, occ_n) is all-long, parquet-exact.
    Materialize.table(spark, "d18_hits", sfDir)(
      hitsOn(Tables.documents(spark, sfDir)))

  /** [[hits]] over an arbitrary (doc_id, text) frame — the form a composed
    * release (p9) runs over its SURVIVOR set: duplicated spans are found
    * within the corpus actually being released, not the raw one.
    */
  def hitsOn(docs: DataFrame): DataFrame = {
    val occ = graft.CacheScope.persisted(
      docs
        .select(col("doc_id"),
          TextOps.gramHashes(TextOps.tokenHashes(TextOps.tokens(col("text"))), k).as("gh"))
        .select(col("doc_id"), posexplode(col("gh")).as(Seq("p0", "h")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h")))
    val dup = occ.groupBy(col("h"))
      .agg(count(lit(1)).as("occ_n"))
      .filter(col("occ_n") >= 2)
    occ.join(dup, "h").select(col("doc_id"), col("pos"), col("occ_n"))
  }

  /** CTE chain ending in relation `${p}hit(doc_id, pos, occ_n)` — the
    * DuckDB mirror of [[hitsOn]] over source relation `src`, every CTE
    * name prefixed with `p` so the chain composes into larger oracles
    * without name collisions (p1's chain also defines `th` — the s7→s11
    * prefix-parameterization discipline). Parallel unnests zip positionally
    * (DuckDB semantics), giving each gram its 1-based position.
    */
  def hitsSqlCtes(src: String, p: String): String =
    s"""${p}tk AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks FROM $src),
       |${p}th AS (SELECT doc_id, ${TextOps.tokenHashesSql("toks")} AS ht FROM ${p}tk),
       |${p}g AS (SELECT doc_id, ${TextOps.gramHashesSql("ht", k)} AS gh FROM ${p}th),
       |${p}occ AS MATERIALIZED (
       |  SELECT doc_id, unnest(gh) AS h, unnest(range(1, len(gh) + 1)) AS pos FROM ${p}g),
       |${p}dup AS (SELECT h, count(*) AS occ_n FROM ${p}occ GROUP BY h HAVING count(*) >= 2),
       |${p}hit AS (SELECT o.doc_id, o.pos, d.occ_n FROM ${p}occ o JOIN ${p}dup d USING (h))""".stripMargin

  def hitsSqlCtes: String = hitsSqlCtes("documents", "")
}

/** d18: exact-substring duplicate spans — one row per MAXIMAL run of
  * duplicated k-grams per document: the span's token bounds, length, how
  * many grams back it, and the hottest gram's corpus-wide occurrence count.
  * This is the disposition input p7 consumes (and the report a human
  * triages); see [[ExactSubstr]] for semantics and the 100-TB argument.
  */
object D18ExactSubstr extends GraftQuery {
  val name = "d18_exact_substr"
  val describe = "exact-substring dedup (ExactSubstr): maximal verbatim >=k-token duplicated spans per doc"

  private val k = ExactSubstr.k

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    ExactSubstr.hits(spark, sfDir)
      // Classic gaps-and-islands: a position extends the current run iff it
      // is exactly prev+1; the running sum of break flags numbers the runs.
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byPos) === 1, 0).otherwise(1))
      .withColumn("run_id", sum(col("brk")).over(byPos))
      .groupBy(col("doc_id"), col("run_id"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1).cast("long")).as("span_end"),
        (max(col("pos")) - min(col("pos")) + lit(k).cast("long")).as("span_tokens"),
        count(lit(1)).as("n_grams"),
        max(col("occ_n")).as("max_occ"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"), col("n_grams"), col("max_occ"))
  }

  val oracle = Some(
    s"""WITH ${ExactSubstr.hitsSqlCtes},
       |brk AS (
       |  SELECT doc_id, pos, occ_n,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
       |              THEN 0 ELSE 1 END AS brk
       |  FROM hit),
       |rid AS (
       |  SELECT doc_id, pos, occ_n,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
       |  FROM brk)
       |SELECT doc_id,
       |       min(pos) AS span_start,
       |       max(pos) + ${k - 1} AS span_end,
       |       max(pos) - min(pos) + $k AS span_tokens,
       |       count(*) AS n_grams,
       |       max(occ_n) AS max_occ
       |FROM rid
       |GROUP BY doc_id, run_id""".stripMargin)
}

/** p7: SUB-document disposition — the span REMOVER over d18's findings:
  * every token covered by a duplicated ≥ k-token run is dropped (the paper
  * removes all copies; keeping one canonical copy is a policy layered on
  * top) and the surviving token stream is re-emitted. This is the
  * "boilerplate strip" granularity p1/p5 lack: they keep or drop whole
  * documents, p7 edits inside them.
  *
  * The covered-position set per doc is bounded by the doc's own token count,
  * so the join payload and the per-row filter are document-bounded. Output
  * is the cleaned token stream (tokens are what the training pipeline
  * feeds the tokenizer anyway), plus audit counts.
  */
object P7SpanStrip extends GraftQuery {
  val name = "p7_span_strip"
  val describe = "sub-document disposition: strip verbatim-duplicated spans, emit cleaned token stream"

  private val k = ExactSubstr.k

  def run(spark: SparkSession, sfDir: String): DataFrame =
    // The raw-corpus strip consumes the SHARED d18_hits stage (see
    // [[ExactSubstr.hits]]) — d18/t28/p7 all ride one build; the composed
    // releases (p9/p12) strip FILTERED frames and keep the inline form.
    stripWith(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      ExactSubstr.hits(spark, sfDir))

  /** The strip over an arbitrary (doc_id, text) frame — p9 runs it over
    * the release's survivor set. Output: (doc_id, n_tokens, n_dropped,
    * clean_text).
    *
    * Cost model: the covered-position list is SORTED once per doc
    * (`sort_array`, O(C log C)) and each of the L tokens probes it by
    * binary search ([[org.apache.spark.sql.graft.SortedContains]], a
    * codegen'd Catalyst expression) — O(L log C) per document, vs the
    * O(L·C) an `array_contains` probe costs, which a pathological
    * fully-duplicated long doc (C ≈ L) turns quadratic. Both forms are
    * doc-bounded (never corpus-bounded); the log form removes the
    * long-document executor-stall tail at 100 TB. StripEquivalenceSpec
    * pins output equality of the two forms on the corpus + a hostile
    * fully-duplicated fixture.
    */
  private[queries] def stripOn(docs: DataFrame): DataFrame =
    stripWith(docs, ExactSubstr.hitsOn(docs))

  /** [[stripOn]] with the hit-position frame supplied by the caller — the
    * raw-corpus path passes the shared d18_hits stage; composed callers
    * pass [[ExactSubstr.hitsOn]] of their own filtered frame.
    */
  private[queries] def stripWith(docs: DataFrame, hits: DataFrame): DataFrame = {
    org.apache.spark.sql.graft.SortedContains.register(
      docs.sparkSession)
    val cov = hits
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1).cast("long"))).as("tp"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tp"))).as("cps"), count(lit(1)).as("n_dropped"))
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .join(cov, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        concat_ws(" ",
          // (token, 0-based index) filter; coalesce guards the un-joined
          // (no duplicated span) docs, where `cps` is null and a null
          // lambda result would silently DROP every token.
          filter(col("toks"), (t, i) =>
            !coalesce(
              org.apache.spark.sql.graft.SortedContains.sortedContains(
                col("cps"), (i + 1).cast("long")),
              lit(false))))
          .as("clean_text"))
  }

  /** CTE chain ending in `${p}clean(doc_id, n_tokens, n_dropped,
    * clean_text)` — the DuckDB mirror of [[stripOn]] over `src`,
    * prefix-parameterized like [[ExactSubstr.hitsSqlCtes]].
    */
  private[queries] def stripSqlCtes(src: String, p: String): String =
    s"""${ExactSubstr.hitsSqlCtes(src, p)},
       |${p}covp AS (
       |  SELECT DISTINCT doc_id, tp FROM (
       |    SELECT doc_id, unnest(range(pos, pos + $k)) AS tp FROM ${p}hit)),
       |${p}cov AS (
       |  SELECT doc_id, list(tp) AS cps, count(*) AS n_dropped
       |  FROM ${p}covp GROUP BY doc_id),
       |${p}clean AS (
       |  SELECT t.doc_id,
       |         CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |         CAST(coalesce(c.n_dropped, 0) AS BIGINT) AS n_dropped,
       |         coalesce(array_to_string(
       |           list_filter(t.toks, (x, i) -> NOT coalesce(list_contains(c.cps, i), false)),
       |           ' '), '') AS clean_text
       |  FROM ${p}tk t LEFT JOIN ${p}cov c USING (doc_id))""".stripMargin

  val oracle = Some(
    s"""WITH ${stripSqlCtes("documents", "")}
       |SELECT doc_id, n_tokens, n_dropped, clean_text FROM clean""".stripMargin)
}

/** t28: per-document GRAM NOVELTY — the doc-level rollup of d18's
  * evidence: what fraction of a document's k-token grams occur nowhere
  * else in the corpus (novel) vs duplicated somewhere (boilerplate mass).
  * d18 reports the spans and p7 strips them; t28 is the per-doc SCORE a
  * curation dashboard ranks by — a low-novelty doc is mostly shared
  * boilerplate even when no single span is long enough to strip, which
  * neither t8 (within-doc repetition) nor d9 (eval overlap) measures.
  *
  * Exactness: gram counts and duplicated-position counts are exact
  * integers from the shared hits chain; novelty_e6 is one exactly-rounded
  * IEEE division on the 1e-6 grid. Docs with fewer than k tokens have no
  * grams and are reported with n_grams = 0 and novelty 1e6 (vacuously
  * novel) — both engines by the same rule.
  *
  * Scale: rides [[ExactSubstr.hitsOn]]'s audited two-shuffle shape (one
  * hash-keyed count, one join-back) plus a doc-keyed count and one
  * doc_id-keyed left join against the per-doc gram totals.
  *
  * SLOPE ATTRIBUTION (round-14, closing the r13 6.85x flag): the 10x-doc
  * probe put the consumer at 1.24s -> 8.52s while d18 — same shared hits
  * input, heavier per-doc window — ran 0.81x. The difference was the
  * n_grams branch: it re-tokenized AND gram-hashed the full corpus
  * (`size(gramHashes(tokenHashes(tokens)))`, O(tokens*k) fold work per
  * doc) only to take the array's SIZE — which is identically
  * `greatest(n_tokens - k + 1, 0)` (gramHashes emits exactly
  * len - k + 1 hashes when len >= k, else an empty array). The count is
  * now computed from `size(tokens)` directly: the corpus pass drops the
  * per-token xxhash and the 2x k-element rolling folds and keeps only the
  * regex tokenize. MEASURED at the sf1 probe (StripProbe, 50k docs,
  * local[32]): old n_grams pass 7.83 s vs 0.72 s for the identity (same
  * 2 255 063-gram mass), and the full t28 consumer over a shared
  * d18_hits stage drops 8.52 s (SCALE_SLOPE_r13) -> 0.31 s
  * (hits read 0.22 s + dup count 0.42 s + join, pipelined) — the entire
  * unattributed 6.85x slope was this one wasted hash pass.
  */
object T28GramNovelty extends GraftQuery {
  val name = "t28_gram_novelty"
  val describe = "per-doc novelty: fraction of k-gram positions not duplicated anywhere in the corpus"

  private val k = ExactSubstr.k

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TextOps
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        greatest(size(TextOps.tokens(col("text"))).cast("long") - lit((k - 1).toLong),
          lit(0L)).as("n_grams"))
    val dup = ExactSubstr.hits(spark, sfDir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    grams.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_grams"))
      .withColumn("novelty_e6",
        when(col("n_grams") === 0L, 1000000L).otherwise(
          round((lit(1.0) - col("n_dup_grams").cast("double") / col("n_grams").cast("double")) * 1e6)
            .cast("long")))
  }

  val oracle = Some(
    s"""WITH ${ExactSubstr.hitsSqlCtes},
       |ng AS (SELECT doc_id, CAST(greatest(len(toks) - ${k - 1}, 0) AS BIGINT) AS n_grams FROM tk),
       |nd AS (SELECT doc_id, count(*) AS n_dup FROM hit GROUP BY doc_id)
       |SELECT ng.doc_id, ng.n_grams,
       |       CAST(coalesce(nd.n_dup, 0) AS BIGINT) AS n_dup_grams,
       |       CASE WHEN ng.n_grams = 0 THEN 1000000
       |            ELSE CAST(round((1.0 - CAST(coalesce(nd.n_dup, 0) AS DOUBLE)
       |                                 / CAST(ng.n_grams AS DOUBLE)) * 1e6) AS BIGINT)
       |       END AS novelty_e6
       |FROM ng LEFT JOIN nd ON ng.doc_id = nd.doc_id""".stripMargin)
}
