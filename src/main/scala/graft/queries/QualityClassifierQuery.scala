package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.KMeans.sqlLit
import graft.operators.TextOps

/** k4: DISCRIMINATIVE quality classifier — the fastText/GPT-3 counterpart of
  * t19's generative CCNet filter. The weak-supervision recipe every large
  * pretraining corpus used in some form (Brown et al. 2020 §A; Joulin et
  * al. 2016 for the classifier family): label the trusted reference slice
  * positive and the rest negative, train a linear classifier on cheap text
  * features, and score EVERY document by P(reference-like). t19 asks "how
  * probable is this text under a reference-trained LM"; k4 asks "can a
  * trained discriminator tell this text from reference text" — the two
  * filters disagree exactly where generative and discriminative filtering
  * disagree in production, which is why pipelines run both.
  *
  * Training is the reference's C4 loop verbatim (k1's discipline —
  * LogisticRegressionMaster/Worker semantics: per-iteration full-batch
  * averaged gradient, driver-side weight update): 5 iterations, lr = 1.0
  * (keeps every update ON the 1e-6 grid — k1's midpoint argument), w₀ = 0.
  * Per-iteration gradients use `Rounding.exactAvg(_, 10, 6)` — the
  * order-independent scaled-long fold, STRONGER than k1's round(sum/count)
  * (which tolerates summation-order noise only away from grid midpoints).
  * Capacity: grid 1e-10 puts per-doc scaled mass at ~2·10¹⁰ (|err·f| ≤ 2),
  * so the LONG accumulator overflows near n ≈ Long.Max / 2·10¹⁰ ≈ 4.6·10⁸
  * docs — enough for every test SF, but a 100-TB corpus (≥10⁹ docs) must
  * swap this call site to exactAvg's documented `decimal(38, gridScale)`
  * accumulator (same order-independence, unbounded mass) or lower gridScale
  * to 8 (capacity ~4.6·10¹⁰ docs at 1e-8 grid, still finer than the 1e-6
  * output grid).
  *
  * Features (bias + 4, all from t2's quality family — same expressions,
  * same SQL mirrors, scaled into O(1) ranges so one lr fits all weights):
  * punct ratio, stopword ratio, mean-word-len/10, ln(n_tok+1)/10. Ratios
  * of integers are exactly-rounded IEEE divisions (bit-equal cross-engine);
  * ln/exp carry the usual ~1e-13 libm residue absorbed by the 6-decimal
  * output grid (q3's sigmoid argument).
  *
  * Scale shape: the feature frame is one scan-bound projection (cached
  * across the 5 passes — A2's load-once contract); each iteration is ONE
  * codegen'd aggregate returning 5 doubles to the driver (the O(dims)
  * master fold, regardless of corpus size); scoring is a second scan-bound
  * projection under the final literal weights. No joins, no windows — at
  * 100 TB this is 6 scans of a columnar projection, nothing else.
  *
  * Labels: positive = t19's `refSources` slice — the SAME trusted slice, so
  * k4 and t19 are genuinely the two filters over one reference definition.
  */
object K4QualityClassifier extends GraftQuery {
  val name = "k4_quality_classifier"
  val describe = "discriminative quality classifier: LR on text features vs the trusted slice, scores every doc"

  private[queries] val iterations = 5
  private val lr = 1.0
  private[queries] val dims = 5 // bias + 4 features
  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  private def round6(x: Double): Double = graft.functions.Rounding.roundTo(x, 6)

  /** The feature expressions f0..f4 over a text column. */
  private def featureCols(text: Column): Seq[Column] = {
    val toks = TextOps.tokens(text)
    // Divisors clamped to >= 1: an empty / whitespace-only doc has nChar=0
    // or nTok=0, and a NaN feature silently poisons the exactAvg gradient
    // in Spark (round(NaN).cast(long) -> 0) while DuckDB diverges — one
    // degenerate doc would break cross-engine parity for the whole loop.
    // Clamping (not filtering) keeps the scored surface = every document;
    // the SQL mirror clamps identically.
    val nTok = greatest(size(toks).cast("double"), lit(1.0))
    val nChar = greatest(length(text).cast("double"), lit(1.0))
    val nPunct = (length(text) -
      length(regexp_replace(text, "[.,;:!?]", ""))).cast("double")
    val nStop = size(array_intersect(array_distinct(toks),
      array(stopwords.map(lit): _*))).cast("double")
    val meanWordLen =
      length(regexp_replace(text, "\\s+", "")).cast("double") / nTok
    Seq(
      lit(1.0),
      nPunct / nChar,
      nStop / lit(stopwords.length.toDouble),
      meanWordLen / lit(10.0),
      log(nTok + lit(1.0)) / lit(10.0))
  }

  /** Feature frame: (doc_id, is_ref label, f0..f4). One scan-bound
    * projection; cached by the caller for the training passes.
    */
  private[queries] def features(spark: SparkSession, sfDir: String): DataFrame = {
    val fs = featureCols(col("text"))
    Tables.documents(spark, sfDir).select(
      col("doc_id") +:
        col("source").isin(T19LmFilter.refSources: _*).as("is_ref") +:
        fs.zipWithIndex.map { case (f, j) => f.as(s"f$j") }: _*)
  }

  /** The feature CTE `<out>(doc_id, y, f0..f4)` over `documents` — the
    * DuckDB mirror of [[features]], term order identical.
    */
  private def featuresSqlCte(out: String): String = {
    val toks = TextOps.tokensSql("text")
    val stopLit = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val refList = T19LmFilter.refSources.map(s => s"'$s'").mkString(", ")
    s"""$out AS (
       |  SELECT doc_id,
       |         (source IN ($refList)) AS is_ref,
       |         1.0 AS f0,
       |         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) AS f1,
       |         CAST(len(list_intersect(list_distinct($toks), $stopLit)) AS DOUBLE) / ${stopwords.length}.0 AS f2,
       |         (CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / greatest(CAST(len($toks) AS DOUBLE), 1.0)) / 10.0 AS f3,
       |         ln(greatest(CAST(len($toks) AS DOUBLE), 1.0) + 1.0) / 10.0 AS f4
       |  FROM documents)""".stripMargin
  }

  private def zExpr(w: Seq[Double]): Column =
    (0 until dims).map(j => lit(w(j)) * col(s"f$j")).reduce(_ + _)

  private def zSql(w: Seq[Double], alias: String): String =
    (0 until dims).map(j => s"${sqlLit(w(j))} * $alias.f$j").mkString(" + ")

  /** The C4 training loop over a (cached) feature frame — one aggregate per
    * iteration, O(dims) to the driver, capped by the CLI's `-c`
    * ([[graft.core.IterationBudget]]). Shared with the replay-parity spec.
    */
  private[queries] def trainedWeights(df: DataFrame): Seq[Double] = {
    var w: Seq[Double] = Seq.fill(dims)(0.0)
    for (_ <- 1 to graft.core.IterationBudget.effective(iterations)) {
      val err = lit(1.0) / (lit(1.0) + exp(-zExpr(w))) -
        col("is_ref").cast("double")
      val aggs = (0 until dims).map(j =>
        graft.functions.Rounding.exactAvg(err * col(s"f$j"), 10, 6).as(s"g$j"))
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val g = (0 until dims).map(row.getDouble)
      w = w.zip(g).map { case (wi, gi) => round6(wi - lr * gi) }
    }
    w
  }

  def run(spark: SparkSession, sfDir: String): DataFrame =
    // Shared stage output: k5's threshold sweep and k6's calibration table
    // regroup k4's own scored run.
    graft.Materialize.table(spark, "k4_scored", sfDir)(build(spark, sfDir))

  private def build(spark: SparkSession, sfDir: String): DataFrame = {
    val f = graft.CacheScope.persisted(features(spark, sfDir))
    val w = trainedWeights(f)
    val score = round(lit(1.0) / (lit(1.0) + exp(-zExpr(w))), 6)
    f.select(col("doc_id"), col("is_ref"), score.as("score"))
      .withColumn("pred_ref", col("score") >= 0.5)
  }

  /** The full trained-and-scored CTE chain, ending in
    * `<out>(doc_id, is_ref, score)` — k4's own oracle body, exposed so
    * composed consumers (k5's evaluation table) replay the identical
    * training + scoring SQL instead of re-deriving it (the s6/s7 → s11
    * prefix-parameterization discipline).
    */
  private[queries] def scoredCte(out: String): String = {
    val sb = new StringBuilder
    sb ++= featuresSqlCte("f")
    sb ++= s",\nw0(${(0 until dims).map(i => s"w$i").mkString(", ")}) AS (VALUES (${Seq.fill(dims)("0.0").mkString(", ")}))"
    for (it <- 1 to iterations) {
      val z = (0 until dims).map(j => s"w.w$j * f.f$j").mkString(" + ")
      val err = s"1.0 / (1.0 + exp(-($z))) - CAST(is_ref AS DOUBLE)"
      val gCols = (0 until dims)
        .map(j => s"${graft.functions.Rounding.exactAvgSql(s"($err) * f.f$j", 10, 6)} AS g$j")
        .mkString(", ")
      sb ++= s",\ng$it AS (SELECT $gCols FROM f CROSS JOIN w${it - 1} w)"
      val wCols = (0 until dims)
        .map(j => s"round(w.w$j - ${sqlLit(lr)} * g.g$j, 6) AS w$j").mkString(", ")
      sb ++= s",\nw$it AS (SELECT $wCols FROM w${it - 1} w CROSS JOIN g$it g)"
    }
    val zF = (0 until dims).map(j => s"w.w$j * f.f$j").mkString(" + ")
    sb ++=
      s""",
         |$out AS (
         |  SELECT f.doc_id, f.is_ref,
         |         round(1.0 / (1.0 + exp(-($zF))), 6) AS score
         |  FROM f CROSS JOIN w$iterations w)""".stripMargin
    sb.toString
  }

  val oracle = Some(
    s"""WITH ${scoredCte("sc")}
       |SELECT doc_id, is_ref, score, (score >= 0.5) AS pred_ref FROM sc""".stripMargin)
}

/** k5: classifier evaluation table — the audit artifact every production
  * quality filter ships next to its weights: k4's scores swept over nine
  * decision thresholds, with the exact confusion counts (TP/FP/FN/TN
  * against t19's trusted-slice labels) and precision/recall/F1 per
  * threshold. This is how the filter's operating point is CHOSEN (the
  * fastText/CCNet papers pick thresholds off exactly this curve); without
  * it k4's fixed 0.5 cut is a guess.
  *
  * Composition: the scored frame is k4's own `run` (one definition — the
  * spec pins that k5's counts reproduce from k4's published output), and
  * the oracle replays k4's full trained-and-scored CTE chain via
  * [[K4QualityClassifier.scoredCte]] — byte-identical training SQL.
  *
  * Engine-exactness: counts are integer sums over (rounded score ≥ literal
  * threshold) predicates — both engines compare identical doubles — and
  * each ratio is ONE correctly-rounded division of identical integers;
  * ALL THREE ratios (precision, recall, F1) pin their empty-denominator
  * case to the -1.0 sentinel on both sides (Spark 0/0 is NaN, DuckDB
  * diverges — the CASE removes the hazard for any SF's label mix).
  *
  * Scale: a 9× literal fan-out (explode over an inlined array) followed by
  * a 9-key aggregate — map-side partials reduce every task to ≤ 9 rows, so
  * the shuffle is O(9 × partitions) regardless of corpus size.
  */
object K5ClassifierEval extends GraftQuery {
  val name = "k5_classifier_eval"
  val describe = "classifier threshold sweep: confusion counts + precision/recall/F1 per cut"

  private val thresholds = (1 to 9).map(_ / 10.0)

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = K4QualityClassifier.run(spark, sfDir)
      .select(col("is_ref"), col("score"))
    val hit = col("score") >= col("threshold")
    scored
      .select(col("is_ref"), col("score"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(
        sum(when(hit && col("is_ref"), 1L).otherwise(0L)).as("tp"),
        sum(when(hit && !col("is_ref"), 1L).otherwise(0L)).as("fp"),
        sum(when(!hit && col("is_ref"), 1L).otherwise(0L)).as("fn"),
        sum(when(!hit && !col("is_ref"), 1L).otherwise(0L)).as("tn"))
      .select(
        col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") === 0, lit(-1.0))
          .otherwise(round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
          .as("prec"),
        // recall/f1 carry the same -1.0 empty-denominator sentinel as prec:
        // tp+fn = 0 (no reference-labeled docs at some SF) or an all-empty
        // confusion row would otherwise be Spark NaN vs DuckDB divergence —
        // the exact hazard the prec CASE was added for.
        when(col("tp") + col("fn") === 0, lit(-1.0))
          .otherwise(round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
          .as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") === 0, lit(-1.0))
          .otherwise(
            round(lit(2.0) * col("tp") / (lit(2L) * col("tp") + col("fp") + col("fn")), 6))
          .as("f1"))
  }

  /** The sweep CTEs (`th` thresholds, `c` confusion counts, `ev` the full
    * evaluation table with ratios) over a scored CTE named `sc` — k5's own
    * oracle publishes `ev`; k7 composes it further to extract the
    * argmax-F1 operating threshold. One definition, two consumers — the
    * scoredCte discipline applied one stage later.
    */
  private[queries] def evalCtesSql: String = {
    val values = thresholds.map(t => s"($t)").mkString(", ")
    s"""th AS (SELECT CAST(x AS DOUBLE) AS threshold FROM (VALUES $values) t(x)),
       |c AS (
       |  SELECT th.threshold,
       |         CAST(sum(CASE WHEN sc.score >= th.threshold AND sc.is_ref THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |         CAST(sum(CASE WHEN sc.score >= th.threshold AND NOT sc.is_ref THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |         CAST(sum(CASE WHEN sc.score < th.threshold AND sc.is_ref THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |         CAST(sum(CASE WHEN sc.score < th.threshold AND NOT sc.is_ref THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM sc CROSS JOIN th GROUP BY th.threshold),
       |ev AS (
       |  SELECT threshold, tp, fp, fn, tn,
       |         CASE WHEN tp + fp = 0 THEN -1.0
       |              ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS prec,
       |         CASE WHEN tp + fn = 0 THEN -1.0
       |              ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
       |         CASE WHEN 2 * tp + fp + fn = 0 THEN -1.0
       |              ELSE round(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1
       |  FROM c)""".stripMargin
  }

  val oracle = Some(
    s"""WITH ${K4QualityClassifier.scoredCte("sc")},
       |$evalCtesSql
       |SELECT threshold, tp, fp, fn, tn, prec, recall, f1 FROM ev""".stripMargin)
}

/** k6: classifier CALIBRATION table — the reliability diagram next to k5's
  * threshold sweep: scores binned into deciles, and per bin the observed
  * positive rate against the mean predicted score. k5 answers "where do I
  * cut?"; this answers "is the score a probability?" — which matters the
  * moment the filter's score is used as a sampling PROPENSITY (quality-
  * weighted mixture sampling à la CCNet) rather than a hard gate: an
  * uncalibrated 0.8 that wins 40% of the time silently doubles that
  * slice's weight. The per-bin `gap` (mean score − positive rate) is the
  * additive piece of expected calibration error.
  *
  * Composition: the scored frame is k4's own `run` (one definition), and
  * the oracle replays k4's full trained-and-scored chain via
  * [[K4QualityClassifier.scoredCte]] — k5's discipline exactly.
  *
  * Engine-exactness: the bin is floor(score·10) on the ROUNDED score —
  * identical doubles through one identical IEEE multiply on both engines
  * (k5's comparison argument), capped at bin 9 so score = 1.0 has a home;
  * mean score is the order-independent exactAvg; the positive rate and
  * gap are one division / one subtraction of identical values, rounded.
  *
  * Scale: one projection + a ≤10-key aggregate with map-side partials —
  * the shuffle is O(10 × partitions) regardless of corpus size.
  */
object K6Calibration extends GraftQuery {
  val name = "k6_calibration"
  val describe = "classifier reliability table: per-decile mean score vs observed positive rate + calibration gap"

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = K4QualityClassifier.run(spark, sfDir)
      .select(col("is_ref"), col("score"))
    scored
      .select(least(floor(col("score") * 10), lit(9)).cast("long").as("bin"),
        col("is_ref"), col("score"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_pos"),
        graft.functions.Rounding.exactAvg(col("score"), 6).as("mean_score"))
      .select(col("bin"), col("n"), col("n_pos"), col("mean_score"),
        round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"),
        round(col("mean_score") - round(col("n_pos").cast("double") / col("n"), 6), 6)
          .as("gap"))
  }

  val oracle = Some(
    s"""WITH ${K4QualityClassifier.scoredCte("sc")},
       |b AS (
       |  SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin, is_ref, score
       |  FROM sc),
       |a AS (
       |  SELECT bin, count(*) AS n,
       |         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |         ${graft.functions.Rounding.exactAvgSql("score", 6)} AS mean_score
       |  FROM b GROUP BY bin)
       |SELECT bin, n, n_pos, mean_score,
       |       round(CAST(n_pos AS DOUBLE) / n, 6) AS pos_rate,
       |       round(mean_score - round(CAST(n_pos AS DOUBLE) / n, 6), 6) AS gap
       |FROM a""".stripMargin)
}

/** k7: uncertainty sampling — the active-learning step that closes the
  * classifier family's loop: k4 trains and scores, k5 picks the operating
  * threshold, k6 checks calibration, and k7 answers "which documents should
  * a human label NEXT to improve the filter?" — the n docs whose scores sit
  * closest to the operating point, where the model is least certain and a
  * label is worth the most (Lewis & Gale 1994's uncertainty sampling; every
  * production quality filter's annotation queue is built this way).
  *
  * Composition: the scored frame is k4's own `run` (the shared stage under
  * an enabled [[graft.Materialize]] run), and the operating threshold is
  * the argmax-F1 row of k5's OWN published sweep (tie → smaller threshold)
  * — not a fixed constant, so the labeling queue moves when the sweep does.
  * The oracle composes the same two stages from their factored CTEs
  * ([[K4QualityClassifier.scoredCte]], [[K5ClassifierEval.evalCtesSql]]).
  *
  * Engine-exactness: both engines hold identical rounded-6 scores and the
  * identical sweep table, so the argmax row is the same literal double; the
  * uncertainty key is CAST(round(|score − thr| · 1e6) AS BIGINT) — one
  * subtraction and multiply of identical doubles, then an integer — and
  * ties are total-ordered by doc_id.
  *
  * Scale: k5's sweep is a ≤9-row frame, the argmax a 1-row TakeOrdered;
  * the 1-row threshold frame broadcasts into the scored scan (the bounded
  * crossJoin pattern every quota query uses) and the selection is
  * TakeOrderedAndProject top-n — no global sort, no shuffle beyond k4's
  * own.
  */
object K7UncertaintySample extends GraftQuery {
  val name = "k7_uncertainty_sample"
  val describe = "active-learning labeling queue: top-n docs nearest k5's argmax-F1 operating threshold"

  private[queries] val n = 100

  /** The uncertainty key over (score, threshold) columns. */
  private def uncertCol(score: Column, thr: Column): Column =
    round(abs(score - thr) * lit(1e6)).cast("long")

  /** The selection over arbitrary (doc_id, score) × 1-row (thr) frames —
    * the seam UncertaintySampleSpec's synthetic boundary pin uses.
    */
  private[queries] def selectOn(scored: DataFrame, best: DataFrame, n: Int): DataFrame =
    scored.crossJoin(broadcast(best))
      .withColumn("uncert_e6", uncertCol(col("score"), col("thr")))
      .select(col("doc_id"), col("score"), col("thr"), col("uncert_e6"))
      .orderBy(col("uncert_e6").asc, col("doc_id").asc)
      .limit(n)

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = K4QualityClassifier.run(spark, sfDir)
      .select(col("doc_id"), col("score"))
    val best = K5ClassifierEval.run(spark, sfDir)
      .orderBy(col("f1").desc, col("threshold").asc)
      .limit(1)
      .select(col("threshold").as("thr"))
    selectOn(scored, best, n)
  }

  val oracle = Some(
    s"""WITH ${K4QualityClassifier.scoredCte("sc")},
       |${K5ClassifierEval.evalCtesSql},
       |best AS (SELECT threshold AS thr FROM ev ORDER BY f1 DESC, threshold ASC LIMIT 1)
       |SELECT sc.doc_id, sc.score, b.thr,
       |       CAST(round(abs(sc.score - b.thr) * 1e6) AS BIGINT) AS uncert_e6
       |FROM sc CROSS JOIN best b
       |ORDER BY uncert_e6 ASC, doc_id ASC
       |LIMIT $n""".stripMargin)
}

/** k8: DSIR importance weights — Data Selection via Importance Resampling
  * (Xie et al. 2023, arXiv:2302.03169): score every raw document by how
  * much more likely its hashed-n-gram bag is under the TARGET distribution
  * than under the raw one, the selection signal that picks "target-like"
  * pretraining data without training a classifier (the generative
  * counterpart to k4's discriminative filter; t19 is the LM third — the
  * three standard quality-selection families, now all present).
  *
  * Model (the paper's): unigrams + bigrams hashed into B buckets; both
  * distributions are add-1-smoothed bucket categoricals; a document's log
  * importance weight is the sum over its gram OCCURRENCES of the bucket's
  * log ratio
  *
  *   lr(b) = ln(ct(b)+1) − ln(Nt+B) − ln(cr(b)+1) + ln(Nr+B)
  *
  * with ct/cr the bucket's target/raw occurrence counts and Nt/Nr the
  * total masses. Target here: the `lang = 'en'` stratum (the paper's
  * target is "looks like Wikipedia/books"; the corpus' dominant stratum
  * plays that role so the weights have real spread).
  *
  * Engine-exactness: each of the four ln terms is snapped to the 1e-9 grid
  * as a LONG (t23's discipline — ln is the only non-exactly-rounded op in
  * the chain), so lr_e9 is an exact integer, the per-doc sum is an exact
  * integer sum of integers (order-free across partitions), and the gate
  * compares bit-identical LONGs. Counts and totals are exact by
  * construction.
  *
  * Scale: one gram-occurrence scan (IDs and 60-bit hashes only — the
  * payload never shuffles); the model is a B-row (256) frame built by ONE
  * map-side-combinable aggregate (bounded output regardless of corpus
  * size) and BROADCAST into the scoring scan; the per-doc sum is one
  * doc-keyed aggregate. Two shuffles total, both map-side combined; the
  * "training" cost of DSIR is two passes at 100 TB, which is exactly why
  * the paper's method is used at pretraining scale. The resample step is
  * [[S12PropensitySample]]'s A-ES machinery over these weights.
  */
object K8DsirWeights extends GraftQuery {
  val name = "k8_dsir_weights"
  val describe = "DSIR importance weights: hashed unigram+bigram bucket log-ratios (target = en stratum), exact-integer e9 grid"

  private[queries] val nBuckets = 256L
  private val targetLang = "en"

  /** ln(x)·1e9 snapped to a LONG — the single noise-bearing op, gridded. */
  private def lnE9(x: Column): Column = round(log(x) * 1e9).cast("long")

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TextOps
    val docToks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("toks"))
    // one row per gram OCCURRENCE (unigrams ++ bigrams), already hashed —
    // only (doc_id, lang, bucket) ever shuffles. PERSISTED: the model
    // aggregate and the scoring join both read it, and without the cache
    // the tokenize+hash pass runs once per consumer (the d4 `build` rule).
    val occ = graft.CacheScope.persisted(docToks
      .select(col("doc_id"), col("lang"),
        explode(concat(col("toks"), TextOps.shingles(col("toks"), 2))).as("g"))
      .select(col("doc_id"), col("lang"),
        (graft.functions.Portable.hash60(concat(lit("dsir:"), col("g"))) % lit(nBuckets)).as("b")))
    val bc = occ.groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("ct"))
    val tot = bc.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val lr = bc.crossJoin(broadcast(tot))
      .select(col("b"),
        (lnE9(col("ct") + 1.0) - lnE9(col("nt") + nBuckets.toDouble)
          - lnE9(col("cr") + 1.0) + lnE9(col("nr") + nBuckets.toDouble)).as("lr_e9"))
    occ.join(broadcast(lr), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("lr_e9")).as("logw_e9"))
  }

  val oracle = {
    import graft.operators.TextOps
    def lnE9(x: String) = s"CAST(round(ln($x) * 1e9) AS BIGINT)"
    Some(
      s"""WITH tk AS (
         |  SELECT doc_id, lang, ${TextOps.tokensSql("text")} AS toks FROM documents),
         |gr AS (
         |  SELECT doc_id, lang,
         |         unnest(toks || CASE WHEN len(toks) >= 2 THEN ${TextOps.shinglesSql("toks", 2)}
         |                             ELSE [] END) AS g
         |  FROM tk),
         |occ AS MATERIALIZED (
         |  SELECT doc_id, lang, ${graft.functions.Portable.hash60Sql("'dsir:' || g")} % $nBuckets AS b FROM gr),
         |bc AS (
         |  SELECT b, count(*) AS cr,
         |         sum(CASE WHEN lang = '$targetLang' THEN 1 ELSE 0 END) AS ct
         |  FROM occ GROUP BY b),
         |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM bc),
         |lr AS (
         |  SELECT b, ${lnE9("ct + 1.0")} - ${lnE9(s"nt + $nBuckets.0")}
         |            - ${lnE9("cr + 1.0")} + ${lnE9(s"nr + $nBuckets.0")} AS lr_e9
         |  FROM bc CROSS JOIN tot)
         |SELECT o.doc_id, count(*) AS n_grams, CAST(sum(l.lr_e9) AS BIGINT) AS logw_e9
         |FROM occ o JOIN lr l USING (b)
         |GROUP BY o.doc_id""".stripMargin)
  }
}

/** k9: classifier AUC — the threshold-free ranking quality of k4's scores,
  * computed EXACTLY as the tie-aware Mann–Whitney statistic: over all
  * (positive, negative) document pairs, the fraction where the positive
  * outscores the negative (ties count half). k5 evaluates one operating
  * point per row; k6 checks the score is a probability; k9 is the single
  * number that says whether the RANKING is any good at all — the first
  * metric a filter review reads, and the one that is invariant to every
  * monotone recalibration of the score.
  *
  * Exactness: the pair count never materializes — group by DISTINCT score
  * (a frame bounded by the 1e-6 score grid, ≤10⁶ rows at any corpus
  * size), cumulative negatives below each score by one ordered window
  * over that bounded frame, and
  *
  *   U2 = Σ_s  p_s · (2·neg_below(s) + n_s)
  *
  * an exact integer (= 2·U with ties counted half); AUC = U2 / (2·n_pos·
  * n_neg), one exactly-rounded IEEE division published on the 1e-9 grid.
  * Engine-identical by construction — both sides hold the same rounded-6
  * scores and the same integers.
  *
  * Scale: one ≤grid-bounded groupBy on the score, one window over the
  * GROUPED frame (score-distinct-bounded — the k5 "≤9-row sweep" argument
  * at the grid bound, not a corpus-sized window), one 1-row fold.
  */
object K9ClassifierAuc extends GraftQuery {
  val name = "k9_classifier_auc"
  val describe = "exact tie-aware Mann-Whitney AUC of k4's classifier scores (threshold-free ranking quality)"

  def run(spark: SparkSession, sfDir: String): DataFrame =
    aucOf(K4QualityClassifier.run(spark, sfDir).select(col("is_ref"), col("score")))

  /** The exact tie-aware Mann–Whitney fold over any (is_ref, score) frame.
    * A single-class frame (n_pos or n_neg = 0) has UNDEFINED AUC — there are
    * no (positive, negative) pairs to rank — and is reported as NULL, never
    * a NaN-cast artifact: Spark's NaN→long cast (0) and DuckDB's round(NaN)
    * path disagree, so the gate would flag exactly the corpus where the
    * metric should say "undefined" (ClassifierAucSpec pins both classes).
    */
  private[queries] def aucOf(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = scored.groupBy(col("score")).agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("p"),
      sum(when(col("is_ref"), 0L).otherwise(1L)).as("n"))
    // cumulative negatives STRICTLY below each score: window over the
    // score-distinct frame (bounded by the rounded-6 grid, never corpus-sized)
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byScore
      .withColumn("neg_below", sum(col("n")).over(w) - col("n"))
    cum.agg(
        sum(col("p")).as("n_pos"),
        sum(col("n")).as("n_neg"),
        sum(col("p") * (lit(2L) * col("neg_below") + col("n"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null).cast("long"))
          .otherwise(round(col("u2").cast("double")
            / (lit(2.0) * col("n_pos") * col("n_neg")) * 1e9).cast("long"))
          .as("auc_e9"))
  }

  val oracle = Some(
    s"""WITH ${K4QualityClassifier.scoredCte("sc")},
       |g AS (
       |  SELECT score,
       |         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS p,
       |         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n
       |  FROM sc GROUP BY score),
       |c AS (
       |  SELECT p, n,
       |         CAST(sum(n) OVER (ORDER BY score
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS neg_below
       |  FROM g)
       |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
       |       CAST(sum(n) AS BIGINT) AS n_neg,
       |       CAST(sum(p * (2 * neg_below + n)) AS BIGINT) AS u2,
       |       CASE WHEN sum(p) = 0 OR sum(n) = 0 THEN NULL
       |            ELSE CAST(round(CAST(sum(p * (2 * neg_below + n)) AS DOUBLE)
       |                       / (2.0 * sum(p) * sum(n)) * 1e9) AS BIGINT)
       |       END AS auc_e9
       |FROM c""".stripMargin)
}
