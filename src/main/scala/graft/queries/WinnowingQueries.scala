package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.operators.TextOps

/** Shared machinery for t29/d20 — WINNOWING document fingerprints
  * (Schleimer, Wilkerson, Aiken 2003, "Winnowing: Local Algorithms for
  * Document Fingerprinting" — the MOSS algorithm): slide a window of `w`
  * consecutive k-gram hashes over each document and select each window's
  * MINIMUM hash. The guarantee that makes this the standard sub-document
  * fingerprint: any shared substring of length ≥ w+k−1 tokens forces at
  * least one common selected fingerprint, while only ~2/(w+1) of all grams
  * are kept — a fixed-density sample with a detection guarantee, unlike
  * uniform sampling (no guarantee) or full gram sets (no compression).
  *
  * Set semantics: the fingerprint set is the DISTINCT window minima per
  * document. (Positional tie-breaking — the paper's "rightmost min" — only
  * affects which POSITION a repeated value is attributed to; with 62-bit
  * gram hashes equal values within a window are the same gram, so the
  * selected VALUE set is identical and set-level consumers like d20 see
  * exactly the paper's fingerprints.)
  *
  * Scale shape: the ENTIRE minima computation is executor-local array work
  * (TextOps gram hashing + per-row slice/array_min window minima) — ZERO
  * shuffles; partitioning follows the documents scan. The pos-level frame
  * is a Materialize stage (two consumers: t29's per-doc profile and d20's
  * pair join), so the first shuffle anywhere in the winnowing family is
  * t29's own groupBy / d20's fingerprint join.
  */
private[graft] object Winnowing {
  /** Gram size in word tokens (k) and window width in grams (w): a match
    * of ≥ w+k−1 = 8 consecutive tokens is guaranteed to share a
    * fingerprint; expected density 2/(w+1) = 1/3 of grams.
    */
  val k = 4
  val w = 5

  /** Pos-level selected minima: (doc_id, pos, wm) for every FULL window
    * (1-based gram position `pos` ≥ w, `wm` = min gram hash of the window
    * ending at pos). Documents with fewer than w grams (< w+k−1 tokens)
    * have no full window and are absent — too short to fingerprint.
    * All-long, parquet-exact.
    */
  def minima(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.table(spark, "t29_winnow", sfDir)(
      minimaOn(Tables.documents(spark, sfDir)))

  def minimaOn(docs: DataFrame): DataFrame = {
    // SHUFFLE-FREE (round 14): winnowing is a per-document computation, so
    // the window minima are computed INSIDE the row with array combinators
    // (slice + array_min per window position) instead of a doc_id-
    // partitioned SQL window — the round-13 form shuffled the entire
    // pos-exploded gram frame (2.25M rows at the sf1 probe) just to sort
    // each doc's own grams back together. Executor-local projection; the
    // gram array binds ONCE through a single-element array (the TextOps
    // CollapseProject discipline — size() and the transform both read the
    // bound variable, so the md5 token-hash chain runs once per doc).
    // The DuckDB oracle keeps the window formulation, so the hash gate
    // pins the equivalence of the two formulations every round. Measured at the sf1
    // probe: stage build 16.8 s (window form, SCALE_SLOPE_r14) → 14.8 s —
    // the md5 gram-hash chain and the stage write dominate the build, so
    // removing the shuffle trims ~12% of wall; the structural win is the
    // plan (zero exchanges before the stage — Round13PlanSpec pins NO
    // window operator — and at cluster scale the avoided 2.25M-row/probe
    // corpus shuffle is network, not local disk).
    val gh = TextOps.gramHashes(TextOps.tokenHashes(TextOps.tokens(col("text"))), k)
    // Round 16: the per-window `array_min(slice(...))` combinator chain —
    // O(grams·w) interpreted-HOF work plus one slice allocation per window
    // — is the native monotonic-deque WindowMin expression, O(grams) total
    // and inside whole-stage codegen. Bit-identical minima and the same
    // empty-for-short contract (WindowMinSpec pins both); the single-
    // element-array binding trick is obsolete here because the expression
    // references its child exactly once.
    val minsArr = org.apache.spark.sql.graft.WindowMin.windowMinCol(gh, w)
    docs
      .select(col("doc_id"), posexplode(minsArr).as(Seq("i", "wm")))
      .select(col("doc_id"), (col("i") + w).cast("long").as("pos"), col("wm"))
  }

  /** CTE chain ending in `${p}wmn(doc_id, pos, wm)` — the DuckDB mirror of
    * [[minimaOn]] over relation `src` (prefix-parameterized like
    * [[ExactSubstr.hitsSqlCtes]]).
    */
  def minimaSqlCtes(src: String, p: String): String =
    s"""${p}tk AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks FROM $src),
       |${p}th AS (SELECT doc_id, ${TextOps.tokenHashesSql("toks")} AS ht FROM ${p}tk),
       |${p}g AS (SELECT doc_id, ${TextOps.gramHashesSql("ht", k)} AS gh FROM ${p}th),
       |${p}occ AS (
       |  SELECT doc_id, unnest(gh) AS h, unnest(range(1, len(gh) + 1)) AS pos FROM ${p}g),
       |${p}wmn AS MATERIALIZED (
       |  SELECT doc_id, pos, wm FROM (
       |    SELECT doc_id, pos,
       |           min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                        ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS wm
       |    FROM ${p}occ)
       |  WHERE pos >= $w)""".stripMargin

  def minimaSqlCtes: String = minimaSqlCtes("documents", "")
}

/** t29: per-document winnowing fingerprint profile — how many grams and
  * full windows the document has, how many distinct fingerprints winnowing
  * selected, the selection density (the paper's ~2/(w+1) expectation; as a
  * fraction of DISTINCT values it runs lower on repetitive docs — boiler
  * text re-selects the same minima, so LOW density is itself a repetition
  * signal, cross-checking t8), and an order-independent bit_xor digest of
  * the fingerprint set (the t24/p17 membership-digest discipline: two docs
  * with equal (n_fp, fp_digest) almost surely carry identical sets).
  */
object T29Winnowing extends GraftQuery {
  val name = "t29_winnowing"
  val describe = "winnowing (MOSS) fingerprints per doc: distinct window-min k-gram hashes, density + digest"

  def run(spark: SparkSession, sfDir: String): DataFrame =
    Winnowing.minima(spark, sfDir)
      .groupBy(col("doc_id"))
      .agg(
        (max(col("pos"))).as("n_grams"),
        count(lit(1)).as("n_windows"),
        countDistinct(col("wm")).as("n_fp"),
        expr("bit_xor(DISTINCT wm)").as("fp_digest"))
      .withColumn("density",
        round(col("n_fp").cast("double") / col("n_windows"), 6))

  val oracle = Some(
    s"""WITH ${Winnowing.minimaSqlCtes}
       |SELECT doc_id, max(pos) AS n_grams, count(*) AS n_windows,
       |       CAST(count(DISTINCT wm) AS BIGINT) AS n_fp,
       |       bit_xor(DISTINCT wm) AS fp_digest,
       |       round(CAST(count(DISTINCT wm) AS DOUBLE) / count(*), 6) AS density
       |FROM wmn
       |GROUP BY doc_id""".stripMargin)
}

/** d20: winnowing-fingerprint near-dup pairs — Jaccard over the SELECTED
  * fingerprint sets instead of full shingle sets. This is how MOSS (and
  * source-release dedup generally) compares documents at scale: the
  * fingerprint set is ~1/3 the size of the gram set with the w+k−1 match
  * guarantee intact, so the pair join moves a third of d4/d17's rows for
  * the same boilerplate-sharing verdict. Candidates are fingerprint-keyed
  * equi-join rows under the d17 stop-fingerprint df cap (fan-out per key
  * bounded at maxDf² at any corpus size); no all-pairs, no LSH needed —
  * winnowing IS the candidate sampler.
  */
object D20WinnowDup extends GraftQuery {
  val name = "d20_winnow_dup"
  val describe = "near-dup pairs by Jaccard over winnowing fingerprint sets (df-capped fingerprint join)"

  /** Stop-fingerprint cap (the d17 lever): fingerprints selected by more
    * than this many documents leave the universe before pairing.
    */
  private[queries] val maxDf = 50
  /** Report pairs at or above this winnowed-set Jaccard. */
  private[queries] val threshold = 0.35

  /** The verified pair list as a SHARED STAGE (`d20_pairs`): d20 itself and
    * d21's component propagation both consume it, so an enabled run builds
    * the fingerprint self-join once — the d4_pairs/d7 precedent.
    */
  def run(spark: SparkSession, sfDir: String): DataFrame =
    graft.Materialize.table(spark, "d20_pairs", sfDir)(build(spark, sfDir))

  private def build(spark: SparkSession, sfDir: String): DataFrame = {
    // Round 16 (guide §2.4 + §4.1, the d17 rewrite): ONE grouped pass —
    // collect_set(doc_id) per fingerprint — subsumes the old `.distinct()`
    // (set semantics), the df count+join (the size() filter), and BOTH
    // self-join sides; pairs explode from the codegen'd OrderedPairs ×
    // inline generators. Identical pair multiset (each (doc, fp) pair
    // contributes once to its fingerprint's set — the join's distinct-
    // input precondition; OrderedPairsSpec pins the equality) and the
    // same per-doc denominators.
    val lists = graft.CacheScope.persisted(
      Winnowing.minima(spark, sfDir)
        .select(col("doc_id"), col("wm").as("fp"))
        .groupBy(col("fp")).agg(collect_set(col("doc_id")).as("ids"))
        .filter(size(col("ids")) <= maxDf)
        .select(col("ids")))
    val sizes = lists.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val sim = round(col("n_shared").cast("double") /
      (col("n_a") + col("n_b") - col("n_shared")), 6)
    lists
      .select(inline(org.apache.spark.sql.graft.OrderedPairs.orderedPairsCol(col("ids"))))
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"),
        sim.as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** CTE chain ending in `wp(doc_a, doc_b, n_shared, n_a, n_b, sim)` — the
    * DuckDB mirror of [[run]]'s pair stage, factored so d21's component
    * oracle composes over the identical pair SQL (the
    * `D16SemanticLshClusters.pairsCtesSql` precedent).
    */
  private[queries] val pairsCtesSql: String =
    s"""${Winnowing.minimaSqlCtes},
       |fp AS MATERIALIZED (SELECT DISTINCT doc_id, wm AS fp FROM wmn),
       |df AS (SELECT fp, count(*) AS df FROM fp GROUP BY fp),
       |inf AS MATERIALIZED (
       |  SELECT f.doc_id, f.fp FROM fp f JOIN df ON f.fp = df.fp WHERE df.df <= $maxDf),
       |sizes AS (SELECT doc_id, count(*) AS n FROM inf GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |  FROM inf a JOIN inf b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |wp AS MATERIALIZED (
       |  SELECT s.doc_a, s.doc_b, s.n_shared, sa.n AS n_a, sb.n AS n_b,
       |         round(CAST(s.n_shared AS DOUBLE) / (sa.n + sb.n - s.n_shared), 6) AS sim
       |  FROM shared s
       |  JOIN sizes sa ON s.doc_a = sa.doc_id
       |  JOIN sizes sb ON s.doc_b = sb.doc_id
       |  WHERE round(CAST(s.n_shared AS DOUBLE) / (sa.n + sb.n - s.n_shared), 6) >= $threshold)""".stripMargin

  val oracle = Some(
    s"""WITH $pairsCtesSql
       |SELECT doc_a, doc_b, n_shared, n_a, n_b, sim FROM wp""".stripMargin)
}

/** d21: winnow duplicate CLUSTERS — connected components over d20's
  * verified fingerprint-Jaccard pairs, labeling every involved document
  * with its component's minimum doc_id (= the canonical survivor). The d7
  * step applied to the winnowing family: pairwise output becomes the
  * actionable "delete all but the survivor" table, and chains of
  * boilerplate sharing (A~B, B~C but A≁C below threshold) collapse into
  * one cluster the pair list alone can't see.
  *
  * Runs the shared propagation engine ([[graft.operators.ConnectedComponents]])
  * over the shared `d20_pairs` stage — an enabled run builds the
  * fingerprint self-join once for d20+d21. Oracle: DuckDB's recursive-CTE
  * closure over the identical pair SQL (breadth-first closure vs
  * synchronous min-label propagation — the d7 two-algorithms argument).
  */
object D21WinnowClusters extends GraftQuery {
  val name = "d21_winnow_clusters"
  val describe = "connected components over d20's winnow-fingerprint pairs (min-label = survivor)"

  def run(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.ConnectedComponents.minLabel(
      spark,
      D20WinnowDup.run(spark, sfDir).select(col("doc_a"), col("doc_b")),
      D7DupClusters.defaultEdgePartitions, name = name)
      .select(col("node").as("doc_id"), col("label").as("component"))

  val oracle = Some(
    s"""WITH RECURSIVE ${D20WinnowDup.pairsCtesSql},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM wp
       |  UNION ALL SELECT doc_b, doc_a FROM wp),
       |lab AS (
       |  SELECT DISTINCT src AS node, src AS label FROM edges
       |  UNION
       |  SELECT e.dst, l.label FROM lab l JOIN edges e ON l.node = e.src)
       |SELECT node AS doc_id, min(label) AS component
       |FROM lab GROUP BY node""".stripMargin)
}
