package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Portable, Rounding}
import graft.operators.TextOps

/** t6: vocabulary building — global token frequencies, top 50 by (count
  * desc, token asc). The vocab step of any tokenizer-training pipeline:
  * explode + count (map-side partial per token) + TakeOrderedAndProject.
  * The full-vocabulary variant is the same plan minus the limit.
  */
object T6Vocab extends GraftQuery {
  val name = "t6_vocab"
  val describe = "token vocabulary: global frequencies, deterministic top-50"

  private val k = 50

  def run(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)

  val oracle = Some(
    s"""SELECT token, count(*) AS freq
       |FROM (SELECT unnest(${TextOps.tokensSql("text")}) AS token FROM documents)
       |GROUP BY token
       |ORDER BY freq DESC, token ASC
       |LIMIT $k""".stripMargin)
}

/** p13: train/val/test SPLIT manifest — the last assignment every training
  * pipeline makes, built on the property that actually matters for it:
  * GROWTH STABILITY. The split is a pure hash-threshold function of the
  * doc_id (bucket = h % 100 → 98/1/1), so a document's split can NEVER
  * change when the corpus grows — the opposite contract from s3's
  * rank-based sampling, where adding one document can push another out of
  * the top-k (val-set membership drifting across releases is exactly how
  * eval contamination sneaks into a later training set; SplitManifestSpec
  * makes the contrast executable by showing s3's mechanism unstable and
  * this one stable on a half corpus).
  *
  * Output: one row per (split, source) — docs, token mass, and
  * `member_xor`, an ORDER-INDEPENDENT membership digest (bit_xor of a
  * per-doc salted hash). The xor digest is the distributed-safe
  * fingerprint: commutative and associative, so it merges map-side across
  * any partitioning with no sort and no list materialization — the
  * md5-of-sorted-ids alternative needs a per-split global sort and an
  * O(split-size) buffer in one task, which is exactly what dies at 100 TB.
  * Any single reassigned/lost/duplicated doc flips the digest.
  *
  * Plan: one scan, per-row projection (hash, bucket, CASE), one
  * source×split-keyed aggregate with map-side partial count/sum/xor —
  * bounded output, one shuffle, nothing else.
  */
object P13SplitManifest extends GraftQuery {
  val name = "p13_split_manifest"
  val describe = "growth-stable train/val/test split (hash-threshold 98/1/1) + xor membership digest per (split, source)"

  private[queries] val trainCut = 98L
  private[queries] val valCut = 99L

  /** The split verdict for a doc_id column — pure hash threshold, so a
    * doc's split depends on its id alone.
    */
  private def splitCol(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bucket = Portable.hash60(concat(lit("split:"), docId.cast("string"))) % lit(100L)
    when(bucket < trainCut, "train")
      .when(bucket < valCut, "val")
      .otherwise("test")
  }

  /** Per-doc assignment — the seam SplitManifestSpec uses for the
    * stability and sensitivity pins. Pure function of doc_id.
    */
  private[queries] def assignments(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      splitCol(col("doc_id")).as("split"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
      Portable.hash60(concat(lit("m:"), col("doc_id").cast("string"))).as("mh"))

  def run(spark: SparkSession, sfDir: String): DataFrame =
    assignments(Tables.documents(spark, sfDir))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        expr("bit_xor(mh)").as("member_xor"))

  val oracle = Some(
    s"""WITH a AS (
       |  SELECT source,
       |         CASE WHEN ${Portable.hash60Sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < $trainCut THEN 'train'
       |              WHEN ${Portable.hash60Sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < $valCut THEN 'val'
       |              ELSE 'test' END AS split,
       |         CAST(len(${TextOps.tokensSql("text")}) AS BIGINT) AS n_tok,
       |         ${Portable.hash60Sql("'m:' || CAST(doc_id AS VARCHAR)")} AS mh
       |  FROM documents)
       |SELECT split, source, count(*) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       bit_xor(mh) AS member_xor
       |FROM a GROUP BY split, source""".stripMargin)
}

/** s3: deterministic stratified sampling — k documents per language, chosen
  * by hash rank (every executor can recompute membership from the row
  * alone; no global state, no RNG). The standard down-sampling step for
  * balancing a training corpus across strata.
  */
object S3StratifiedSample extends GraftQuery {
  val name = "s3_stratified_sample"
  val describe = "deterministic k-per-language sample via portable hash ranking"

  private val perStratum = 20

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(Portable.hash60(concat(lit("samp:"), col("doc_id").cast("string"))).asc,
        col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perStratum)
      .select(col("lang"), col("rk"), col("doc_id"))
  }

  val oracle = Some(
    s"""SELECT lang, rk, doc_id FROM (
       |  SELECT lang, doc_id,
       |         row_number() OVER (
       |           PARTITION BY lang
       |           ORDER BY ${Portable.hash60Sql("'samp:' || CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rk
       |  FROM documents)
       |WHERE rk <= $perStratum""".stripMargin)
}

/** v1: per-label embedding centroids — the vector aggregation shape shared
  * by k-means accumulation and class-prototype computation, fully
  * declarative: 64 per-dimension averages in one partial+final aggregate
  * (the shuffle carries labels × 64 doubles, constant in data size).
  *
  * Each mean uses `Rounding.exactAvg(_, 12, 6)` — the quantized-mean form
  * for arbitrary doubles — so the centroid cells are order-independent and
  * engine-identical even when a label's mean lands within summation noise of
  * a 5e-7 boundary (the t17 failure mode; a plain `round(avg, 6)` double sum
  * runs in partition order here and sequential order in the oracle). v3/v4
  * reuse the same centroid expression, so every downstream cosine compares
  * against bit-identical centroids.
  */
object V1LabelCentroids extends GraftQuery {
  val name = "v1_label_centroids"
  val describe = "per-label mean embedding (64 per-dim averages, one aggregate pass)"

  private val d = Embeddings.dims

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val avgs = (0 until d).map(i =>
      Rounding.exactAvg(element_at(col("embedding"), i + 1).cast("double"), 12, 6).as(s"c$i"))
    Tables.embeddings(spark, sfDir)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), avgs: _*)
  }

  val oracle = {
    val avgs = (0 until d)
      .map(i => s"${Rounding.exactAvgSql(s"CAST(embedding[${i + 1}] AS DOUBLE)", 12, 6)} AS c$i")
      .mkString(",\n       ")
    Some(
      s"""SELECT label, count(*) AS n,
         |       $avgs
         |FROM embeddings
         |GROUP BY label""".stripMargin)
  }
}

/** v3: centroid-distance outliers — the anomaly-detection tail of the label
  * ops: each vector's cosine to ITS OWN label centroid (v1's per-label
  * means), bottom-20 reported (the mislabel/novelty audit a label-transfer
  * pipeline runs after v2). The centroid values are v1's ROUNDED (6-decimal)
  * means, so the comparison grid is engine-exact: a raw-mean centroid would
  * put the cosine one summation-order ulp apart between engines.
  *
  * Scale shape: centroids are a |labels|-row broadcast; the scoring pass is
  * scan-bound per-row arithmetic; the report is a TakeOrdered, never a
  * global sort.
  */
object V3CentroidOutliers extends GraftQuery {
  val name = "v3_centroid_outliers"
  val describe = "bottom-20 vectors by cosine to their own label centroid (mislabel audit)"

  private val d = Embeddings.dims
  private val k = 20

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    // Round 16 (guide §4.1, the DotProduct scaladoc's wide-tree argument):
    // the unrolled 128-term dot/norm chains (~1 000 Catalyst nodes in one
    // projection: 128 element_at bounds checks per sum) become three native
    // dot_product loops. IEEE-identical by the expression's contract — it
    // accumulates left-to-right from 0.0 (0 + x = x exactly), the same
    // association as the reduce(_ + _) chains and the oracle's unrolled
    // SQL — so the rounded cosines are bit-identical. The centroid norm is
    // hoisted to the |labels|-row centroid frame (once per label, not once
    // per row — the v4 r15 hoist applied on this side).
    val e = Tables.embeddings(spark, sfDir)
    val dp = org.apache.spark.sql.graft.DotProduct.dotProductCol _
    val avgs = (0 until d).map(i =>
      Rounding.exactAvg(element_at(col("embedding"), i + 1).cast("double"), 12, 6).as(s"c$i"))
    val nc = sqrt((0 until d).map(i => col(s"c$i") * col(s"c$i")).reduce(_ + _))
    val cents = e.groupBy(col("label")).agg(avgs.head, avgs.tail: _*)
      .select(col("label"),
        array((0 until d).map(i => col(s"c$i")): _*).as("__carr"), nc.as("__nc"))
    val ed = col("embedding").cast("array<double>")
    e.select(col("vec_id"), col("label"), ed.as("__ed"))
      .join(broadcast(cents), "label")
      .select(col("vec_id"), col("label"),
        (dp(col("__ed"), col("__carr")) /
          (sqrt(dp(col("__ed"), col("__ed"))) * col("__nc"))).as("cos"))
      .orderBy(col("cos").asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("cos"), 6).as("cosine"))
  }

  val oracle = {
    val avgs = (0 until d)
      .map(i => s"${Rounding.exactAvgSql(s"CAST(embedding[${i + 1}] AS DOUBLE)", 12, 6)} AS c$i").mkString(", ")
    val dot = (0 until d).map(i => s"CAST(e.embedding[${i + 1}] AS DOUBLE) * c.c$i").mkString(" + ")
    val nv = "sqrt(" + (0 until d).map(i =>
      s"CAST(e.embedding[${i + 1}] AS DOUBLE) * CAST(e.embedding[${i + 1}] AS DOUBLE)").mkString(" + ") + ")"
    val nc = "sqrt(" + (0 until d).map(i => s"c.c$i * c.c$i").mkString(" + ") + ")"
    Some(
      s"""WITH cents AS (SELECT label, $avgs FROM embeddings GROUP BY label),
         |scored AS (
         |  SELECT e.vec_id, e.label, ($dot) / (($nv) * ($nc)) AS cos
         |  FROM embeddings e JOIN cents c ON e.label = c.label)
         |SELECT vec_id, label, round(cos, 6) AS cosine
         |FROM scored ORDER BY cos ASC, vec_id ASC LIMIT $k""".stripMargin)
  }
}

/** v4: label-space SILHOUETTE audit — for every label, cohesion (mean cosine
  * of its members to its own centroid) vs the strongest confusion (max over
  * OTHER labels of the members' mean cosine to that label's centroid) and
  * the margin between them. The per-label summary of v3's per-vector audit:
  * a label whose margin approaches zero is bleeding into a neighbour —
  * the signal that decides relabeling or class-merge before v2-style label
  * transfer is trusted. (Silhouette in the centroid form — medoid-free, so
  * it stays two aggregate passes at any scale.)
  *
  * Shape: centroids are v1's ROUNDED per-label means (the v3 determinism
  * discipline — a raw-mean centroid would sit one summation-order ulp apart
  * between engines); every vector scores against all |labels| centroids via
  * a broadcast cross join (|labels|× row fan-out, scan-bound); one grouped
  * aggregate produces the |labels|² confusion-mean matrix; the per-label
  * fold over that tiny matrix is a second aggregate with the struct-max
  * argmax (s4's pattern). Nothing after the first aggregate exceeds
  * |labels|² rows.
  */
object V4LabelSilhouette extends GraftQuery {
  val name = "v4_label_silhouette"
  val describe = "per-label cohesion vs strongest-confusion margin over rounded centroids"

  private val d = Embeddings.dims

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val dp = org.apache.spark.sql.graft.DotProduct.dotProductCol _
    val avgs = (0 until d).map(i =>
      Rounding.exactAvg(element_at(col("embedding"), i + 1).cast("double"), 12, 6).as(s"c$i"))
    val nc = sqrt((0 until d).map(i => col(s"c$i") * col(s"c$i")).reduce(_ + _))
    // Round 16 (guide §4.1, the v3 move): the unrolled 128-term dot chain —
    // ~250 Catalyst nodes evaluated once per (row, label) PAIR under the
    // |labels|-way fan-out — becomes one native dot_product loop, and the
    // centroid norm moves above the broadcast (once per label, completing
    // the r15 row-norm hoist symmetrically). IEEE-identical: dot_product
    // accumulates left-to-right from 0.0 (0 + x = x exactly), the same
    // association as reduce(_ + _) and the oracle's unrolled SQL, so every
    // rounded cosine is bit-identical.
    val cents = e.groupBy(col("label").as("clabel")).agg(avgs.head, avgs.tail: _*)
      .select(col("clabel"),
        array((0 until d).map(i => col(s"c$i")): _*).as("__carr"), nc.as("__nc"))
    val nv = sqrt(dp(col("__ed"), col("__ed")))
    // |labels|² confusion means. The per-row cosine is rounded to the 1e-6
    // grid FIRST (bit-identical across engines — v3's argument), then
    // averaged with the order-independent scaled-long sum: mcos feeds
    // comparisons and an argmax, so a summation-order ulp flipping round-6
    // at a grid midpoint would silently change nearest_other (the t17
    // failure mode; Rounding.exactAvg scaladoc).
    // Round 15: the vector's own norm is label-independent, so it is
    // computed ONCE per embedding row before the |labels|-way fan-out
    // instead of once per (row, label) pair.
    val conf = e.select(col("label"), col("embedding").cast("array<double>").as("__ed"))
      .withColumn("__nv", nv).crossJoin(broadcast(cents))
      .select(col("label"), col("clabel"),
        round(dp(col("__ed"), col("__carr")) / (col("__nv") * col("__nc")), 6).as("cos"))
      .groupBy(col("label"), col("clabel"))
      .agg(graft.functions.Rounding.exactAvg(col("cos"), 6).as("mcos"))
    val own = conf.filter(col("label") === col("clabel"))
      .select(col("label"), col("mcos").as("cohesion"))
    val other = conf.filter(col("label") =!= col("clabel"))
      .groupBy(col("label"))
      .agg(max(struct(col("mcos"), (-col("clabel")).as("nid"))).as("b"))
      .select(col("label"), col("b.mcos").as("confusion"),
        (-col("b.nid")).cast("int").as("nearest_other"))
    own.join(other, Seq("label"))
      .select(col("label"), col("cohesion"), col("confusion"),
        col("nearest_other"),
        round(col("cohesion") - col("confusion"), 6).as("margin"))
  }

  val oracle = {
    val avgs = (0 until d)
      .map(i => s"${Rounding.exactAvgSql(s"CAST(embedding[${i + 1}] AS DOUBLE)", 12, 6)} AS c$i").mkString(", ")
    val dot = (0 until d).map(i => s"CAST(e.embedding[${i + 1}] AS DOUBLE) * c.c$i").mkString(" + ")
    val nv = "sqrt(" + (0 until d).map(i =>
      s"CAST(e.embedding[${i + 1}] AS DOUBLE) * CAST(e.embedding[${i + 1}] AS DOUBLE)").mkString(" + ") + ")"
    val nc = "sqrt(" + (0 until d).map(i => s"c.c$i * c.c$i").mkString(" + ") + ")"
    Some(
      s"""WITH cents AS (SELECT label AS clabel, $avgs FROM embeddings GROUP BY label),
         |conf AS (
         |  SELECT e.label, c.clabel,
         |         ${graft.functions.Rounding.exactAvgSql(s"round(($dot) / (($nv) * ($nc)), 6)", 6)} AS mcos
         |  FROM embeddings e CROSS JOIN cents c
         |  GROUP BY e.label, c.clabel),
         |own AS (SELECT label, mcos AS cohesion FROM conf WHERE label = clabel),
         |oth AS (
         |  SELECT label, mcos AS confusion, clabel AS nearest_other,
         |         row_number() OVER (PARTITION BY label
         |                            ORDER BY mcos DESC, clabel ASC) AS rk
         |  FROM conf WHERE label <> clabel)
         |SELECT o.label, o.cohesion, t.confusion,
         |       CAST(t.nearest_other AS INT) AS nearest_other,
         |       round(o.cohesion - t.confusion, 6) AS margin
         |FROM own o JOIN oth t ON o.label = t.label AND t.rk = 1""".stripMargin)
  }
}

/** s12: quality-propensity sampling — weighted sampling WITHOUT replacement
  * with k4's classifier score as the weight, the CCNet-style step between a
  * hard quality gate (k5's threshold) and uniform sampling (s3): every
  * document can be kept, but better-scored documents are proportionally
  * likelier to be, so the sample tilts toward quality without the cliff a
  * threshold cuts. Mechanism is Efraimidis–Spirakis A-ES: each doc gets
  * key u^(1/w) for a uniform u, and the global top-n by key IS a weighted
  * sample without replacement — rank by -ln(u)/w ascending, which is the
  * same order in exact arithmetic.
  *
  * Engine-exactness: u is a rational from the portable hash
  * ((h mod 2^20)+1)/2^20 — identical integers on both engines; the ONE
  * libm call (ln) is snapped to the 1e6 grid as a LONG before the division
  * by the weight (the t23/t24 ln discipline, a decade coarser because a
  * sampling key needs no nanoscale resolution — the coarser grid makes a
  * cross-engine last-ulp flip astronomically unlikely instead of merely
  * rare); the division's inputs are then identical (LONG, 6-decimal
  * score), so its correctly-rounded result is identical. Scores of 0.0
  * clamp to 1e-6 so zero-weight docs rank last instead of dividing by
  * zero. Ties (coarse grid) are totally ordered by doc_id.
  *
  * Scale: reads k4's scored frame (the shared stage under an enabled
  * [[graft.Materialize]] run), one projection, TakeOrderedAndProject
  * top-n — no global sort, no extra shuffle beyond k4's own.
  */
object S12PropensitySample extends GraftQuery {
  val name = "s12_propensity_sample"
  val describe = "quality-propensity sample: Efraimidis-Spirakis weighted top-n on k4's classifier scores"

  private val n = 200
  private val uGrid = 1048576L // 2^20: u = ((h mod uGrid)+1)/uGrid in (0, 1]

  /** The exact-rational −ln(u)·1e6 term per doc: u is the 2^-20 hash
    * rational, the single ln snapped to the 1e6 grid BEFORE the weight
    * division so the A-ES key is engine-identical.
    */
  private def negLnUE6(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hmod = Portable.hash60(concat(lit("es:"), docId.cast("string"))) % lit(uGrid)
    round(-log((hmod + 1).cast("double") / lit(uGrid.toDouble)) * 1e6).cast("long")
  }

  /** The A-ES selection key: snapped −ln(u) over the clamped weight. */
  private def keyE6(negLnU: org.apache.spark.sql.Column,
      score: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(negLnU.cast("double") / greatest(score, lit(1e-6))).cast("long")

  /** The A-ES selection over an arbitrary (doc_id, score) frame — the seam
    * PropensitySampleSpec's synthetic-tilt pin uses (the driver corpus'
    * scores span only 0.281–0.304, far too flat to exhibit the bias the
    * operator exists for).
    */
  private[queries] def sampleOn(scored: DataFrame, n: Int): DataFrame =
    scored
      .withColumn("neg_ln_u_e6", negLnUE6(col("doc_id")))
      .withColumn("key_e6", keyE6(col("neg_ln_u_e6"), col("score")))
      .select(col("doc_id"), col("score"), col("key_e6"))
      .orderBy(col("key_e6").asc, col("doc_id").asc)
      .limit(n)

  def run(spark: SparkSession, sfDir: String): DataFrame =
    sampleOn(
      K4QualityClassifier.run(spark, sfDir).select(col("doc_id"), col("score")), n)

  val oracle = Some(
    s"""WITH ${K4QualityClassifier.scoredCte("sc")},
       |es AS (
       |  SELECT doc_id, score,
       |         CAST(round(-ln((${Portable.hash60Sql("'es:' || CAST(doc_id AS VARCHAR)")} % $uGrid + 1) / ${uGrid.toDouble}) * 1e6) AS BIGINT) AS neg_ln_u_e6
       |  FROM sc)
       |SELECT doc_id, score,
       |       CAST(round(CAST(neg_ln_u_e6 AS DOUBLE) / greatest(score, 1e-6)) AS BIGINT) AS key_e6
       |FROM es
       |ORDER BY key_e6 ASC, doc_id ASC
       |LIMIT $n""".stripMargin)
}
