package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable
import graft.operators.TextOps

/** p2: sequence packing — the concatenate-and-chunk step that turns a
  * cleaned corpus into fixed-length training sequences: documents are laid
  * out in a deterministic shuffled order (hash of doc_id — the training-
  * order randomization pass folded into the same scan), their token streams
  * concatenated, and the stream cut every `seqLen` tokens. Each document
  * reports the chunk span it lands in and its offset inside its first
  * chunk, which is exactly what a packed-dataset writer needs to emit
  * boundary metadata (and what an attention-mask builder consumes).
  *
  * Scale shape: the global running token count is a distributed prefix sum,
  * NOT a single-partition window — range-partition on the shuffle key,
  * cumulative-sum WITHIN each partition (a keyed window; every partition
  * sorts only its own slice), and exact cross-partition offsets folded on
  * the driver from the O(P) per-partition token totals (metadata, not
  * data — the q6 ranking pattern). Partition count is an argument with the
  * default tied to the session's parallelism, so the scale-up is a knob,
  * not an edit.
  *
  * Determinism: token counts and cumulative sums are exact integers; the
  * order key is the portable md5-backed hash, so chunk ids hash-match the
  * oracle bit-for-bit. Empty-token documents are dropped on both sides
  * (they occupy zero tokens of the stream, and giving them a chunk id
  * would be arbitrary).
  */
object P2SequencePack extends GraftQuery {
  val name = "p2_sequence_pack"
  val describe = "sequence packing: deterministic shuffle, global token prefix-sum, seqLen-chunk spans"

  /** Tokens per packed training sequence. */
  val seqLen = 512

  private val orderHash = Portable.hash60(concat(lit("pack:"), col("doc_id").cast("string")))
  private[queries] def orderHashSql = Portable.hash60Sql("'pack:' || CAST(doc_id AS VARCHAR)")

  def run(spark: SparkSession, sfDir: String): DataFrame =
    run(spark, sfDir, spark.sparkContext.defaultParallelism)

  def run(spark: SparkSession, sfDir: String, partitions: Int): DataFrame =
    pack(spark,
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
      partitions)

  /** Library form: pack any (doc_id, n_tokens) frame — e.g. a cleaned
    * survivor set — into seqLen-token chunks.
    */
  def pack(spark: SparkSession, docTokens: DataFrame, partitions: Int): DataFrame = {
    require(partitions >= 1, s"partitions must be >= 1, got $partitions")
    val toks = docTokens
      .select(col("doc_id"), col("n_tokens"), orderHash.as("h"))
      .filter(col("n_tokens") > 0)
    // Distributed prefix sum over the (h, doc_id) total order: within-range
    // cumsum + driver-folded range offsets (exact whatever boundaries the
    // range sampler picks, because the key is a total order).
    // Persisted because two jobs read it (the O(P) totals, then the ranked
    // output); unpersisted by the caller's sweep (runManaged/Bench/Verify).
    // Round-15 note: persisting `toks` before the range exchange (the
    // Rank.globalRowNumber fix) was MEASURED A/B here and reverted — pack
    // inputs are stage reads or narrow projections, so the extra cache
    // materialization pass cost more than the sampler's re-execution saves
    // (p9/p10 consumers +0.5-0.9 s at sf0.1).
    val ranged = graft.CacheScope.persisted(
      toks.repartitionByRange(partitions, col("h").asc, col("doc_id").asc)
        .withColumn("pid", spark_partition_id()))
    val totals = ranged.groupBy(col("pid")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, t)) => (pid, acc + t) }
    // O(P) offsets travel as a broadcast-joined frame, not a folded
    // when(pid===…) chain — the Rank.globalRowNumber fix applied to the
    // prefix sum: the chain is an O(P)-deep expression tree that trips
    // codegen's 64KB method limit at the thousands of range partitions a
    // 100-TB packing run needs.
    val offDf = spark.createDataFrame(
      totals.map(_._1).zip(offsets.map(_._2)).toSeq).toDF("pid", "__off")
    val inPart = Window.partitionBy(col("pid")).orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .join(broadcast(offDf), Seq("pid"))
      .withColumn("cum_end", col("__off") + sum(col("n_tokens")).over(inPart))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(cum_end - n_tokens) div $seqLen").as("start_chunk"),
        expr(s"(cum_end - 1) div $seqLen").as("end_chunk"),
        expr(s"(cum_end - n_tokens) % $seqLen").as("start_offset"))
  }

  val oracle = Some(
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         CAST(len(${TextOps.tokensSql("text")}) AS BIGINT) AS n_tokens,
       |         $orderHashSql AS h
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(sum(n_tokens) OVER (
       |           ORDER BY h ASC, doc_id ASC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
       |  FROM tok WHERE n_tokens > 0)
       |SELECT doc_id, n_tokens,
       |       (cum_end - n_tokens) // $seqLen AS start_chunk,
       |       (cum_end - 1) // $seqLen AS end_chunk,
       |       (cum_end - n_tokens) % $seqLen AS start_offset
       |FROM c""".stripMargin)
}

/** p3: mixture sampling — deterministic down-sampling of a multi-source
  * corpus to TARGET MIXTURE WEIGHTS (the "data mixing" step that sets how
  * much of each source a training run sees). Each source gets an integer
  * quota proportional to its weight out of a global document budget, and
  * fills it with its hash-rank-first documents — so membership is
  * recomputable from the row alone, stable under reruns, and adding new
  * data to one source never reshuffles another source's picks.
  *
  * Weights here derive from the source name (index mod 4, +1 → 1..4) so
  * the query is self-contained over the test corpus; in production the
  * weight table is a tiny config DataFrame joined the same way.
  *
  * Scale shape: corpus size and total weight are two 1-row broadcast
  * aggregates (t9/t10's pattern); quota arithmetic is exact integer math;
  * the per-source ranking window sorts each source's slice only. At extreme
  * per-source cardinality the rank-filter becomes threshold selection on
  * the same hash (compute the quota-th smallest hash, filter below it) —
  * same semantics, no full sort.
  */
object P3MixtureSample extends GraftQuery {
  val name = "p3_mixture_sample"
  val describe = "data mixing: weighted per-source quotas from a global budget, hash-rank fill"

  /** Budget = total docs / budgetDiv (integer division). */
  private[queries] val budgetDiv = 2

  private val sampleHash = Portable.hash60(concat(lit("mix:"), col("doc_id").cast("string")))
  private[queries] def sampleHashSql = Portable.hash60Sql("'mix:' || CAST(doc_id AS VARCHAR)")

  def run(spark: SparkSession, sfDir: String): DataFrame =
    sample(Tables.documents(spark, sfDir).select(col("doc_id"), col("source")))

  /** Library form: mix any (doc_id, source) frame — e.g. a cleaned
    * survivor set — down to the weighted per-source quotas.
    */
  def sample(docs: DataFrame): DataFrame = {
    val w = (expr("CAST(substr(source, 4) AS INT)") % 4 + 1).cast("long")
    val n = docs.agg(count(lit(1)).as("n"))
    val weights = docs.select(col("source")).distinct().withColumn("w", w)
    val totalW = weights.agg(sum(col("w")).as("tw"))
    val rk = Window.partitionBy(col("source"))
      .orderBy(sampleHash.asc, col("doc_id").asc)
    docs
      .withColumn("rk", row_number().over(rk).cast("long"))
      .join(broadcast(weights), Seq("source"))
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(totalW))
      .withColumn("quota", expr(s"(n div $budgetDiv) * w div tw"))
      .filter(col("rk") <= col("quota"))
      .select(col("source"), col("quota"), col("rk"), col("doc_id"))
  }

  val oracle = Some(
    s"""WITH w AS (
       |  SELECT DISTINCT source,
       |         CAST(CAST(substr(source, 4) AS INT) % 4 + 1 AS BIGINT) AS w
       |  FROM documents),
       |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
       |n AS (SELECT count(*) AS n FROM documents),
       |ranked AS (
       |  SELECT source, doc_id,
       |         CAST(row_number() OVER (
       |           PARTITION BY source
       |           ORDER BY $sampleHashSql ASC, doc_id ASC) AS BIGINT) AS rk
       |  FROM documents)
       |SELECT r.source,
       |       (n.n // $budgetDiv) * w.w // tw.tw AS quota,
       |       r.rk, r.doc_id
       |FROM ranked r JOIN w USING (source) CROSS JOIN n CROSS JOIN tw
       |WHERE r.rk <= (n.n // $budgetDiv) * w.w // tw.tw""".stripMargin)
}

/** p6: TEMPERATURE-rebalanced mixture — p3's quota/hash-rank machinery with
  * weights derived from the DATA instead of a config table: each source's
  * weight is isqrt(n_s) = floor(sqrt(docs in source)), i.e. sampling
  * probability ∝ n_s^0.5 — the temperature trick (α < 1) multilingual and
  * multi-source LM training uses to keep large sources from drowning small
  * ones while still favoring them (α=1 is proportional/no rebalance, α=0 is
  * uniform; 0.5 sits in the published range and, unlike fractional pow, has
  * an EXACT integer form). A source 100× larger gets only 10× the quota.
  *
  * Scale shape: identical to p3 — per-source counts are one map-side-
  * combined aggregate over |sources| rows, weights/totals are broadcast
  * 1-row/|sources|-row frames, and the fill is the per-source hash-rank
  * window (keyed on source, so no global sort).
  *
  * Determinism: isqrt is exact — sqrt of an integer is correctly rounded in
  * IEEE and floor() of it is the true integer root for n < 2^52 (the only
  * doubles that could straddle an integer boundary are beyond 52 bits), so
  * the weights are INTEGERS computed identically in both engines and every
  * quota is integer arithmetic from there — no summation order, no pow
  * ulps, no rounded ratios anywhere.
  */
object P6TemperatureMix extends GraftQuery {
  val name = "p6_temperature_mix"
  val describe = "temperature mixture (alpha=0.5): quotas prop. to isqrt(source size), hash-rank fill"

  /** Budget = total docs / budgetDiv (integer division), as p3. */
  private[queries] val budgetDiv = 2

  private val sampleHash = Portable.hash60(concat(lit("tmix:"), col("doc_id").cast("string")))
  private[queries] def sampleHashSql = Portable.hash60Sql("'tmix:' || CAST(doc_id AS VARCHAR)")

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val weights = docs.groupBy(col("source"))
      .agg(floor(sqrt(count(lit(1)).cast("double"))).cast("long").as("w"),
        count(lit(1)).as("n_src"))
    val n = docs.agg(count(lit(1)).as("n"))
    val totalW = weights.agg(sum(col("w")).as("tw"))
    val rk = Window.partitionBy(col("source"))
      .orderBy(sampleHash.asc, col("doc_id").asc)
    docs
      .withColumn("rk", row_number().over(rk).cast("long"))
      .join(broadcast(weights), Seq("source"))
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(totalW))
      .withColumn("quota", expr(s"(n div $budgetDiv) * w div tw"))
      .filter(col("rk") <= col("quota"))
      .select(col("source"), col("n_src"), col("w"), col("quota"), col("rk"), col("doc_id"))
  }

  val oracle = Some(
    s"""WITH w AS (
       |  SELECT source, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w,
       |         count(*) AS n_src
       |  FROM documents GROUP BY source),
       |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
       |n AS (SELECT count(*) AS n FROM documents),
       |ranked AS (
       |  SELECT source, doc_id,
       |         CAST(row_number() OVER (
       |           PARTITION BY source
       |           ORDER BY $sampleHashSql ASC, doc_id ASC) AS BIGINT) AS rk
       |  FROM documents)
       |SELECT r.source, w.n_src, w.w,
       |       (n.n // $budgetDiv) * w.w // tw.tw AS quota,
       |       r.rk, r.doc_id
       |FROM ranked r JOIN w USING (source) CROSS JOIN n CROSS JOIN tw
       |WHERE r.rk <= (n.n // $budgetDiv) * w.w // tw.tw""".stripMargin)
}

/** p14: sequence packing on TOKENIZER-TRUE lengths — p2's prefix-sum
  * chunking driven by t13's BPE-encoded symbol counts instead of whitespace
  * token counts. Real training assembly packs on what the tokenizer will
  * actually emit: whitespace counts over-budget documents whose learned
  * merges compress well (t13 measures exactly that compression), so chunk
  * boundaries drawn from them misplace every subsequent document in the
  * stream. The composition is one argument swap: the SAME pack machinery
  * (deterministic hash order, range-partitioned cumsum, driver-folded O(P)
  * offsets) over the t12-trained corpus' post-merge lengths — packing
  * policy and length definition stay orthogonal, which is the point of
  * p2's (doc_id, n_tokens) seam.
  *
  * Under a [[graft.Materialize]]-enabled run the encoded corpus is the
  * shared t12 stage output, so t13 and p14 together run the training loop
  * once. Oracle: t12's unrolled training CTEs feeding p2's cumsum chain —
  * each stage's own oracle SQL, composed.
  */
object P14BpePack extends GraftQuery {
  val name = "p14_bpe_pack"
  val describe = "sequence packing on BPE-encoded lengths: t13's post-merge symbol counts through p2's chunking"

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val enc = T12BpeMerges.encodedCorpus(spark, sfDir)
      .select(col("doc_id"), length(col("s")).cast("long").as("n_tokens"))
    P2SequencePack.pack(spark, enc, spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("n_tokens").as("n_symbols"),
        col("start_chunk"), col("end_chunk"), col("start_offset"))
  }

  val oracle = Some(
    s"""WITH ${T12BpeMerges.trainedCorpusCtesSql},
       |enc AS (
       |  SELECT doc_id, CAST(length(s) AS BIGINT) AS n_symbols,
       |         ${P2SequencePack.orderHashSql} AS h
       |  FROM d${T12BpeMerges.rounds}),
       |c AS (
       |  SELECT doc_id, n_symbols,
       |         CAST(sum(n_symbols) OVER (
       |           ORDER BY h ASC, doc_id ASC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
       |  FROM enc WHERE n_symbols > 0)
       |SELECT doc_id, n_symbols,
       |       (cum_end - n_symbols) // ${P2SequencePack.seqLen} AS start_chunk,
       |       (cum_end - 1) // ${P2SequencePack.seqLen} AS end_chunk,
       |       (cum_end - n_symbols) % ${P2SequencePack.seqLen} AS start_offset
       |FROM c""".stripMargin)
}

/** p15: length-bucketed batch assembly — the padding-efficiency step
  * between tokenization and the data loader: group sequences of similar
  * encoded length (bucket = len div 16 symbols) and batch WITHIN a bucket
  * (8 per batch, longest-first), so each batch pads to its own max length
  * instead of the corpus max. The published per-batch `pad_waste`
  * (max_len·n − Σlen) is the exact overhead a fixed-shape training step
  * would burn — the number a curriculum/loader team actually tunes against.
  *
  * Lengths are t13's BPE-encoded symbol counts (the p14 principle:
  * batching on whitespace counts mis-buckets exactly the documents whose
  * merges compress well); under an enabled [[graft.Materialize]] run the
  * encoded corpus is t12's shared stage output.
  *
  * Scale: the within-bucket rank is a window over (bucket, shard) where
  * shard is a hash of the doc_id — buckets are length-classes and can be
  * arbitrarily popular (most of a real corpus sits in a few length bands),
  * so the shard key bounds every window partition BY CONSTRUCTION at
  * 1/shards of a bucket, the same salting answer d9's join uses. A batch
  * never spans shards, so the pad-waste bound per batch is unaffected —
  * sharding a bucket only splits which batches exist, not how tight they
  * pad. All integers; one window + one aggregate over its own partitioning.
  */
object P15LengthBatches extends GraftQuery {
  val name = "p15_length_batches"
  val describe = "length-bucketed batch assembly on BPE-encoded lengths: per-batch exact pad-waste accounting"

  private val bucketWidth = 16L
  private val batchSize = 8L
  private val shards = 4L

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val enc = T12BpeMerges.encodedCorpus(spark, sfDir)
      .select(col("doc_id"), length(col("s")).cast("long").as("len"))
    val keyed = enc
      .withColumn("bucket", expr(s"len div $bucketWidth"))
      .withColumn("shard",
        Portable.hash60(concat(lit("lb:"), col("doc_id").cast("string"))) % lit(shards))
    val w = Window.partitionBy(col("bucket"), col("shard"))
      .orderBy(col("len").desc, col("doc_id").asc)
    keyed
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("batch", expr(s"(rn - 1) div $batchSize"))
      .groupBy(col("bucket"), col("shard"), col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"))
      .withColumn("pad_waste", col("max_len") * col("n_docs") - col("sum_len"))
  }

  val oracle = Some(
    s"""WITH ${T12BpeMerges.trainedCorpusCtesSql},
       |lenc AS (
       |  SELECT doc_id, CAST(length(s) AS BIGINT) AS len
       |  FROM d${T12BpeMerges.rounds}),
       |a AS (
       |  SELECT doc_id, len, len // $bucketWidth AS bucket,
       |         ${Portable.hash60Sql("'lb:' || CAST(doc_id AS VARCHAR)")} % $shards AS shard
       |  FROM lenc),
       |r AS (
       |  SELECT bucket, shard, len,
       |         (row_number() OVER (PARTITION BY bucket, shard
       |                             ORDER BY len DESC, doc_id ASC) - 1) // $batchSize AS batch
       |  FROM a)
       |SELECT bucket, shard, batch, count(*) AS n_docs,
       |       max(len) AS max_len, CAST(sum(len) AS BIGINT) AS sum_len,
       |       max(len) * count(*) - CAST(sum(len) AS BIGINT) AS pad_waste
       |FROM r GROUP BY 1, 2, 3""".stripMargin)
}

/** p16: deterministic epoch shuffle — the reproducible global permutation a
  * training loader consumes: for each declared epoch, every packed sequence
  * (p14's chunks) gets an exact 1-based position in a hash-seeded order.
  * Reproducibility is the whole point (resume a crashed epoch at position
  * k, re-run a training job bit-identically, audit which sequences a
  * checkpoint saw): `ORDER BY rand()` gives none of it, and a driver-side
  * shuffle of a 100-TB corpus' chunk list doesn't exist. The epoch seed is
  * in the hash input, so epochs decorrelate without any carried state.
  *
  * The chunk universe is 0..max(end_chunk) from p14's pack table — gapless
  * by the prefix-sum construction (pinned in PackingSpec), so the range IS
  * the sequence inventory without a distinct-scan.
  *
  * Scale: the permutation itself is big data (tokens/512 rows — billions at
  * 100 TB), so position assignment is [[graft.operators.Rank.globalRowNumber]]
  * — range-partition on the hash key, rank within partitions, broadcast-join
  * the O(P) driver-folded offsets — never a single-partition window sort.
  * Per epoch that is one range exchange of an (epoch, chunk, hash) triple;
  * the declared query materializes 2 epochs as the manifest sample.
  */
object P16EpochShuffle extends GraftQuery {
  val name = "p16_epoch_shuffle"
  val describe = "reproducible training-epoch shuffle: hash-seeded exact global positions for p14's packed sequences"

  private[queries] val epochs = 2

  /** One epoch's permutation over a (chunk) frame — the seam
    * EpochShuffleSpec's bijection/decorrelation pins use.
    */
  private[queries] def shuffleEpoch(chunks: DataFrame, epoch: Int): DataFrame = {
    val h = Portable.hash60(
      concat(lit(s"ep:$epoch:"), col("chunk").cast("string")))
    graft.operators.Rank.globalRowNumber(
        chunks.withColumn("h", h),
        Seq(col("h"), col("chunk")),
        chunks.sparkSession.sparkContext.defaultParallelism)
      .select(lit(epoch.toLong).as("epoch"), col("chunk"),
        col("rk").as("position"))
  }

  /** Schedule over an explicit pack table — the seam the empty-corpus pin
    * uses. 1-row aggregate: the chunk-count scalar, not data, crosses the
    * driver. max() is NULL on an empty pack table (empty/degenerate corpus)
    * — that is an empty schedule, not an NPE.
    */
  private[queries] def schedule(spark: SparkSession, packed: DataFrame): DataFrame = {
    val maxRow = packed.agg(max(col("end_chunk"))).collect()(0)
    if (maxRow.isNullAt(0))
      return spark.range(0)
        .select(col("id").as("epoch"), col("id").as("chunk"), col("id").as("position"))
    val chunks = spark.range(0, maxRow.getLong(0) + 1).toDF("chunk")
    (0 until epochs).map(shuffleEpoch(chunks, _)).reduce(_.union(_))
  }

  def run(spark: SparkSession, sfDir: String): DataFrame =
    schedule(spark, P14BpePack.run(spark, sfDir))

  val oracle = Some(
    s"""WITH ${T12BpeMerges.trainedCorpusCtesSql},
       |enc AS (
       |  SELECT doc_id, CAST(length(s) AS BIGINT) AS n_symbols,
       |         ${P2SequencePack.orderHashSql} AS h
       |  FROM d${T12BpeMerges.rounds}),
       |c AS (
       |  SELECT CAST(sum(n_symbols) OVER (
       |           ORDER BY h ASC, doc_id ASC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
       |  FROM enc WHERE n_symbols > 0),
       |mx AS (SELECT max((cum_end - 1) // ${P2SequencePack.seqLen}) AS m FROM c),
       |ch AS (SELECT unnest(range(0, (SELECT m + 1 FROM mx))) AS chunk),
       |ep AS (SELECT CAST(unnest([0, 1]) AS BIGINT) AS epoch),
       |k AS (
       |  SELECT ep.epoch, ch.chunk,
       |         ${Portable.hash60Sql("'ep:' || CAST(epoch AS VARCHAR) || ':' || CAST(chunk AS VARCHAR)")} AS h
       |  FROM ch CROSS JOIN ep)
       |SELECT epoch, chunk,
       |       CAST(row_number() OVER (PARTITION BY epoch ORDER BY h ASC, chunk ASC) AS BIGINT) AS position
       |FROM k""".stripMargin)
}

/** p17: output SHARD manifest — the physical file-layout plan a release
  * writer executes (WebDataset/tar-shard style: documents laid out in the
  * deterministic release order, a new shard opened every `shardBytes` of
  * stream offset): each document is assigned to the shard its FIRST byte
  * falls in, and the manifest publishes per shard the doc count, exact
  * byte mass, the largest member, and an order-independent membership
  * digest (p13's bit_xor discipline — any lost/duplicated/reassigned doc
  * flips the shard's digest, which is what a release integrity check
  * diffs). p9 publishes WHAT ships; p17 publishes WHERE each doc lands on
  * disk — the missing physical half of the release-manifest pair.
  *
  * Scale shape: byte offsets come from the same distributed prefix sum as
  * p2 (range-partition on the order key, within-partition cumsum, O(P)
  * driver-folded offsets broadcast back — never a single-partition
  * window); the manifest is one map-side-combinable aggregate keyed on the
  * shard id. Shard count = corpus bytes / shardBytes, so the output is
  * ~file-count-sized, not corpus-sized.
  *
  * Determinism: byte counts and prefix sums are exact integers; the order
  * key is the portable hash; the digest is bit_xor of per-doc salted
  * hashes — commutative/associative, so it merges map-side under any
  * partitioning (the p13 argument).
  */
object P17ShardManifest extends GraftQuery {
  val name = "p17_shard_manifest"
  val describe = "release shard layout: byte prefix-sum shard assignment + per-shard counts, mass, xor membership digest"

  /** Shard byte budget — small against the test corpus (~150 KB at
    * sf0.001) so every SF exercises many shards; a deployment passes its
    * real target (e.g. 1 GiB) through [[manifestOn]].
    */
  private[queries] val shardBytes = 16384L

  private val orderHash = Portable.hash60(concat(lit("shard:"), col("doc_id").cast("string")))
  private[queries] def orderHashSql = Portable.hash60Sql("'shard:' || CAST(doc_id AS VARCHAR)")

  def run(spark: SparkSession, sfDir: String): DataFrame =
    manifestOn(spark,
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          length(col("text").cast("binary")).cast("long").as("n_bytes")),
      shardBytes, spark.sparkContext.defaultParallelism)

  /** The layout over any (doc_id, n_bytes) frame — a release would pass its
    * shipped set; the spec passes synthetic fixtures.
    */
  private[queries] def manifestOn(spark: SparkSession, docBytes: DataFrame,
      budget: Long, partitions: Int): DataFrame = {
    require(budget >= 1, s"shard budget must be >= 1, got $budget")
    val sized = docBytes
      .select(col("doc_id"), col("n_bytes"), orderHash.as("h"))
      .filter(col("n_bytes") > 0)
    val ranged = graft.CacheScope.persisted(
      sized.repartitionByRange(partitions, col("h").asc, col("doc_id").asc)
        .withColumn("pid", spark_partition_id()))
    val totals = ranged.groupBy(col("pid")).agg(sum(col("n_bytes")).as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, t)) => (pid, acc + t) }
    val offDf = spark.createDataFrame(
      totals.map(_._1).zip(offsets.map(_._2)).toSeq).toDF("pid", "__off")
    val inPart = Window.partitionBy(col("pid")).orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .join(broadcast(offDf), Seq("pid"))
      .withColumn("cum_end", col("__off") + sum(col("n_bytes")).over(inPart))
      .withColumn("shard", expr(s"(cum_end - n_bytes) div $budget"))
      .withColumn("mh",
        Portable.hash60(concat(lit("sm:"), col("doc_id").cast("string"))))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("shard_bytes"),
        max(col("n_bytes")).as("max_doc_bytes"),
        expr("bit_xor(mh)").as("member_xor"))
  }

  val oracle = Some(
    s"""WITH b AS (
       |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |         $orderHashSql AS h
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_bytes,
       |         CAST(sum(n_bytes) OVER (
       |           ORDER BY h ASC, doc_id ASC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
       |  FROM b WHERE n_bytes > 0)
       |SELECT (cum_end - n_bytes) // $shardBytes AS shard,
       |       count(*) AS n_docs,
       |       CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
       |       max(n_bytes) AS max_doc_bytes,
       |       bit_xor(${Portable.hash60Sql("'sm:' || CAST(doc_id AS VARCHAR)")}) AS member_xor
       |FROM c GROUP BY 1""".stripMargin)
}
