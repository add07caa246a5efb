package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheScope, Tables}
import graft.operators.TextOps

/** t12: BPE merge-pair training — the tokenizer-training step of an LLM data
  * pipeline, run as the reference's iterative master/worker pattern (worker =
  * partial pair-count aggregate per partition, master = 1-row argmax + the
  * merge decision, broadcast back as the next round's rewrite; the C3/k1
  * driver-loop shape applied to vocabulary learning — the loop contract is
  * guagua's GuaguaMasterService.run, guagua-core/src/main/java/ml/shifu/
  * guagua/master/GuaguaMasterService.java:185-215, with the merge choice as
  * the master fold and the rewritten corpus as the broadcast state).
  *
  * Semantics (standard byte-pair encoding, Sennrich et al. 2016, greedy
  * left-to-right):
  *   - symbol alphabet: the distinct word tokens, each mapped to ONE
  *     character code so a document becomes a plain string and "merge the
  *     pair" is a single `replace` — the classic BPE trick, and exactly the
  *     left-to-right non-overlapping semantics both engines' `replace`
  *     implements ("x x x" merges positions 1-2 then cannot reuse the shared
  *     middle: one occurrence, not two);
  *   - per round: count all ADJACENT symbol pairs (overlapping: "xxx" has
  *     two xx pairs), merge the (count desc, pair asc) argmax into a fresh
  *     symbol, repeat. Merged symbols participate in later rounds, so
  *     multi-word units grow ("a b" then "a b c").
  *
  * Output: one row per round — (round, merged unit as space-joined token
  * text, its pair frequency at merge time). Integer counts + text only, so
  * nothing float-sensitive reaches the hash gate.
  *
  * Portability pin: Spark's `chr(n)` masks to `n & 0xFF` (Latin-1 only)
  * while DuckDB's is full Unicode — the shared alphabet therefore lives
  * entirely in codepoints 1..255, where both engines agree: vocab symbols at
  * chr(32+rank), merge symbols at chr(round). A `require` enforces the 223-
  * symbol capacity. At production scale BPE runs over a byte-level initial
  * alphabet (256 symbols) precisely so the symbol table stays O(1); the
  * word-level variant here keeps the vocabulary as a broadcast table and
  * collects only the O(V) symbol texts to the driver — the same O(model)
  * driver traffic as k-means centroids (C3).
  *
  * Scale shape: per round = one scan of the cached symbol-string frame, an
  * exploded pair count whose map-side partial aggregation collapses each
  * partition to O(|observed pair space|) rows, a 1-row TakeOrdered to the
  * driver, and a narrow per-row `replace` projection. Each round's rewrite
  * is persisted and the predecessor unpersisted (d7's lineage-truncation
  * pattern) so the transform lambda always captures a materialized column,
  * never a growing replace-expression chain.
  */
object T12BpeMerges extends GraftQuery {
  val name = "t12_bpe_merges"
  val describe = "BPE tokenizer training: 6 greedy merge rounds, oracle = unrolled CTE chain"

  private[queries] val rounds = 6
  // Vocab symbols occupy chr(33)..chr(255) (rank is 1-based); merge symbols
  // chr(1)..chr(rounds) are control chars, disjoint by construction.
  private[queries] val vocabBase = 32
  private[queries] def mergeChar(r: Int): String = r.toChar.toString

  def run(spark: SparkSession, sfDir: String): DataFrame =
    // Shared stage output, twinned with [[encodedCorpus]]: one training run
    // writes BOTH tables (the nested table() call persists the sibling),
    // so t12/t13/p14 together train once per enabled run.
    graft.Materialize.table(spark, "t12_merges", sfDir) {
      val (m, e) = train(spark, Tables.documents(spark, sfDir))
      graft.Materialize.table(spark, "t12_encoded", sfDir)(e)
      m
    }

  /** [[run]] over an explicit documents frame (doc_id, text) — fixture entry
    * point for BpeSpec's reimplementation pin.
    */
  def runOn(spark: SparkSession, documents: DataFrame): DataFrame =
    train(spark, documents)._1

  /** The trained-and-rewritten corpus (doc_id, s) over the sfDir documents
    * as a SHARED STAGE OUTPUT: t13 and p14 both consume it, so an enabled
    * [[graft.Materialize]] run executes the 6-round training loop once.
    */
  private[queries] def encodedCorpus(spark: SparkSession, sfDir: String): DataFrame =
    graft.Materialize.table(spark, "t12_encoded", sfDir) {
      val (m, e) = train(spark, Tables.documents(spark, sfDir))
      graft.Materialize.table(spark, "t12_merges", sfDir)(m)
      e
    }

  /** The full training loop. Returns the merge table frame AND the final
    * rewritten corpus (doc_id, s — symbol strings after all merges, still
    * persisted; t13 consumes it to report post-encode lengths, and owns the
    * unpersist through its CacheScope).
    */
  private[queries] def train(spark: SparkSession, documents: DataFrame): (DataFrame, DataFrame) = {
    import spark.implicits._
    val toks = documents.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))

    // The symbol alphabet: distinct tokens, alphabetical rank → char. The
    // distinct is partial-aggregated (O(vocab) rows cross the shuffle); the
    // alphabet is driver metadata by design — the same O(model) traffic as
    // k-means centroids, and production BPE's byte-level alphabet is O(1).
    val vocabTokens = toks.select(explode(col("toks")).as("token")).distinct()
      .collect().map(_.getString(0)).sorted
    require(vocabTokens.length <= 255 - vocabBase - rounds,
      s"word-level BPE demo supports <=${255 - vocabBase - rounds} symbols, got ${vocabTokens.length}; " +
        "use a byte-level alphabet for open vocabularies")
    val tokenToCh = vocabTokens.zipWithIndex
      .map { case (t, i) => t -> (vocabBase + i + 1).toChar.toString }
    val symText = scala.collection.mutable.Map[String, String](
      tokenToCh.map { case (t, ch) => ch -> t }.toSeq: _*)

    // One string per document: its token sequence as symbol chars, by a
    // broadcast literal-map projection — per-row work, NO shuffle (the
    // posexplode + join + collect_list alternative shuffles O(corpus
    // tokens) rows to rebuild an order the row already has).
    val chMap = typedlit(tokenToCh.toMap)
    val docs0 = CacheScope.persisted(
      toks.where(size(col("toks")) >= 1)
        .select(col("doc_id"),
          array_join(transform(col("toks"), t => element_at(chMap, t)), "").as("s")))

    // INCREMENTAL PAIR COUNTS (round 16, guide §1.2 step 1, VERDICT r15
    // #4): the round-15 loop re-exploded EVERY adjacent pair of EVERY
    // document each round and re-persisted the whole rewritten corpus six
    // times, even though merging pair p only changes the pair counts of
    // documents that CONTAIN p. The pair-count table is now exact delta-
    // maintained driver state (the same O(model) driver-traffic budget as
    // the vocab collect above and k-means centroids — the observed pair
    // space is bounded by the ≤255² symbol alphabet, not the corpus):
    //   - round 1 counts all pairs once (unavoidable full pass);
    //   - each later round scans the cached docs0 once, REBUILDS the
    //     current state as a nested-replace projection (r cheap per-row
    //     replaces instead of a full cache write+read per round), filters
    //     to the docs containing the merged pair, and emits their pairs
    //     at weight −1 (before) and +1 (after) — one grouped sum is the
    //     exact count delta (replace can only create/destroy pairs inside
    //     changed documents; T12DeltaCountSpec pins delta-updated ==
    //     full-recount per round, BpeSpec pins the merge table against an
    //     independent reference implementation).
    // BINDING DISCIPLINE: every computed string that a pair lambda reads
    // is bound once through flatten(transform(array(expr), v -> …)) — the
    // TextOps CollapseProject rule; a replace CHAIN left as a plain
    // expression inside the lambda would re-evaluate per element
    // (O(len²·rounds) string work per row, the trap the round-15 comment
    // here warned about).
    // All adjacent 2-char pairs of a BOUND string (v must be a lambda
    // variable or plain attribute — pairsOf references it three times).
    def pairsOf(v: Column): Column =
      when(length(v) >= 2,
        transform(sequence(lit(1), length(v) - 1), i => substring(v, i, lit(2))))
        .otherwise(array().cast("array<string>"))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    def tally(rows: Array[org.apache.spark.sql.Row]): Unit = rows.foreach { row =>
      val p = row.getString(0)
      val c = counts.getOrElse(p, 0L) + row.getLong(1)
      if (c == 0L) counts.remove(p) else counts(p) = c
    }
    tally(docs0
      .select(explode(flatten(transform(array(col("s")), v => pairsOf(v)))).as("pair"))
      .groupBy("pair").agg(sum(lit(1L)).as("w"))
      .collect())
    val out = Seq.newBuilder[(Int, String, Long)]
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // The current corpus state as a nested-replace chain over docs0's s —
    // a LINEAR chain (each replace feeds exactly the next), so one
    // evaluation per row with no binding needed as long as the result
    // itself is referenced once (HOF consumers bind it, below).
    def applyMerges(v: Column): Column =
      merges.foldLeft(v) { case (acc, (p, c)) =>
        call_function("replace", acc, lit(p), lit(c))
      }
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      if (counts.isEmpty) {
        // Degenerate corpus: no document has two adjacent symbols left —
        // training is exhausted before the round budget (the oracle's b_r
        // CTEs go empty at the same round, so both sides emit these rows
        // and no more).
        exhausted = true
      } else {
        // argmax (freq desc, pair asc) — the TakeOrdered the loop used to
        // run as a Spark job, now a fold over the driver-held count table
        // (order-independent: the (freq, pair) comparison is total).
        // Tie-break parity: Spark compared pairs as UTF8String (unsigned
        // UTF-8 bytes), which for this chr(1)..chr(255) alphabet orders
        // exactly like the JVM's UTF-16 char compare (1-byte codepoints
        // sort below every 2-byte C2/C3 sequence and both groups ascend).
        val (pair, freq) = counts.foldLeft(("", Long.MinValue)) {
          case (best @ (bp, bf), (p, f)) =>
            if (f > bf || (f == bf && p < bp)) (p, f) else best
        }
        val mc = mergeChar(r)
        symText(mc) = symText(pair.substring(0, 1)) + " " + symText(pair.substring(1, 2))
        out += ((r, symText(mc), freq))
        // Exact count delta for this merge, one job: bind the pre-merge
        // state ONCE as a lambda variable, keep only documents containing
        // the merged pair (all others have identical pair multisets before
        // and after), and emit their post-merge pairs at +1 and pre-merge
        // pairs at −1. The empty-array otherwise-branch makes explode drop
        // unchanged documents without a separate Filter the optimizer
        // could collapse back into the chain.
        val pwType = "array<struct<pair:string,w:bigint>>"
        val pw = flatten(transform(array(applyMerges(col("s"))), v =>
          when(v.contains(pair),
            concat(
              flatten(transform(array(call_function("replace", v, lit(pair), lit(mc))),
                va => transform(pairsOf(va), x => struct(x.as("pair"), lit(1L).as("w"))))),
              transform(pairsOf(v), x => struct(x.as("pair"), lit(-1L).as("w")))))
            .otherwise(expr(s"cast(array() as $pwType)"))))
        merges += ((pair, mc))
        tally(docs0
          .select(explode(pw).as("pw"))
          .select(col("pw.pair").as("pair"), col("pw.w").as("w"))
          .groupBy("pair").agg(sum(col("w")).as("w"))
          .filter(col("w") =!= 0L)
          .collect())
        r += 1
      }
    }
    // The final corpus is a ≤6-replace projection over the one persisted
    // frame — docs0 stays cached for the consumer (t13/p14 via the
    // Materialize stage or directly), the lifetime contract the per-round
    // `cur` used to carry; CacheScope owns the unpersist.
    val encoded = docs0.select(col("doc_id"), applyMerges(col("s")).as("s"))
    (out.result().toDF("round", "merged", "freq"), encoded)
  }

  /** Unrolled-CTE replay (the k1 pattern). Every CTE referenced more than
    * once per round (d_r by the next round's pair scan AND rewrite, b_r by
    * the rewrite AND the output row, sym_r by both symbol joins) is marked
    * MATERIALIZED: DuckDB's default inlining re-evaluates each reference,
    * which makes the chain EXPONENTIAL in rounds (measured: 2.4 s at 2
    * rounds, 6.0 s at 4, unbounded at 6; 0.2 s materialized).
    */
  val oracle = {
    val sb = new StringBuilder
    sb ++= s"WITH $trainedCorpusCtesSql,\nsym0 AS (SELECT ch, token AS txt FROM vocab)"
    for (r <- 1 to rounds) {
      val mc = s"chr($r)"
      sb ++= s""",
                |sym$r AS MATERIALIZED (SELECT * FROM sym${r - 1} UNION ALL
                |  SELECT $mc AS ch, l.txt || ' ' || rr.txt AS txt
                |  FROM b$r b JOIN sym${r - 1} l ON l.ch = substr(b.pair, 1, 1)
                |             JOIN sym${r - 1} rr ON rr.ch = substr(b.pair, 2, 1)),
                |o$r AS (SELECT $r AS round, s.txt AS merged, b.c AS freq
                |  FROM b$r b JOIN sym$r s ON s.ch = $mc)""".stripMargin
    }
    sb ++= "\n" + (1 to rounds).map(r => s"SELECT round, merged, freq FROM o$r").mkString(" UNION ALL ")
    Some(sb.toString)
  }

  /** The per-round CTE chain up to the final rewritten corpus `d$rounds` —
    * shared with t13's encode oracle.
    */
  private[queries] def trainedCorpusCtesSql: String = {
    val sb = new StringBuilder
    sb ++= s"""tok AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks FROM documents),
              |vocab AS (
              |  SELECT token, chr($vocabBase + CAST(row_number() OVER (ORDER BY token) AS INT)) AS ch
              |  FROM (SELECT DISTINCT unnest(toks) AS token FROM tok)),
              |pos AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks FROM tok),
              |mapped AS (SELECT p.doc_id, p.i, v.ch FROM pos p JOIN vocab v ON v.token = p.toks[p.i]),
              |d0 AS MATERIALIZED (SELECT doc_id, string_agg(ch, '' ORDER BY i) AS s FROM mapped GROUP BY doc_id)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
                |p$r AS (SELECT substr(s, i, 2) AS pair
                |  FROM (SELECT s, CAST(unnest(range(1, length(s))) AS INT) AS i
                |        FROM d${r - 1} WHERE length(s) >= 2)),
                |b$r AS MATERIALIZED (SELECT pair, count(*) AS c FROM p$r GROUP BY pair ORDER BY c DESC, pair ASC LIMIT 1),
                |d$r AS MATERIALIZED (
                |  SELECT doc_id, CASE WHEN (SELECT pair FROM b$r) IS NULL THEN s
                |                      ELSE replace(s, (SELECT pair FROM b$r), chr($r)) END AS s
                |  FROM d${r - 1})""".stripMargin
    }
    sb.toString
  }
}

/** t13: BPE encode — APPLY the t12-trained merge table back to the corpus
  * (train-then-encode, the deployment sequence of any tokenizer): per
  * document, the token count before merging and the symbol count after all
  * merge rounds, i.e. the sequence-length compression the learned vocabulary
  * buys (what a packing/cost model consumes — fewer symbols per doc =
  * more documents per seqLen chunk in p2).
  *
  * The encode step is the training loop's rewrite chain itself (greedy
  * left-to-right merge application in merge order — exactly how BPE
  * encoders apply a merge table), so the implementation reuses t12's
  * persisted final corpus rather than re-deriving a second, subtly
  * different apply path. Output is all-integer (no float hashing risk).
  */
object T13BpeEncode extends GraftQuery {
  val name = "t13_bpe_encode"
  val describe = "BPE encode with the t12-trained merges: per-doc token vs post-merge symbol counts"

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val encoded = T12BpeMerges.encodedCorpus(spark, sfDir)
    val pre = docs.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    encoded.select(col("doc_id"), length(col("s")).cast("long").as("n_symbols"))
      .join(pre, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_symbols"))
  }

  val oracle = Some(
    s"""WITH ${T12BpeMerges.trainedCorpusCtesSql}
       |SELECT d.doc_id,
       |       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |       CAST(length(d.s) AS BIGINT) AS n_symbols
       |FROM d${T12BpeMerges.rounds} d JOIN tok t ON d.doc_id = t.doc_id""".stripMargin)
}
