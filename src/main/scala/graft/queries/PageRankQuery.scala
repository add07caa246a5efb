package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** g1: PageRank over the semantic-similarity graph — centrality scores for
  * the vectors participating in d5's cosine-pair edges. This is the
  * survivor-selection refinement of dedup: d10 collapses a semantic
  * cluster to its MIN vec_id; ranking cluster members by PageRank instead
  * picks the most CENTRAL exemplar (the member most similar to the rest),
  * which is what SemDeDup-style curation actually keeps. It also exercises
  * one more reference-shaped iteration: like C3's k-means loop, each round
  * is a single keyed aggregate (neighbour contributions) folded with a
  * broadcast-scale constant — A6's driver loop over declarative rounds, no
  * graph library needed.
  *
  * Scale shape: the adjacency list (edges + out-degrees) is built once,
  * persisted, and every round is one hash-partitioned join + aggregate on
  * vec_id — working set proportional to the edge list, contributions
  * partially aggregated map-side, nothing driver-side but the loop counter
  * (rank frames stay distributed; only the O(P) metadata of the d5 stage
  * ever visits the driver). The rounds go through Lineage.loop: the
  * declared 5 rounds are one lazy plan (matching the unrolled oracle);
  * a longer `rounds` budget — the reference defaults to 50 iterations —
  * crosses the engine's round boundary every 5 rounds, so the plan never
  * embeds more than 5 steps and the rank frame keeps its partitioning.
  *
  * Determinism: contribution sums are rounded to 9 decimals each round
  * BEFORE damping (the s6 per-iteration-rounding precedent), so
  * summation-order differences between engines stay below the oracle's
  * 6-decimal surface; degrees and the node count are exact integers and
  * every division is the same IEEE double op on both sides.
  */
object G1PageRank extends GraftQuery {
  override val oracleOnly = true // scale twin: g3_pagerank_lsh (same engine over d16 pairs)
  val name = "g1_pagerank"
  val describe = "PageRank centrality over d5 cosine-pair graph (central-exemplar survivor ranking)"

  private val iterations = 5
  private val damping = 0.85
  private val roundScale = 9

  def run(spark: SparkSession, sfDir: String): DataFrame =
    runOverPairs(spark, D5EmbedDedup.run(spark, sfDir).select(col("vec_a"), col("vec_b")))

  /** Pair source is pluggable (D10SemanticClusters.runOverPairs contract):
    * default is d5's exact pairs; feed D16's LSH-verified pairs for the
    * bucketed scale path.
    *
    * `rounds` is the iteration budget ([[graft.operators.Lineage.loop]]);
    * LineageHygieneSpec runs it at the reference's 50.
    */
  def runOverPairs(spark: SparkSession, pairs: DataFrame,
      rounds: Int = iterations): DataFrame = {
    // Persist the pair SOURCE first: it is referenced twice by the
    // direction union, and `deg` (itself read by the adjacency build AND
    // the final join) multiplies the references further — without the cache
    // an expensive generator (g3 feeds d16's whole LSH chain here) would
    // re-execute per reference (the t8/d4 multi-consumer rule).
    val p = graft.CacheScope.persisted(pairs)
    // Undirected graph: each pair contributes both directions, so every
    // node has degree >= 1 and receives mass every round.
    val edges = p.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .union(p.select(col("vec_b").as("src"), col("vec_a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // Adjacency with the sender's degree attached once, read 5 times.
    val adj = graft.CacheScope.persisted(
      edges.join(deg, "src").select(col("src"), col("dst"), col("deg")))
    val n = adj.select(col("src")).distinct().count()
    val teleport = (1.0 - damping) / n

    val init = adj.select(col("src").as("id")).distinct()
      .withColumn("pr", round(lit(1.0 / n), roundScale))
    val ranks = graft.operators.Lineage.loop(init, rounds) { prev =>
      adj.join(prev, adj("src") === prev("id"))
        .groupBy(col("dst"))
        .agg(round(sum(col("pr") / col("deg")), roundScale).as("mass"))
        .select(
          col("dst").as("id"),
          round(lit(teleport) + lit(damping) * col("mass"), roundScale).as("pr"))
    }
    ranks.join(deg, ranks("id") === deg("src"))
      .select(col("id").as("vec_id"), col("deg").as("degree"),
        round(col("pr"), 6).as("pagerank"))
  }

  /** The unrolled 5-round PageRank oracle over ANY pair CTE chain — the SQL
    * mirror of [[runOverPairs]]'s pluggability: `pairsCtes`' final CTE
    * `pairCte` must expose (vec_a, vec_b). g1 instantiates it over d5's
    * exact pairs; g3 over d16's LSH-verified pairs.
    */
  private[queries] def oracleSqlOver(pairsCtes: String, pairCte: String): String = {
    val nSub = "(SELECT n FROM n)"
    val iters = (1 to iterations).map { i =>
      s"""pr$i AS (
         |  SELECT e.dst AS id,
         |         round((1.0 - $damping) / $nSub
         |               + $damping * round(sum(p.pr / d.deg), $roundScale),
         |               $roundScale) AS pr
         |  FROM edges e
         |  JOIN pr${i - 1} p ON e.src = p.id
         |  JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pairsCtes,
       |edges AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM $pairCte
       |  UNION ALL SELECT vec_b, vec_a FROM $pairCte),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |n AS (SELECT count(*) AS n FROM deg),
       |pr0 AS (SELECT src AS id, round(1.0 / $nSub, $roundScale) AS pr FROM deg),
       |$iters
       |SELECT d.src AS vec_id, d.deg AS degree, round(p.pr, 6) AS pagerank
       |FROM pr$iterations p JOIN deg d ON p.id = d.src""".stripMargin
  }

  val oracle = Some(oracleSqlOver(D5EmbedDedup.pairsCtesSql, "d5"))
}

/** g3: g1's PageRank composed over d16's BUCKETED pair source — the
  * verdict-claimed composition ("g1/g2/d12 inherit the pluggable pair
  * source") made a first-class oracle row. Identical ranking semantics and
  * iteration loop; the only change is where edges come from: d16's sign-LSH
  * radius-2 candidates verified by exact cosine, joined on (table, bucket)
  * keys — so the whole chain (pair generation → degree → 5 ranked rounds)
  * contains no O(n²) stage and survives the 100× scale-up that d5's exact
  * tiling cannot. At test scale the edge sets differ only by d16's measured
  * 0.4% pair-recall miss, so ranks track g1 closely (pinned in
  * PairSourceCompositionSpec, top-degree overlap floor) — but the oracle
  * match is EXACT against the same bucketed source, not approximate.
  */
object G3PageRankLsh extends GraftQuery {
  val name = "g3_pagerank_lsh"
  val describe = "PageRank over d16's bucketed LSH-verified pair graph (the 100-TB composition of g1)"

  def run(spark: SparkSession, sfDir: String): DataFrame =
    G1PageRank.runOverPairs(spark,
      D16SemanticLshClusters.verifiedPairs(spark, sfDir)
        .select(col("vec_a"), col("vec_b")))

  val oracle = Some(G1PageRank.oracleSqlOver(
    D16SemanticLshClusters.pairsCtesSql, "ver"))
}
