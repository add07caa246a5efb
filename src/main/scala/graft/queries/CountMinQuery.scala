package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheScope, Tables}
import graft.functions.Portable
import graft.operators.TextOps

/** t15: count-min sketch — fixed-size frequency estimation over the token
  * stream (Cormode–Muthukrishnan 2005), the sketch a 100 TB pipeline uses
  * when exact per-token counts (t6) no longer fit: depth×width counters
  * replace an O(vocabulary) table, estimates only ever OVER-count
  * (est = min over depth rows ≥ truth), and the sketch merges across
  * partitions/batches by cell-wise addition — which is exactly what the
  * partial+final aggregate below does, so Spark's map-side combine IS the
  * sketch merge.
  *
  * Output: the top-k exact tokens with their true count and the sketch
  * estimate side by side (the calibration view: the gap IS the collision
  * error at this depth/width). All integers; the hash family is the
  * portable md5-backed one, so both engines address identical cells.
  */
object T15CountMin extends GraftQuery {
  val name = "t15_count_min"
  val describe = "count-min sketch (4x256) over the token stream: exact vs estimate for the top-20"

  private val depth = 4
  private val width = 256L
  private val topK = 20

  private def bucket(r: Int): org.apache.spark.sql.Column =
    pmod(Portable.hash60(concat(lit(s"cm$r:"), col("token"))), lit(width))

  private def bucketSql(r: Int): String =
    s"${Portable.hash60Sql(s"'cm$r:' || token")} % $width"

  /** The exploded (row, bucket) cell pairs for a `token` column — one
    * increment per sketch row.
    */
  private def cells: org.apache.spark.sql.Column =
    explode(array((0 until depth).map(r =>
      struct(lit(r).as("r"), bucket(r).as("b"))): _*))

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = CacheScope.persisted(
      Tables.documents(spark, sfDir)
        .select(explode(TextOps.tokens(col("text"))).as("token")))
    // Sketch build: each token increments one cell per row; the groupBy is
    // partial-aggregated, so each partition contributes its own depth×width
    // sub-sketch and the shuffle merges them cell-wise (≤ depth·width rows
    // per partition regardless of corpus size).
    val sketch = toks.select(cells.as("rb"))
      .select(col("rb.r").as("r"), col("rb.b").as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("cnt"))
    val top = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(topK)
    // Point queries: k×depth probe rows against the ≤ depth·width-cell
    // sketch (both tiny; the estimate is the min across rows).
    val probes = top.select(col("token"), col("freq"), cells.as("rb"))
      .select(col("token"), col("freq"), col("rb.r").as("r"), col("rb.b").as("b"))
    probes.join(sketch, Seq("r", "b"))
      .groupBy(col("token"), col("freq"))
      .agg(min(col("cnt")).as("est"))
  }

  val oracle = {
    val rowsList = (0 until depth).mkString("[", ", ", "]")
    def bCase = (0 until depth).map(r => s"WHEN r = $r THEN ${bucketSql(r)}")
      .mkString("CASE ", " ", " END")
    Some(
      s"""WITH tok AS (
         |  SELECT unnest(${TextOps.tokensSql("text")}) AS token FROM documents),
         |cells AS (
         |  SELECT r, $bCase AS b
         |  FROM (SELECT token, unnest($rowsList) AS r FROM tok)),
         |sk AS (SELECT r, b, count(*) AS cnt FROM cells GROUP BY r, b),
         |top AS (
         |  SELECT token, count(*) AS freq FROM tok GROUP BY token
         |  ORDER BY freq DESC, token ASC LIMIT $topK),
         |pb AS (
         |  SELECT token, freq, r, $bCase AS b
         |  FROM (SELECT token, freq, unnest($rowsList) AS r FROM top))
         |SELECT token, freq, min(cnt) AS est
         |FROM pb JOIN sk USING (r, b)
         |GROUP BY token, freq""".stripMargin)
  }
}
