package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.IterativeSum

/** Q2 (SURVEY §2.F): the reference's iterated-sum loop (C1) run through the
  * [[graft.core.Iterate]] kernel over lineitem, with pinned determinism knobs:
  * P = 4 partitions, N = 5 iterations, x = floor(l_quantity) as BIGINT.
  *
  * The recurrence s_i = P·s_{i-1} + X has the closed form
  * s_N = X·(P^N − 1)/(P − 1) = X·341, which is what the SQL oracle computes —
  * so the oracle independently cross-checks the kernel's loop, broadcast and
  * partition-order combine plumbing, not just arithmetic.
  *
  * Floats are avoided entirely (floor → BIGINT before summing) because the
  * ×341 amplification would magnify any summation-order ulp difference.
  * DuckDB CASTs double→int by rounding while Spark truncates, hence the
  * explicit floor() on both sides.
  */
object Q2IterSum extends GraftQuery {
  val name = "q2_itersum"
  val describe = "iterated sum via the Iterate kernel (C1 semantics), oracle = closed form"

  private val P = 4
  private val N = 5

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val xs = Tables.lineitem(spark, sfDir)
      .select(floor(col("l_quantity")).cast("long").as("x"))
      .as[Long]
      .repartition(P)
    val result = IterativeSum.run(xs, maxIterations = N, haltAbove = Long.MaxValue)
    Seq((result.master, result.iterations))
      .toDF("s_final", "iterations")
      .select(col("s_final"), col("iterations").cast("int"))
  }

  val oracle = Some(
    s"""SELECT CAST(sum(CAST(floor(l_quantity) AS BIGINT)) * 341 AS BIGINT) AS s_final,
       |       CAST($N AS INT) AS iterations
       |FROM lineitem""".stripMargin)
}
