package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.OrderedPairs
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Round-16 optimization pin: exploding the native
  * [[org.apache.spark.sql.graft.OrderedPairs]] expression over each key's
  * grouped id list must produce EXACTLY the pair multiset of the
  * `a ⨝ b ON a.key = b.key AND a.id < b.id` self-join it replaced in
  * d17/d20 — same pairs, same per-pair multiplicities — so the containment
  * and winnow-dup tables are unchanged by construction.
  */
class OrderedPairsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** (key, pair_a, pair_b, n) via the old self-join shape. */
  private def joinPairs(df: DataFrame): DataFrame =
    df.alias("a")
      .join(df.alias("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("pa"), col("b.id").as("pb"))
      .agg(count(lit(1)).as("n"))

  /** Same multiset via grouped collect + the native expression. */
  private def exprPairs(df: DataFrame): DataFrame =
    df.groupBy(col("key")).agg(collect_list(col("id")).as("ids"))
      .select(inline(org.apache.spark.sql.graft.OrderedPairs.orderedPairsCol(col("ids"))))
      .groupBy(col("a").as("pa"), col("b").as("pb"))
      .agg(count(lit(1)).as("n"))

  private def assertSameMultiset(df: DataFrame, label: String): Unit = {
    val j = joinPairs(df)
    val e = exprPairs(df)
    assert(j.count() == e.count(), s"$label: pair-group count drift")
    assert(j.exceptAll(e).isEmpty && e.exceptAll(j).isEmpty,
      s"$label: pair multiset drift")
  }

  test("pair multiset equals the self-join on a hostile fixture") {
    import spark.implicits._
    // Unsorted ids per key, singleton keys, shared members across keys,
    // negative ids, a key at the d17 df boundary.
    val df = Seq(
      (10L, 5L), (10L, 1L), (10L, 9L), (10L, 3L), // unsorted 4-list
      (11L, 42L),                                 // singleton: no pairs
      (12L, 9L), (12L, 5L),                       // shares ids with key 10
      (13L, -7L), (13L, 0L), (13L, 7L),           // negatives sort first
      (14L, 2L), (14L, 4L)
    ).toDF("key", "id")
    assertSameMultiset(df, "fixture")
  }

  test("pair multiset equals the self-join over the corpus shingle frame") {
    val df = TextOps.shingleHashSets(Tables.documents(spark, TestSpark.sf001))
      .select(col("doc_id").as("id"), explode(col("shs")).as("key"))
    assertSameMultiset(df, "sf0.001 shingles")
  }

  test("empty, null and single-element inputs yield no pairs; output is sorted a < b") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq.empty[Long])),
      (2L, None),
      (3L, Some(Seq(99L))),
      (4L, Some(Seq(3L, 1L, 2L)))
    ).toDF("id", "ids")
    val rows = df
      .select(col("id"),
        org.apache.spark.sql.graft.OrderedPairs.orderedPairsCol(col("ids")).as("p"))
      .collect()
    rows.foreach { r =>
      assert(!r.isNullAt(1), "ordered_pairs must be empty, not null")
    }
    val pairs = df.filter(col("id") === 4L)
      .select(inline(org.apache.spark.sql.graft.OrderedPairs.orderedPairsCol(col("ids"))))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    pairs.foreach { case (a, b) => assert(a < b) }
  }

  test("id lists past MaxIds fail loudly on the interpreted and the codegen path") {
    val expr = OrderedPairs(BoundReference(0, ArrayType(LongType), nullable = true))
    val codegen = GenerateUnsafeProjection.generate(Seq(expr))
    def ids(n: Int) = InternalRow(new GenericArrayData((0 until n).map(i => i.toLong: Any).toArray))
    val cap = OrderedPairs.MaxIds
    assert(cap >= 50, "the cap must admit the callers' maxDf = 50 lists")
    // At the cap: every pair, on both paths.
    val pairs = cap * (cap - 1) / 2
    assert(expr.eval(ids(cap)).asInstanceOf[GenericArrayData].numElements() == pairs)
    assert(codegen(ids(cap)).getArray(0).numElements() == pairs)
    // One past the cap: a named failure, not an overflow or an O(n²) array.
    val interpreted = intercept[IllegalArgumentException](expr.eval(ids(cap + 1)))
    assert(interpreted.getMessage.contains(s"cap of $cap"))
    val generated = intercept[IllegalArgumentException](codegen(ids(cap + 1)))
    assert(generated.getMessage.contains(s"cap of $cap"))
    assert(codegen.getClass.getName.contains("SpecificUnsafeProjection"))
  }
}
