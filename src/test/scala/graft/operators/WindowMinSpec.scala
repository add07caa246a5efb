package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.queries.Winnowing

/** Round-16 optimization pin: the native monotonic-deque
  * [[org.apache.spark.sql.graft.WindowMin]] expression must be
  * BIT-IDENTICAL to the per-window `array_min(slice(...))` combinator form
  * it replaced in the winnowing family — same minima at every window
  * position, same empty-array contract for short/null inputs — so
  * t29/d20/d21 are unchanged by construction.
  */
class WindowMinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The pre-round-16 combinator form (the exact expression
    * Winnowing.minimaOn used), over a bound array column.
    */
  private def composed(a: Column, w: Int): Column =
    flatten(transform(array(a), v =>
      when(size(v) >= w,
        transform(sequence(lit(w), size(v)), p =>
          array_min(slice(v, p - (w - 1), lit(w)))))
        .otherwise(array().cast("array<bigint>"))))

  test("native equals the array_min(slice) form over the corpus gram hashes (w=5 and w=2)") {
    val gh = TextOps.gramHashes(TextOps.tokenHashes(TextOps.tokens(col("text"))), Winnowing.k)
    for (w <- Seq(2, Winnowing.w)) {
      val bad = Tables.documents(spark, TestSpark.sf001)
        .select(gh.as("gh"))
        .select(
          org.apache.spark.sql.graft.WindowMin.windowMinCol(col("gh"), w).as("native"),
          composed(col("gh"), w).as("composed"))
        .filter(not(col("native") <=> col("composed")))
        .count()
      assert(bad == 0L, s"window-min drift at w=$w")
    }
  }

  test("short and null inputs yield the empty array, matching the composed contract") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(1L, 2L, 3L))),   // shorter than w
      (2L, Some(Seq.empty[Long])),   // empty
      (3L, None)                     // null array
    ).toDF("id", "a")
    val rows = df.select(
      org.apache.spark.sql.graft.WindowMin.windowMinCol(col("a"), 5).as("native"),
      composed(col("a"), 5).as("composed")).collect()
    rows.foreach { r =>
      assert(!r.isNullAt(0), "native must be empty, not null")
      assert(r.getSeq[Long](0).isEmpty)
      assert(!r.isNullAt(1) && r.getSeq[Long](1).isEmpty)
    }
  }

  test("hostile shapes: duplicates, ascending/descending runs, exact-w, extremes") {
    import spark.implicits._
    val cases = Seq(
      Seq(5L, 5L, 5L, 5L, 5L),                        // all-equal (tie handling)
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L),                // ascending (head never evicted)
      Seq(7L, 6L, 5L, 4L, 3L, 2L, 1L),                // descending (evict every step)
      Seq(3L, 1L, 3L, 1L, 3L, 1L, 3L),                // alternating duplicates
      Seq(Long.MaxValue, Long.MinValue, 0L, Long.MaxValue, Long.MinValue, 7L),
      Seq(9L, 2L, 9L, 9L, 2L, 9L, 2L, 2L, 9L, 9L, 9L, 2L))
    val df = cases.zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("id", "a")
    for (w <- Seq(1, 2, 3, 5)) {
      val bad = df.select(
        org.apache.spark.sql.graft.WindowMin.windowMinCol(col("a"), w).as("native"),
        composed(col("a"), w).as("composed"))
        .filter(not(col("native") <=> col("composed")))
        .count()
      assert(bad == 0L, s"window-min drift at w=$w on hostile fixtures")
    }
  }
}
