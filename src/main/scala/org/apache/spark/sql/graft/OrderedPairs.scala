package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StructField, StructType}

/** Native Catalyst expression for the dedup pair generators (d17/d20): all
  * unordered pairs of a long-id list as `array<struct<a,b>>` with a < b —
  * the per-key pair enumeration of the `inf ⨝ inf ON a.sh = b.sh AND
  * a.doc_id < b.doc_id` self-join, computed from ONE grouped id list
  * instead of joining the exploded frame against itself.
  *
  * Why it exists (optimization round 16, guide §2.4 "remove shuffles
  * outright" + §4.1): the df-capped containment/winnow pair stages shuffled
  * the (doc_id, key) frame TWICE (both self-join sides) plus once more for
  * the df counts; grouping each key's ids once and exploding this
  * expression's output through the codegen'd `inline` generator produces
  * the identical pair multiset with a SINGLE shuffle of the frame. A
  * round-15 attempt built the pairs with higher-order functions and lost —
  * HOFs drop out of whole-stage codegen — which is exactly what this native
  * expression fixes (the VERDICT r15 queue item 1).
  *
  * Value contract: ids are SORTED ascending inside the expression (grouped
  * collect_list order is nondeterministic, pair canonicalization must not
  * be), then every (ids(i), ids(j)) with i < j is emitted once. For the
  * distinct id lists these stages feed (each (doc, key) appears once), the
  * result is exactly the self-join's pair multiset per key. Duplicate ids
  * in the input would emit (x, x) pairs with a == b — callers guarantee
  * distinctness, matching the join's `a.doc_id < b.doc_id` semantics.
  *
  * Null/short-input semantics: null input or fewer than 2 ids yields an
  * EMPTY array, never null — a key held by one document pairs with nothing,
  * exactly as the self-join drops it.
  * Lists over [[OrderedPairs.MaxIds]] ids (callers cap at maxDf = 50) fail
  * the task: n(n−1)/2 rows per input row would overflow Int past n = 46 341.
  */
case class OrderedPairs(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = OrderedPairs.outType
  override def prettyName: String = "ordered_pairs"
  // Null input maps to an empty array (see scaladoc) — never null out.
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) OrderedPairs.empty
    else OrderedPairs.compute(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val cls = "org.apache.spark.sql.graft.OrderedPairs"
    val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(
      code = code"""
        |${c.code}
        |$ad ${ev.value} = ${c.isNull}
        |  ? $cls.empty()
        |  : $cls.compute(${c.value});
      """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object OrderedPairs {
  val outType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)

  /** Longest id list [[compute]] accepts: 523 776 pairs at most. */
  val MaxIds = 1024

  private val emptyArr: ArrayData = new GenericArrayData(Array.empty[Any])
  def empty(): ArrayData = emptyArr

  def compute(in: ArrayData): ArrayData = {
    val n = in.numElements()
    require(n <= MaxIds,
      s"ordered_pairs: $n ids exceed the cap of $MaxIds (${n.toLong * (n - 1) / 2} pairs)")
    if (n < 2) return emptyArr
    val ids = in.toLongArray()
    java.util.Arrays.sort(ids)
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n - 1) {
      val a = ids(i)
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](a, ids(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def orderedPairsCol(ids: Column): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(
      OrderedPairs(org.apache.spark.sql.classic.ExpressionUtils.expression(ids)))
}
