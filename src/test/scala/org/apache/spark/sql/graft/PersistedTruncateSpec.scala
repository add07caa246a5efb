package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The partitioning claim `PersistedTruncate.truncate` puts on its leaf. */
class PersistedTruncateSpec extends AnyFunSuite {
  private val node = AttributeReference("node", LongType)()
  private val label = AttributeReference("label", LongType)()
  // Same name and type, different exprId: an attribute the output does not hold.
  private val foreign = AttributeReference("node", LongType)()

  test("a claim over output attributes is kept as is") {
    val hash = HashPartitioning(Seq(node), 4)
    val order = Seq(SortOrder(node, Ascending))
    assert(PersistedTruncate.claim(hash, order, Seq(node, label)) == ((hash, order)))
  }

  test("a claim naming a foreign attribute falls back to UnknownPartitioning, no ordering") {
    val output = Seq(node, label)
    assert(PersistedTruncate.claim(HashPartitioning(Seq(foreign), 4), Nil, output) ==
      ((UnknownPartitioning(4), Nil)))
    assert(PersistedTruncate.claim(
      HashPartitioning(Seq(node), 4), Seq(SortOrder(foreign, Ascending)), output) ==
      ((UnknownPartitioning(4), Nil)))
  }
}
