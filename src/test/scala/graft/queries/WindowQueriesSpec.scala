package graft.queries

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** w2 and w9 against a plain-Scala replay of each user's sorted event
  * seconds: w2's session split at > 30-minute gaps, and w9's power-of-two
  * histogram of the gaps between consecutive events.
  */
class WindowQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def secsByUser(): Map[Long, Seq[Long]] =
    Tables.events(spark, TestSpark.sf0001).select(col("user_id"), col("ts"))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getTimestamp(1).getTime / 1000).toSeq.sorted).toMap

  test("w2 == plain-Scala gap-rule replay per user (sf0.001)") {
    val gapSec = 1800L
    val want = secsByUser().map { case (uid, secs) =>
      val sessions = 1L + secs.zip(secs.tail).count { case (a, b) => b - a > gapSec }
      uid -> ((sessions, secs.length.toLong))
    }
    val got = W2Sessions.run(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.nonEmpty && got == want)
  }

  test("w9 == plain-Scala gap histogram replay (sf0.001)") {
    val gaps = secsByUser().values.toSeq.flatMap(s => s.zip(s.tail).map { case (a, b) => b - a })
    // Capped at 2^30 like the engine's CASE chain (the top bucket is
    // open-ended).
    def bucketLo(gap: Long): Long =
      if (gap <= 0) 0L else math.min(java.lang.Long.highestOneBit(gap), 1L << 30)
    def round6(x: Double): Double = BigDecimal(x).setScale(6, RoundingMode.HALF_UP).toDouble
    val want = gaps.groupBy(bucketLo).map { case (lo, g) =>
      (lo, g.length.toLong, round6(g.sum.toDouble / g.length), round6(g.length.toDouble / gaps.length))
    }.toSeq.sortBy(_._1)
    val got = W9InterArrival.run(spark, TestSpark.sf0001)
      .select(col("gap_lo"), col("n"), col("avg_gap_s"), col("share"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq.sortBy(_._1)
    assert(gaps.nonEmpty && got == want, s"\n  got  $got\n  want $want")
  }
}
