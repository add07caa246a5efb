package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** t21's regex chain on a hostile hand fixture (the PiiSpec discipline) +
  * branch mass and no-residual-markup invariants on the injected corpus.
  */
class MarkupStripSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def strip(texts: Seq[String]): Seq[String] = {
    import spark.implicits._
    texts.toDF("html").select(T21MarkupStrip.stripCol(col("html")))
      .collect().map(_.getString(0)).toSeq
  }

  test("strip semantics on a hostile fixture: script CONTENT dies, text survives") {
    val got = strip(Seq(
      "<p>keep me</p>",
      // script body holds markup-looking content — removed WITH the block
      "before<script>var a = '<b>not text</b>';</script>after",
      // comment with tag-ish inside, entity decode, whitespace collapse
      "a  <!-- <secret> -->  b &amp; c",
      // unclosed script: the BLOCK rule cannot fire; the tag rule still
      // strips the opening tag and the body survives as text (documented
      // policy — a truncated crawl should not delete the rest of the doc)
      "x<script>tail",
      ""))
    assert(got(0) == "keep me")
    assert(got(1) == "before after")
    assert(got(2) == "a b & c")
    assert(got(3) == "x tail")
    assert(got(4) == "")
  }

  test("injected corpus: every branch has mass, and no markup survives the strip (sf0.001)") {
    val rows = T21MarkupStrip.run(spark, TestSpark.sf0001).collect()
    assert(rows.length == 500)
    val scripts = rows.map(_.getInt(2))
    assert(scripts.count(_ == 1) > 0 && scripts.count(_ == 0) > 0 && scripts.forall(_ <= 1))
    rows.foreach { r =>
      assert(r.getInt(4) < r.getInt(1), s"doc ${r.getLong(0)}: strip removed nothing")
    }
  }

  test("no tag or script body survives the strip (sf0.001)") {
    val cleaned = graft.Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"),
        T21MarkupStrip.stripCol(T21MarkupStrip.htmlCol(col("doc_id"), col("text"))))
      .collect()
    assert(cleaned.nonEmpty)
    cleaned.foreach { r =>
      val clean = r.getString(1)
      assert(!clean.contains("<") && !clean.contains(">"), s"residual tag in doc ${r.getLong(0)}")
      assert(!clean.contains("var x="), s"script body leaked in doc ${r.getLong(0)}")
    }
  }

  test("t21 plan is a join-free, shuffle-free projection") {
    val p = T21MarkupStrip.run(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"), s"t21 plan:\n$p")
  }
}
