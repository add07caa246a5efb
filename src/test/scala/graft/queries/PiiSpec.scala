package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** PII family (t20 scan / p8 redaction): the regex layer is the part the
  * DuckDB hash gate exercises only on the injected corpus, so these tests
  * drive it with a hostile hand-built fixture — adjacent entities, entities
  * at string edges, digit runs and dotted numbers that must NOT match — and
  * pin the cross-query count identity plus branch coverage on the real
  * corpus fixture.
  */
class PiiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def scan(texts: Seq[String]) = {
    import spark.implicits._
    import PiiOps._
    texts.toDF("pii_text").select(
      col("pii_text"),
      size(regexp_extract_all(col("pii_text"), lit(emailRe), lit(0))).as("e"),
      size(regexp_extract_all(col("pii_text"), lit(phoneRe), lit(0))).as("p"),
      size(regexp_extract_all(col("pii_text"), lit(ipRe), lit(0))).as("i"),
      PiiOps.redactCol(col("pii_text")).as("red"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
  }

  test("patterns hit the intended entities and nothing else on a hostile fixture") {
    val rows = scan(Seq(
      // entity at start, middle, end
      "user1@src0.net calls 555-123-4567 from 10.0.0.1",
      // adjacent entities, single-space separated, mid-word splice context
      "filt user12@mail-src3.org admin9@x.de er window 555-000-1234",
      // things that must NOT match: bare digits, dotted version-ish pairs,
      // hyphen runs of the wrong arity, '@' with no domain dot
      "version 1.2 build 12345 dash 12-34-56 at bad@nodot end 1.2.3",
      // IPv4 inside prose, phone-like but 4-3-4 (no match), dotted quad
      "route 192.168.0.254 misdial 5551-123-4567x",
      ""))
    assert(rows(0)._2 == 1 && rows(0)._3 == 1 && rows(0)._4 == 1)
    assert(rows(0)._5 == "[EMAIL] calls [PHONE] from [IP]")
    assert(rows(1)._2 == 2 && rows(1)._3 == 1 && rows(1)._4 == 0)
    assert(rows(2)._2 == 0 && rows(2)._3 == 0 && rows(2)._4 == 0)
    assert(rows(2)._5 == rows(2)._1) // nothing redacted → text unchanged
    // "5551-123-4567": \b\d{3}- cannot start at '5' (5551- has 4 digits
    // before the hyphen), but CAN start inside the run at '551-123-4567'?
    // No — \b requires a word boundary and '5'→'5' is word-internal. So no
    // phone match; the dotted quad still matches.
    assert(rows(3)._2 == 0 && rows(3)._3 == 0 && rows(3)._4 == 1)
    assert(rows(4)._2 == 0 && rows(4)._3 == 0 && rows(4)._4 == 0)
  }

  test("redaction is idempotent and leaves no residual matches") {
    import PiiOps._
    val texts = Seq(
      "a user1@src0.net b 555-123-4567 c 10.20.30.40 d",
      "user1@src0.net user2@src1.net 1.1.1.1 2.2.2.2 555-111-2222")
    val once = scan(texts).map(_._5).toSeq
    val twice = scan(once).map(_._5).toSeq
    assert(once == twice)
    scan(once).foreach { case (_, e, p, i, _) => assert(e + p + i == 0) }
  }

  test("redaction leaves no residual entity on the injected corpus (sf0.001)") {
    import PiiOps._
    val redacted = graft.Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"),
        redactCol(piiTextCol(col("doc_id"), col("text"), col("source"))))
      .collect()
    assert(redacted.nonEmpty)
    redacted.foreach { r =>
      for (p <- Seq(emailRe, phoneRe, ipRe))
        assert(p.r.findFirstIn(r.getString(1)).isEmpty, s"residual match in doc ${r.getLong(0)}")
    }
  }

  test("t20 and p8 agree on counts and p8's length math is consistent (sf0.001)") {
    val t20 = T20PiiScan.run(spark, TestSpark.sf0001)
      .select("doc_id", "n_pii").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val p8 = P8PiiRedacted.run(spark, TestSpark.sf0001).collect()
    assert(p8.nonEmpty)
    p8.foreach { r =>
      val (id, n, lenRaw, lenRed) =
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))
      assert(t20(id) == n, s"doc $id: t20 count ${t20(id)} != p8 count $n")
      // placeholders are shorter than any entity they replace EXCEPT the
      // shortest ips/emails, so only sign-agnostic consistency is pinned:
      // zero redactions ⟺ zero length change.
      if (n == 0) assert(lenRaw == lenRed, s"doc $id: untouched doc changed length")
      else assert(lenRaw != lenRed || n > 0)
    }
  }

  test("pii_chars is the exact matched extent of the ORIGINAL text (sum of match lengths)") {
    // independent java.util.regex re-computation — pins the round-10
    // semantics change from delete-and-diff (which can synthesize extent by
    // juxtaposing characters around a deleted match) to sum-of-match-lengths
    // (which measures only spans present in the original text)
    import PiiOps._
    def extent(text: String): Int =
      Seq(emailRe, phoneRe, ipRe).map { re =>
        val m = java.util.regex.Pattern.compile(re).matcher(text)
        var s = 0
        while (m.find()) s += m.end() - m.start()
        s
      }.sum
    val d = graft.Tables.documents(spark, TestSpark.sf0001)
    val piiTexts = d.select(col("doc_id"),
      piiTextCol(col("doc_id"), col("text"), col("source")).as("pii_text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val t20 = T20PiiScan.run(spark, TestSpark.sf0001)
      .select("doc_id", "pii_chars").collect().map(r => r.getLong(0) -> r.getInt(1))
    t20.foreach { case (id, chars) =>
      assert(chars == extent(piiTexts(id)), s"doc $id extent mismatch")
    }
    assert(t20.exists(_._2 > 0))
  }

  test("the three pattern types' match spans are pairwise disjoint on the fixture") {
    // pii_chars' sum-of-match-lengths semantics rests on the claim that the
    // email/phone/IP patterns never overlap; an overlap would double-count
    // extent IDENTICALLY on both engines, so the hash gate can't catch it —
    // only this recomputation can. Spans are pinned over the real sf0.001
    // fixture AND the hostile hand-built strings.
    import PiiOps._
    def spans(re: String, text: String): Seq[(Int, Int)] = {
      val m = java.util.regex.Pattern.compile(re).matcher(text)
      val out = Seq.newBuilder[(Int, Int)]
      while (m.find()) out += ((m.start(), m.end()))
      out.result()
    }
    def assertDisjoint(text: String): Unit = {
      val byType = Seq("email" -> emailRe, "phone" -> phoneRe, "ip" -> ipRe)
        .map { case (t, re) => t -> spans(re, text) }
      for {
        ((ta, sa), i) <- byType.zipWithIndex
        (tb, sb) <- byType.drop(i + 1)
        (a1, a2) <- sa
        (b1, b2) <- sb
      } assert(a2 <= b1 || b2 <= a1,
        s"$ta span [$a1,$a2) overlaps $tb span [$b1,$b2) in: $text")
    }
    val d = graft.Tables.documents(spark, TestSpark.sf0001)
    val piiTexts = d.select(
      piiTextCol(col("doc_id"), col("text"), col("source")).as("pii_text"))
      .collect().map(_.getString(0))
    assert(piiTexts.nonEmpty)
    piiTexts.foreach(assertDisjoint)
    // hostile: entities butted against each other and digit runs that could
    // seed a cross-type overlap if the \b anchors were wrong
    Seq(
      "user1@src0.net555-123-4567 10.0.0.1",
      "a@b.co 1.2.3.4 555-111-2222 x@y.org",
      "555-123-4567.1.2.3.4",
      "ip10.0.0.1@host.net 999-999-9999"
    ).foreach(assertDisjoint)
  }

  test("every injection branch has mass at sf0.001 (0/1/2 emails, ±phone, ±ip)") {
    val t20 = T20PiiScan.run(spark, TestSpark.sf0001)
      .select("n_emails", "n_phones", "n_ips").collect()
    def emails(n: Int) = t20.count(_.getInt(0) == n)
    assert(emails(0) > 0 && emails(1) > 0 && emails(2) > 0)
    assert(t20.count(_.getInt(1) == 0) > 0 && t20.count(_.getInt(1) == 1) > 0)
    assert(t20.count(_.getInt(2) == 0) > 0 && t20.count(_.getInt(2) == 1) > 0)
    // and the injected fixture never self-collides: no doc exceeds the
    // construction maxima (2 emails, 1 phone, 1 ip)
    assert(t20.forall(r => r.getInt(0) <= 2 && r.getInt(1) <= 1 && r.getInt(2) <= 1))
  }

  test("t20/p8 plans are join-free, shuffle-free projections") {
    for (q <- Seq(T20PiiScan, P8PiiRedacted)) {
      val plan = q.run(spark, TestSpark.sf0001).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"${q.name} plan shuffles:\n$plan")
      assert(!plan.contains("Join"), s"${q.name} plan joins:\n$plan")
    }
  }
}
