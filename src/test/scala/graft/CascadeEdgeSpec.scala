package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Cascade, DeterministicStub, LlmMatch, MatchStrategy}

/** Cascade edge paths: adjudicator abstention, empty inputs, and blocks
  * with no counterpart. */
class CascadeEdgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("an always-abstaining strategy produces zero LLM matches") {
    import spark.implicits._
    val left = Seq(("d1.com.au", "Acme Mining", "2000"))
      .toDF("domain", "name", "block")
    val right = Seq(("51824753556", "Acme Mining Pty Ltd", "2000"))
      .toDF("abn", "rname", "block")
    val abstain = new MatchStrategy {
      override def adjudicate(n: String, cands: Seq[(String, String)]) = None
    }
    val got = LlmMatch(left, right, "block", "domain", "name",
      "abn", "rname", abstain)
    assert(got.count() == 0)
    // and the stub with an impossible floor behaves the same
    val neverFloor = LlmMatch(left, right, "block", "domain", "name",
      "abn", "rname", new DeterministicStub(floor = 101.0))
    assert(neverFloor.count() == 0)
  }

  test("empty right side flows through the whole cascade without error") {
    import spark.implicits._
    val left = Seq((1L, "Acme", 7L)).toDF("crawl_id", "crawl_name", "block")
    val right = Seq.empty[(Long, String, Long)]
      .toDF("abr_id", "abr_name", "block")
    val rule = Cascade.ruleMatch(
      left.select("crawl_id", "crawl_name"),
      right.select("abr_id", "abr_name"), "crawl_id", "abr_id")
    assert(rule.count() == 0)
    val residue = Cascade.residue(left, rule, "crawl_id", "crawl_id")
    assert(residue.count() == 1) // nothing matched, everything remains
    val fuzzy = Cascade.fuzzyMatch(residue, right, "block",
      lit(100.0), "crawl_id", Seq("abr_id"))
    assert(fuzzy.count() == 0)
    assert(Cascade.unionStages(Seq(rule, fuzzy)).count() == 0)
  }

  test("left rows whose block has no right-side counterpart are silently " +
      "skipped (inner blocking semantics, SURVEY §2.4 J4 fine print)") {
    import spark.implicits._
    val left = Seq((1L, "Acme", 7L), (2L, "Wattle", 8L))
      .toDF("crawl_id", "crawl_name", "block")
    val right = Seq((10L, "Acme Co", 7L)).toDF("abr_id", "abr_name", "block")
    val fuzzy = Cascade.fuzzyMatch(left, right, "block",
      lit(90.0), "crawl_id", Seq("abr_id"))
    val ids = fuzzy.select("crawl_id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L)) // block 8 has no candidates → row absent
  }
}
