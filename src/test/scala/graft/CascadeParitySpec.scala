package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.exprs
import graft.operators.{Cascade, DeterministicStub, LlmMatch}
import graft.pipeline.Pipeline

/** `Pipeline.matchEntities` runs fuzzy matching and adjudication as one
  * blocked pass. This spec composes the staged cascade from the remaining
  * primitives (rule → residue → fuzzy → residue → LLM → union) and asserts
  * both give the same dwh rows, on a seeded corpus shaped like the
  * benchmark's ER frames plus the edge rows where the two could part. */
class CascadeParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private val words = for (o <- Seq("B", "D", "G", "K", "M", "P", "S", "T",
    "Br", "St"); v <- Seq("a", "e", "i", "o", "u"); c <- Seq("l", "n", "x"))
    yield o + v + c
  private val suffixes = Seq("Proprietary Limited" -> "Pty Ltd",
    "Holdings" -> "Hldgs", "Services" -> "Svcs", "Group" -> "Grp")

  private type AbrRow = (String, String, String, String, String)
  private type CrawlRow = (String, String, String, String)

  /** Per postcode block: 30 registry rows, and 20 crawl rows planted as
    * exact-ABN copies, dropped-word variants, abbreviated-suffix variants
    * and non-matches; then the edge rows. */
  private lazy val corpus: (Seq[AbrRow], Seq[CrawlRow]) = {
    val rng = new scala.util.Random(7)
    var serial = 0L
    def nextAbn(): String = { serial += 1; "%011d".format(51000000000L + serial * 7919) }
    val abr = Seq.newBuilder[AbrRow]
    val crawl = Seq.newBuilder[CrawlRow]
    for (b <- 0 until 6) {
      val pc = (3000 + b).toString
      val block = (0 until 30).map { _ =>
        val w = Seq.fill(3)(words(rng.nextInt(words.size)))
        (nextAbn(), w, suffixes(rng.nextInt(suffixes.size)))
      }
      block.foreach { case (abn, w, sfx) =>
        abr += ((abn, (w :+ sfx._1).mkString(" ").toUpperCase,
          "Australian Private Company", "VIC", pc))
      }
      val picks = rng.shuffle(block.indices.toList)
      val kinds = Seq.fill(8)("exact") ++ Seq.fill(5)("drop") ++
        Seq.fill(3)("abbr")
      kinds.zip(picks).zipWithIndex.foreach { case ((kind, i), j) =>
        val (abn, w, sfx) = block(i)
        val (name, crawlAbn) = kind match {
          case "exact" => ((w :+ sfx._1).mkString(" "), abn)
          case "drop" =>
            val d = rng.nextInt(3)
            ((w.patch(d, Nil, 1) :+ sfx._1).mkString(" "), null)
          case _ => ((w :+ sfx._2).mkString(" "), null)
        }
        crawl += ((s"${w(0)}${w(1)}-$b-$j.com.au".toLowerCase,
          if (rng.nextBoolean()) name + "." else name, crawlAbn, pc))
      }
      (0 until 4).foreach { j =>
        val w = Seq.fill(2)(words(rng.nextInt(words.size)))
        crawl += ((s"${w(0)}${w(1)}-$b-n$j.net".toLowerCase,
          w.mkString(" ") + " Studio", if (j % 2 == 0) "12 345" else null, pc))
      }
    }
    // one domain, two names in two blocks, neither fuzzy-accepted: each
    // name's pick joins back to both of the domain's rows
    abr += (("61000000001", "QUORRA VANTEX PROPRIETARY LIMITED", "Trust", "VIC", "3000"))
    abr += (("61000000002", "ZEPHIL MORDANT PROPRIETARY LIMITED", "Trust", "VIC", "3001"))
    crawl += (("twoblock.com.au", "Quorra Vantex Pty Ltd", null, "3000"))
    crawl += (("twoblock.com.au", "Zephil Mordant Pty Ltd", null, "3001"))
    // one domain, two names in two blocks, one fuzzy-accepted: the argmax
    // spans both rows and the whole domain leaves the adjudication
    abr += (("61000000003", "CALDERO PINNACE TRADING", "Trust", "VIC", "3002"))
    crawl += (("twoblock-fuzzy.com.au", "Caldero Pinnace Trading Co", null,
      "3002"))
    crawl += (("twoblock-fuzzy.com.au", "Unrelated Name Here", null, "3003"))
    // null postcodes: no block, so only the rule stage can match them
    abr += (("61000000004", "NOPOST ANCHOR GROUP", "Trust", "VIC", null))
    crawl += (("nopost-rule.com.au", "Nopost Anchor Group", "61000000004", null))
    crawl += (("nopost.com.au", "Caldero Pinnace Trading", null, null))
    // null company names, on both sides
    abr += (("61000000005", null, "Trust", "VIC", "3004"))
    crawl += (("noname.com.au", null, null, "3004"))
    // two registry rows tied on score: the lower ABN wins the argmax
    abr += (("61000000007", "TIED BRAMBLE LOGISTICS", "Trust", "VIC", "3005"))
    abr += (("61000000006", "TIED BRAMBLE LOGISTICS", "Trust", "NSW", "3005"))
    crawl += (("tied.com.au", "Tied Bramble Logistics Co", null, "3005"))
    // a picked ABN registered in two blocks: it joins back to both
    // registry rows, and the crawl row's block is kept
    abr += (("61000000008", "OSPREY KELLAND PROPRIETARY LIMITED", "Trust", "VIC", "3004"))
    abr += (("61000000008", "OSPREY KELLAND PROPRIETARY LIMITED", "Trust", "NSW", "3005"))
    crawl += (("twopost.com.au", "Osprey Kelland Pty Ltd", null, "3004"))
    // a hot block past the candidate cap: the true match sorts last by ABN
    (0 until 300).foreach { i =>
      abr += (("%011d".format(70000000000L + i), s"FILLER ${words(i % words.size)}" +
        s" ${words((i * 7) % words.size)} SERVICES", "Trust", "VIC", "3999"))
    }
    abr += (("79999999999", "HOT GUM PROPRIETARY LIMITED", "Trust", "VIC", "3999"))
    crawl += (("hot.com.au", "Hot Gum Pty Ltd", null, "3999"))
    (abr.result(), crawl.result())
  }

  private lazy val cleaned: (DataFrame, DataFrame) = {
    import spark.implicits._
    val (abr, crawl) = corpus
    (Pipeline.cleanCrawl(crawl.toDF("domain", "company_name", "abn",
        "postcode")).cache(),
      Pipeline.cleanAbr(abr.toDF("abn", "entity_name", "entity_type", "state",
        "postcode")).cache())
  }

  private val cfg = Pipeline.Config(enableLlm = true,
    llmStrategy = new DeterministicStub())
  private val cols = Seq("crawl_domain", "crawl_company_name", "crawl_abn",
    "abr_abn", "abr_company_name", "abr_entity_type", "abr_state",
    "abr_postcode", "match_method", "match_score", "match_confidence")

  /** The cascade as separate stages, each reading the one before. */
  private def staged(cleanedCrawl: DataFrame, cleanedAbr: DataFrame)
      : DataFrame = {
    val crawl = cleanedCrawl.select(col("domain").as("crawl_domain"),
      col("company_name").as("crawl_company_name"),
      col("abn").as("crawl_abn"), col("postcode").as("crawl_postcode"))
    val abr = cleanedAbr.select(col("abn").as("abr_abn"),
      col("entity_name").as("abr_company_name"),
      col("entity_type").as("abr_entity_type"), col("state").as("abr_state"),
      col("postcode").as("abr_postcode"))
    def blocked(df: DataFrame, postcode: String) =
      df.withColumnRenamed(postcode, "block").filter(col("block").isNotNull)
    def unblocked(df: DataFrame) = df
      .withColumn("crawl_postcode", col("block"))
      .withColumn("abr_postcode", col("block"))
      .drop("block")

    val rule = Cascade.ruleMatch(crawl.filter(col("crawl_abn").isNotNull),
      abr.filter(col("abr_abn").isNotNull), "crawl_abn", "abr_abn")
    val afterRule = Cascade.residue(crawl, rule, "crawl_domain",
      "crawl_domain")
    val fuzzy = unblocked(Cascade.fuzzyMatch(
      blocked(afterRule, "crawl_postcode"), blocked(abr, "abr_postcode"),
      "block",
      exprs.token_sort_ratio(col("crawl_company_name"),
        col("abr_company_name")),
      "crawl_domain", Seq("abr_abn"),
      Cascade.MatchConfig(cfg.fuzzyAcceptThreshold, cfg.fuzzyHighConfidence)))
    val afterFuzzy = Cascade.residue(afterRule, fuzzy, "crawl_domain",
      "crawl_domain")
    val llm = unblocked(LlmMatch(blocked(afterFuzzy, "crawl_postcode"),
      blocked(abr, "abr_postcode"), "block", "crawl_domain",
      "crawl_company_name", "abr_abn", "abr_company_name", cfg.llmStrategy,
      cfg.llmScore))
    Cascade.unionStages(Seq(rule, fuzzy, llm))
      .withColumn("match_score", col("match_score").cast("decimal(5,2)"))
  }

  private def dwhRows(df: DataFrame): Seq[Row] =
    df.select(cols.map(col): _*).collect().toSeq
  private def multiset(rows: Seq[Row]): Map[Seq[Any], Int] =
    rows.groupBy(_.toSeq).map { case (k, v) => k -> v.size }

  private lazy val fusedDf: DataFrame = {
    val (c, a) = cleaned
    Pipeline.matchEntities(spark, c, a, cfg)
  }
  private lazy val fused: Seq[Row] = dwhRows(fusedDf)

  test("the fused pass equals the staged cascade as a row multiset") {
    val stagedDf = staged(cleaned._1, cleaned._2)
    assert(fusedDf.drop("created_at", "creation_dt").schema ==
      stagedDf.select(cols.map(col): _*).schema)
    assert(multiset(fused) == multiset(dwhRows(stagedDf)))
    // every stage is exercised
    assert(fused.map(_.getAs[String]("match_method")).toSet ==
      Set("rule_based_abn", "fuzzy", "LLM"))
  }

  test("edge rows keep the staged cascade's quirks") {
    def rows(domain: String) =
      fused.filter(_.getAs[String]("crawl_domain") == domain)
    def pairs(domain: String) = rows(domain).map(r =>
      (r.getAs[String]("crawl_company_name"), r.getAs[String]("abr_abn"),
        r.getAs[String]("abr_postcode"), r.getAs[String]("match_method")))
      .toSet
    // each of the two picks joins back to both rows of the domain
    assert(rows("twoblock.com.au").size == 4)
    assert(pairs("twoblock.com.au").map(p => (p._2, p._4)) ==
      Set(("61000000001", "LLM"), ("61000000002", "LLM")))
    // the accepted row decides the whole domain; no adjudication
    assert(pairs("twoblock-fuzzy.com.au") == Set(("Caldero Pinnace Trading Co",
      "61000000003", "3002", "fuzzy")))
    assert(pairs("nopost-rule.com.au").map(_._4) == Set("rule_based_abn"))
    assert(rows("nopost.com.au").isEmpty)
    assert(rows("noname.com.au").isEmpty)
    assert(pairs("tied.com.au").map(p => (p._2, p._4)) ==
      Set(("61000000006", "fuzzy")))
    // one row per registry row of the picked ABN, both in the crawl block
    assert(rows("twopost.com.au").size == 2)
    assert(pairs("twopost.com.au").map(p => (p._2, p._3)) ==
      Set(("61000000008", "3004")))
    assert(rows("twopost.com.au").map(_.getAs[String]("abr_state")).toSet ==
      Set("VIC", "NSW"))
    // the true match is past the cap, so it is never offered
    assert(!rows("hot.com.au").exists(_.getAs[String]("abr_abn") ==
      "79999999999"))
  }
}
