package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{exprs, Cleaning}
import graft.operators.{Cascade, LlmMatch, MatchStrategy, DeterministicStub}

/** The callable, composable pipeline `run_pipeline.py` promised but never
  * implemented (/root/reference/run_pipeline.py:7-22 imports functions that
  * don't exist — SURVEY.md §3.4): stg → pre_dwh cleaning → three-stage
  * match cascade → dwh.dim_entity_match_company_data, as ONE lazy Spark
  * DAG with no driver round-trips.
  */
object Pipeline {

  final case class Config(
      fuzzyAcceptThreshold: Double = 80.0,
      fuzzyHighConfidence: Double = 92.0,
      llmScore: Double = 95.0,
      enableLlm: Boolean = false,   // mirrors entity_matching.py:303 default
      llmStrategy: MatchStrategy = new DeterministicStub())

  /** stg → pre_dwh for ABR rows: clean + standardize + dedup
    * (/root/reference/transform/data_cleaning.py:157-185). */
  def cleanAbr(stgAbr: DataFrame): DataFrame =
    stgAbr
      .withColumn("entity_name", Cleaning.cleanCompanyName(col("entity_name")))
      .withColumn("abn", Cleaning.cleanAbn(col("abn")))
      .withColumn("postcode", Cleaning.cleanPostcode(col("postcode")))
      .withColumn("state", Cleaning.standardizeState(col("state")))
      .dropDuplicates("abn", "entity_name", "state", "postcode") // A1

  /** stg → pre_dwh for crawl rows. */
  def cleanCrawl(stgCrawl: DataFrame): DataFrame =
    stgCrawl
      .withColumn("company_name", Cleaning.cleanCompanyName(col("company_name")))
      .withColumn("abn", Cleaning.cleanAbn(col("abn")))
      .withColumn("postcode", Cleaning.cleanPostcode(col("postcode")))
      .dropDuplicates("abn", "company_name", "postcode") // A1

  /** pre_dwh → dwh: the full match cascade (SURVEY.md §3.3) over cleaned
    * frames with the reference's column contract
    * (crawl: domain/company_name/abn/postcode,
    *  abr: abn/entity_name/entity_type/state/postcode).
    *
    * Fuzzy matching and adjudication share ONE blocked pass: the rule
    * residue is joined to ABR on the postcode block and scored once, and
    * one `groupBy(crawl_domain)` yields both the fuzzy argmax and the
    * capped candidate list that a domain with no accepted pair hands to
    * the strategy. The same result as the staged cascade
    * (rule → residue → fuzzy → residue → LLM), in fewer jobs. */
  def matchEntities(spark: SparkSession, cleanedCrawl: DataFrame,
      cleanedAbr: DataFrame, cfg: Config = Config()): DataFrame = {
    // The cleaned frames are the only pins. Every stage reads them, so
    // unpinned, the regex-heavy cleaning + dedup exchanges would re-run
    // in each branch of the final union; lazy localCheckpoints compute
    // each exactly once per action. Everything downstream is one lazy
    // query: pinning the rule or fuzzy stage, or running the strategy
    // through an RDD, executes stages while the plan is built and
    // multiplies jobs and codegen per shard.
    val crawl = cleanedCrawl.select(
      col("domain").as("crawl_domain"),
      col("company_name").as("crawl_company_name"),
      col("abn").as("crawl_abn"),
      col("postcode").as("crawl_postcode")).localCheckpoint(false)
    val abr = cleanedAbr.select(
      col("abn").as("abr_abn"),
      col("entity_name").as("abr_company_name"),
      col("entity_type").as("abr_entity_type"),
      col("state").as("abr_state"),
      col("postcode").as("abr_postcode")).localCheckpoint(false)

    // J1 — exact ABN equi-join (keys cleaned upstream, so plain ===)
    val rule = Cascade.ruleMatch(
      crawl.filter(col("crawl_abn").isNotNull),
      abr.filter(col("abr_abn").isNotNull), "crawl_abn", "abr_abn")

    // J3 — residue keyed on domain (entity_matching.py:172-173), blocked
    val left = Cascade.residue(crawl, rule, "crawl_domain", "crawl_domain")
      .withColumnRenamed("crawl_postcode", "block")
      .filter(col("block").isNotNull)
    val right = abr.withColumnRenamed("abr_postcode", "block")
      .filter(col("block").isNotNull)

    // J2+J4 — postcode-blocked token_sort_ratio scores, once per pair. Per
    // domain (across all of its rows): the fuzzy argmax over the accepted
    // pairs, and for J5 its first `LlmMatch.candidateCap` pairs by ABN
    // (capped per domain, before the split by company name)
    val pairCols = Seq("block", "crawl_company_name", "crawl_abn", "abr_abn",
      "abr_company_name", "abr_entity_type", "abr_state", "match_score")
    val best = min_by(struct(pairCols.map(col): _*),
      when(col("match_score") >= cfg.fuzzyAcceptThreshold,
        Cascade.argmaxOrder(col("match_score"), Seq("abr_abn")))).as("best")
    val cands = slice(array_sort(collect_list(struct(
        col("abr_abn").as("k"), col("abr_company_name").as("n"),
        col("crawl_company_name").as("name")))),
      1, LlmMatch.candidateCap).as("cands")
    val perDomain = left.join(right, Seq("block"), "inner")
      .withColumn("match_score", exprs.token_sort_ratio(
        col("crawl_company_name"), col("abr_company_name")))
      .groupBy(col("crawl_domain"))
      .agg(best, (if (cfg.enableLlm) Seq(cands) else Nil): _*)

    val fuzzy = perDomain.filter(col("best").isNotNull)
      .select(col("crawl_domain") +:
        pairCols.map(c => col(s"best.$c").as(c)): _*)
      .withColumn("match_method", lit("fuzzy"))
      .withColumn("match_confidence",
        Cascade.fuzzyConfidence(cfg.fuzzyHighConfidence))

    // J5 — optional external adjudication of the domains with no accepted
    // pair: one strategy call per (domain, company name) over that name's
    // candidates, the picked ABN joined back to the blocked ABR rows
    val llm =
      if (!cfg.enableLlm) None
      else Some {
        val perName = perDomain.filter(col("best").isNull)
          .select(col("crawl_domain"), col("cands"), explode(array_distinct(
            transform(col("cands"), _("name")))).as("crawl_company_name"))
          .select(col("crawl_domain"), col("crawl_company_name"),
            transform(
              filter(col("cands"), _("name") <=> col("crawl_company_name")),
              c => struct(c("k").as("k"), c("n").as("n"))).as("cands"))
        LlmMatch.joinPicks(left,
          LlmMatch.adjudicate(perName, cfg.llmStrategy), right.drop("block"),
          "crawl_domain", "abr_abn", cfg.llmScore)
      }

    // U1 + K4 — union stages, stamp load timestamps, project the dwh shape
    val blockedStages = (fuzzy +: llm.toSeq).map(_
      .withColumn("crawl_postcode", col("block"))
      .withColumn("abr_postcode", col("block"))
      .drop("block"))
    Cascade.unionStages(rule +: blockedStages)
      .withColumn("match_score",
        col("match_score").cast("decimal(5,2)")) // ddl_scripts.sql:87
      .withColumn("created_at", current_timestamp())
      .withColumn("creation_dt", current_timestamp())
      .select("crawl_domain", "crawl_company_name", "crawl_abn",
        "abr_abn", "abr_company_name", "abr_entity_type", "abr_state",
        "abr_postcode", "match_method", "match_score", "match_confidence",
        "created_at", "creation_dt")
  }

  /** Full run: raw stg frames in, dwh match table out. */
  def run(spark: SparkSession, stgAbr: DataFrame, stgCrawl: DataFrame,
      cfg: Config = Config()): DataFrame =
    matchEntities(spark, cleanCrawl(stgCrawl), cleanAbr(stgAbr), cfg)

  /** Attach per-stage match metrics via `Dataset.observe`: the counters
    * ride the job itself (no second pass over the data) and are readable
    * from the returned Observation after any action — the production
    * monitoring hook for the cascade (the reference only had progress
    * prints, e.g. entity_matching.py:269). */
  def withMatchMetrics(matches: DataFrame):
      (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("match_metrics")
    val observed = matches.observe(obs,
      count(lit(1)).as("n_matches"),
      sum(when(col("match_method") === "rule_based_abn", 1L).otherwise(0L))
        .as("n_rule"),
      sum(when(col("match_method") === "fuzzy", 1L).otherwise(0L))
        .as("n_fuzzy"),
      sum(when(col("match_method") === "LLM", 1L).otherwise(0L))
        .as("n_llm"),
      min(col("match_score")).as("min_score"))
    (observed, obs)
  }
}
