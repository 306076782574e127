package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's three-stage entity-match cascade
  * (/root/reference/transform/entity_matching.py, SURVEY.md §2.4/§3.3),
  * re-expressed as one lazy Spark DAG. The pipeline
  * ([[graft.pipeline.Pipeline.matchEntities]]) runs fuzzy matching and
  * adjudication as ONE blocked pass:
  *
  *   ruleMatch (J1 exact-key join) → residue (J3 anti-join)
  *   → blocked similarity join (J2/J4, each pair scored once)
  *   → groupBy(left key): fuzzy argmax ([[argmaxOrder]]) + capped
  *     candidate list
  *       ├─ accepted argmax → fuzzy matches
  *       └─ no accepted pair → LlmMatch.adjudicate (J5, pluggable
  *          strategy) → LlmMatch.joinPicks
  *   → unionByName (U1).
  *
  * The primitives here also compose the staged form, rule → residue →
  * [[fuzzyMatch]] → residue → LlmMatch → union, with the same result
  * (CascadeParitySpec); the catalog queries use it.
  *
  * Scale notes (100 TB design):
  *   - The blocked fuzzy join is a plain equi-join on the blocking key, so
  *     it hash-partitions across executors; AQE splits skewed blocks
  *     (metro postcodes). Similarity scoring is a codegen'd expression
  *     ([[graft.functions.TokenSortRatio]]), so the O(block²) inner scoring
  *     loop stays inside whole-stage codegen.
  *   - The argmax is a `min_by` partial aggregation (map-side combine) —
  *     no driver-side loops; the reference's 50k-row chunk pagination
  *     (entity_matching.py:95-110) is deliberately dropped: Spark computes
  *     the global argmax in one distributed pass (SURVEY.md §2.4 fine print).
  *   - A deterministic tie-break (score desc, right key asc) replaces the
  *     reference's scan-order-dependent `extractOne` tie-break.
  */
object Cascade {

  /** Config mirroring the reference's thresholds
    * (entity_matching.py:137,155,168,231,248-249). */
  final case class MatchConfig(
      fuzzyAcceptThreshold: Double = 80.0,
      fuzzyHighConfidence: Double = 92.0,
      llmScore: Double = 95.0,
      enableLlm: Boolean = false)

  /** J1 — rule-based exact-key inner join + DISTINCT + literal match
    * metadata (entity_matching.py:113-135). Keys are trimmed at clean time,
    * so a plain equi-join (broadcast-able when one side is small). */
  def ruleMatch(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String): DataFrame = {
    left.join(right, left(leftKey) === right(rightKey), "inner")
      .distinct()
      .withColumn("match_method", lit("rule_based_abn"))
      .withColumn("match_score", lit(100.0))
      .withColumn("match_confidence", lit("high"))
  }

  /** J3 — cascade residue: left rows whose `key` matched nothing yet
    * (entity_matching.py:172-173,256-257,272-273). */
  def residue(left: DataFrame, matched: DataFrame, leftKey: String,
      matchedKey: String): DataFrame =
    left.join(matched.select(col(matchedKey).as(leftKey)).distinct(),
      Seq(leftKey), "left_anti")

  /** J2 + J4 — blocked fuzzy similarity join with per-left-row argmax.
    *
    * @param blockKey   equi-join blocking column present on both sides
    *                   (postcode in the reference); turns O(N·M) scoring
    *                   into per-block products, hash-partitioned.
    * @param score      similarity expression over the JOINED output's
    *                   column names (left/right column names must not
    *                   collide apart from blockKey), scale 0..100.
    * @param leftId     unique left-row id for the argmax window.
    * @param tieBreak   deterministic tie-break columns (right-side key asc).
    * @param saltBlocks when > 1, the blocking equi-join is salted: the
    *                   left side gets a deterministic per-row salt and the
    *                   right side is replicated per salt value, spreading
    *                   a hot block (metro postcodes) over `saltBlocks`
    *                   tasks. Result-identical to the unsalted join; use
    *                   when AQE skew splitting isn't enough because one
    *                   block exceeds a single task's memory. */
  def fuzzyMatch(
      left: DataFrame, right: DataFrame, blockKey: String,
      score: Column,
      leftId: String, tieBreak: Seq[String],
      cfg: MatchConfig = MatchConfig(),
      saltBlocks: Int = 1): DataFrame = {
    // J2: restrict the (large) right side to blocks that exist on the left —
    // the reference's `postcode IN (SELECT DISTINCT postcode …)` semi-join
    // (entity_matching.py:100-103).
    val blocked = right.join(
      left.select(blockKey).distinct(), Seq(blockKey), "left_semi")
    val joined =
      if (saltBlocks <= 1) left.join(blocked, Seq(blockKey), "inner")
      else {
        val saltedLeft = left.withColumn("__salt",
          pmod(xxhash64(col(leftId)), lit(saltBlocks.toLong)).cast("int"))
        val replicated = blocked.withColumn("__salt",
          explode(array((0 until saltBlocks).map(i => lit(i)): _*)))
        saltedLeft.join(replicated, Seq(blockKey, "__salt"), "inner")
          .drop("__salt")
      }
    val scored = joined
      .withColumn("match_score", score)
      .filter(col("match_score") >= cfg.fuzzyAcceptThreshold)
    // per-left-row argmax as a partial-aggregating min_by (map-side
    // combine, no sort shuffle — cheaper than window row_number at scale);
    // ordering key (-score, tieBreak...) == (score desc, tieBreak asc)
    val others = scored.columns.filter(_ != leftId).toSeq
    scored
      .groupBy(col(leftId))
      .agg(min_by(struct(others.map(col): _*),
        argmaxOrder(col("match_score"), tieBreak)).as("__best"))
      .select(col(leftId) +: others.map(c => col(s"__best.`$c`").as(c)): _*)
      .withColumn("match_method", lit("fuzzy"))
      .withColumn("match_confidence", fuzzyConfidence(cfg.fuzzyHighConfidence))
  }

  /** The argmax ordering of the fuzzy stage: `min_by` over this key picks
    * the highest score, ties broken by the `tieBreak` columns ascending. */
  def argmaxOrder(score: Column, tieBreak: Seq[String]): Column =
    struct((negate(score) +: tieBreak.map(col)): _*)

  /** Confidence label of an accepted fuzzy match, from its `match_score`. */
  def fuzzyConfidence(highConfidence: Double): Column =
    when(col("match_score") >= highConfidence, "high")
      .otherwise("medium")

  /** U1 — union stage outputs with differing column sets, null-padding
    * (entity_matching.py:297, :57-66). */
  def unionStages(stages: Seq[DataFrame]): DataFrame =
    stages.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Pair-level match-quality evaluation: the grading harness a matcher
    * needs alongside the cascade — confusion counts and P/R/F1 of a
    * predicted pair set against a gold pair set (the standard
    * entity-resolution holdout technique: treat the exact-key subset as
    * truth and grade the fuzzy stage against it, as q116 does).
    *
    * Both inputs are reduced to DISTINCT (left, right) pairs; one
    * full-outer equi-join on the pair partitions it into tp (both),
    * fp (predicted only), fn (gold only), and a single-row partial
    * aggregation reduces the counts. Each quality metric is ONE double
    * division of exact BIGINTs (f1 in the algebraically-equivalent
    * 2tp/(2tp+fp+fn) form), so every output — doubles included —
    * hash-matches an external oracle; empty denominators report 0.0.
    *
    * Scale shape: pair sets shuffle once on (left, right); the global
    * aggregate is a partial-combined count reduce — three BIGINTs per
    * task to the final reducer, no driver-side pair handling. */
  def evaluateMatches(predicted: DataFrame, gold: DataFrame,
      leftCol: String, rightCol: String): DataFrame = {
    val p = predicted.select(col(leftCol).as("l"), col(rightCol).as("r"))
      .distinct().withColumn("__p", lit(1L))
    val g = gold.select(col(leftCol).as("l"), col(rightCol).as("r"))
      .distinct().withColumn("__g", lit(1L))
    def ratio(num: Column, den: Column): Column =
      when(den === 0L, 0.0).otherwise(num.cast("double") / den)
    p.join(g, Seq("l", "r"), "full")
      .agg(
        coalesce(sum(when(col("__p").isNotNull && col("__g").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("tp"),
        coalesce(sum(when(col("__p").isNotNull && col("__g").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("fp"),
        coalesce(sum(when(col("__p").isNull, 1L).otherwise(0L)), lit(0L))
          .as("fn"))
      .select(col("tp"), col("fp"), col("fn"),
        ratio(col("tp"), col("tp") + col("fp")).as("precision"),
        ratio(col("tp"), col("tp") + col("fn")).as("recall"),
        ratio(col("tp") * 2L, col("tp") * 2L + col("fp") + col("fn"))
          .as("f1"))
  }
}
