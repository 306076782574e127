package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** J5 — the reference's optional LLM adjudication stage
  * (/root/reference/transform/entity_matching.py:177-258): for each
  * still-unmatched left row, an external model picks the best candidate key
  * from the blocked right side, and the pick is realized as a plain
  * equi-join on the returned key (entity_matching.py:236-237).
  *
  * The external call is non-deterministic and side-effecting, so it lives
  * behind a strategy trait executed via `mapPartitions`-style batching —
  * never a Catalyst expression. The production default is a deterministic
  * stub (hermetic tests; mirrors the reference's `enable_llm=False` default,
  * entity_matching.py:303).
  */
trait MatchStrategy extends Serializable {
  /** Given (leftId, leftName, candidate right names-by-key), return the
    * chosen right key, or None to abstain. */
  def adjudicate(leftName: String, candidates: Seq[(String, String)]): Option[String]
}

/** Deterministic stub: picks the candidate with the highest token-sort
  * similarity if any scores above `floor`, else abstains. Stands in for the
  * GPT-4 adjudicator with reproducible behavior. */
final class DeterministicStub(floor: Double = 50.0) extends MatchStrategy {
  override def adjudicate(
      leftName: String, candidates: Seq[(String, String)]): Option[String] = {
    if (leftName == null || candidates.isEmpty) return None
    val best = candidates
      .map { case (k, n) =>
        (k, if (n == null) 0.0 else graft.functions.SimKernel.tokenSortRatio(leftName, n)) }
      .maxBy { case (k, s) => (s, k) }  // deterministic tie-break on key
    if (best._2 > floor) Some(best._1) else None
  }
}

object LlmMatch {
  /** Cap on one left row's candidates, taken by right-key order: an
    * external adjudicator's context window is finite. */
  val candidateCap = 256

  /** Run the adjudication stage: for each left row, gather the blocked
    * candidate list, call the strategy, then equi-join the picked key back
    * to the right side (the reference's post-LLM ABN lookup).
    *
    * Implementation is a blocked-join + `groupBy(leftId, leftName)`
    * candidate collection (distributed; candidate lists are capped), then
    * [[adjudicate]] and [[joinPicks]] — one lazy query, no RDD round trip.
    */
  def apply(
      left: DataFrame, right: DataFrame, blockKey: String,
      leftId: String, leftName: String,
      rightKey: String, rightName: String,
      strategy: MatchStrategy,
      llmScore: Double = 95.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // candidate lists are bounded (deterministically, by right key) BEFORE
    // collect_list: an unbounded hot block would otherwise balloon a row
    val w = Window.partitionBy(col(leftId)).orderBy(col(rightKey).asc)
    val candidates = left.select(col(leftId), col(leftName), col(blockKey))
      .join(right.select(col(rightKey), col(rightName), col(blockKey)),
        Seq(blockKey), "inner")
      .withColumn("__cand_rank", row_number().over(w))
      .filter(col("__cand_rank") <= candidateCap)
      .groupBy(col(leftId), col(leftName))
      .agg(collect_list(struct(col(rightKey).cast("string").as("k"),
        col(rightName).cast("string").as("n"))).as("cands"))

    // the reference's post-LLM lookup joins on the returned key alone
    // (entity_matching.py:236-237); the right side's copy of the blocking
    // column is redundant in the output. Dropped BEFORE the key join:
    // `right` already feeds the candidates, so `right(blockKey)` would be
    // an ambiguous reference after it.
    joinPicks(left, adjudicate(candidates, strategy), right.drop(blockKey),
      leftId, rightKey, llmScore)
  }

  /** The in-plan strategy step: rows of (left id, left name,
    * cands: array<struct<k: string, n: string>>) in, one
    * (`__left_id`, `__picked_key`) string row out per non-abstaining call.
    * A `Dataset.mapPartitions` inside the query — the external call stays
    * out of Catalyst expressions, and no RDD round trip runs at build
    * time. */
  def adjudicate(candidates: DataFrame, strategy: MatchStrategy): DataFrame =
    candidates.mapPartitions { it =>
      it.flatMap { row =>
        val id = Option(row.get(0)).map(_.toString).orNull
        val cands = row.getSeq[Row](2).map(r => (r.getString(0), r.getString(1)))
        strategy.adjudicate(row.getString(1), cands).map(k => (id, k))
      }
    }(Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .toDF("__left_id", "__picked_key")

  /** Realize picks as LLM-stage matches: each pick joins every left row
    * with its id, and every right row whose key is the picked key. */
  def joinPicks(left: DataFrame, picks: DataFrame, right: DataFrame,
      leftId: String, rightKey: String, llmScore: Double): DataFrame =
    left.join(picks,
        left(leftId).cast("string") === picks("__left_id"), "inner")
      .join(right,
        picks("__picked_key") === right(rightKey).cast("string"), "inner")
      .drop("__left_id", "__picked_key")
      .withColumn("match_method", lit("LLM"))
      .withColumn("match_score", lit(llmScore))
      .withColumn("match_confidence", lit("medium"))
}
