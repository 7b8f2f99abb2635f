package graft.builds

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Intervals

/** claim_bh — the behavioral-health condition-span build: one person-month
  * evidence frame carrying the diagnosis, pharmacy and procedure counts
  * side by side (the reference FULL OUTER joins three per-source frames
  * with coalesced keys, claim_bh.R:232-309), then per-person contiguous
  * evidence months collapsed to condition episodes with min/max dates and
  * per-source totals (claim_bh.R:193-202).
  *
  * A caller reading one claims table builds the frame with one
  * conditional aggregation per (id, month); a caller with three separate
  * source tables unions them by name (missing counts as 0) and sums them
  * in one groupBy. Either way there is no outer join.
  *
  * Scale: the frame is at person-month grain, so volume is bounded by
  * active person-months, not claims; the episode islands reuse one
  * (id)-partitioned window pass (arithmetic islands — no lag chain).
  */
object ClaimBh {

  /** @param evidence (id, mi, n_dx, n_rx, n_px): one row per person-month
    *        with at least one non-zero count, where `mi` is a dense month
    *        index (year*12 + month).
    * @return one row per (person, episode): month span, per-source claim
    *         totals, and a multi-source confirmation flag. */
  def build(evidence: DataFrame): DataFrame =
    Intervals.islandKeyByStep(evidence, Seq("id"), "mi")
      .groupBy(col("id"), col("island_id"))
      .agg(
        min(col("mi")).as("from_mi"),
        max(col("mi")).as("to_mi"),
        count(lit(1)).as("n_months"),
        sum(col("n_dx")).as("n_dx"),
        sum(col("n_rx")).as("n_rx"),
        sum(col("n_px")).as("n_px"))
      .withColumn("multi_source",
        ((col("n_dx") > 0).cast("int") + (col("n_rx") > 0).cast("int") +
          (col("n_px") > 0).cast("int")) >= 2)
      .drop("island_id")
}
