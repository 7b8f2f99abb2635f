package graft.builds

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.WeightedMode
import graft.functions.DateFns

/** Distilled elig_demo build — the reference's person-level demographics
  * table (load_stage.mcaid_elig_demo.R): per entity,
  *
  *  - alone-or-in-combination EVER flags (`MAX(flag) GROUP BY id`,
  *    :188-195,302-313),
  *  - percent-of-months "_t" variables (`SUM(flag)/COUNT(*)*100`,
  *    :162-169,258-269),
  *  - the most-reported modal value with the latest-month tie-break
  *    (most-reported DOB idiom, :93-118 — count desc, max month desc,
  *    value asc),
  *  - the most-recent observed value (gender_recent idiom, :172-181).
  *
  * The ever flags and the "_t" variables come from one aggregation of
  * the entity's periods; the modal and most-recent picks are one groupBy
  * shuffle each, all keyed on the entity id.
  */
object EligDemo {

  def build(events: DataFrame): DataFrame = {
    // period grain: the reference's "_t" vars are per eligibility MONTH;
    // the testdata stream is daily-grained, so the same idiom runs on the
    // entity's active days
    val ev = events.select(col("user_id"), col("ts"), col("event_type"),
      col("props"), DateFns.dateToYyyymm(col("ts")).as("ym"),
      to_date(col("ts")).as("day"))

    // per-period flags, then ever flags + pcts in one per-entity pass
    // (an entity ever had the flag iff one of its periods did)
    val daily = ev.groupBy(col("user_id"), col("day"))
      .agg(
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("d_purchase"),
        max(when(col("event_type") === "error", 1).otherwise(0)).as("d_error"))
    val pcts = daily.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        max(col("d_purchase")).as("purchase_ever"),
        max(col("d_error")).as("error_ever"),
        round(sum(col("d_purchase")) * 100.0 / count(lit(1)), 1).as("purchase_pct_t"),
        round(sum(col("d_error")) * 100.0 / count(lit(1)), 1).as("error_pct_t"))

    // modal props: count desc, latest-observed-month desc, value asc
    val modal = WeightedMode.mode(ev, Seq("user_id"), "props", "modal_props",
      tieBreakDesc = Seq("ym"))

    // most-recent event_type (ties: ascending value — deterministic)
    val recent = WeightedMode.mostRecent(
      ev.select(col("user_id"), col("event_type"), col("ts")),
      Seq("user_id"), "event_type", "ts", "recent_type")

    pcts.join(modal, Seq("user_id"), "left")
      .join(recent, Seq("user_id"), "left")
      .select(col("user_id"), col("n_days"),
        col("purchase_ever"), col("error_ever"),
        col("purchase_pct_t"), col("error_pct_t"),
        col("modal_props"), col("recent_type"))
  }
}
