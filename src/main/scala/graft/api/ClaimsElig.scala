package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Intervals, WeightedMode}
import graft.functions.DateFns

/** The reference's primary user entry point re-composed end-to-end
  * (R/claims_elig.R:159-1452): a parameterized cohort query over an
  * entity-interval coverage table.
  *
  * Pipeline (mirrors claims_elig's materialization steps):
  *  1. coverage intervals clipped to the ask window with LAG/LEAD gaps
  *     (##cov_time_part — claims_elig.R:703-745),
  *  2. per-entity totals: cov_days, cov_pct (decimal(4,1) idiom,
  *     claims_elig.R:755-769), covgap_max via `greatest()` over interior
  *     and boundary gaps (the VALUES-trick max at :762-768),
  *  3. time-varying attributes resolved by coverage-weighted mode — the
  *     ~20 per-variable self-joins of the reference's core query
  *     (:1360-1398) collapsed into ONE melted pass
  *     ([[WeightedMode.weightedModes]]),
  *  4. most-recent-value pick (elig_demo gender_recent idiom),
  *  5. parameter-driven cohort predicates ([[Predicates]], :441-523).
  *
  * Scale: one shuffle keyed on the entity id serves the windows in 1-2;
  * the weighted-mode pass shuffles distinct (id, attr, value) triples only
  * (map-side combine); predicates are Columns pushed by Catalyst.
  */
object ClaimsElig {

  /** The reference's ~60 optional params, distilled to the ones the
    * testdata can express (absent -> no constraint, as in claims_elig).
    * Each present param compiles to one Column predicate, exactly the
    * fragment-assembly model of claims_elig.R:441-523. */
  case class EligParams(
      fromDate: String,
      toDate: String,
      covMinPct: Option[Double] = None,
      covgapMaxDays: Option[Int] = None,
      modalTypes: Option[Seq[String]] = None,
      recentTypes: Option[Seq[String]] = None,
      minCovDays: Option[Int] = None,
      propsPattern: Option[String] = None)

  /** Cohort over an event stream: entity activity intervals are the
    * "coverage periods"; event_type/props are the time-varying attributes.
    *
    * @param events frame with (user_id, ts, event_type, props, value)
    * @return one row per qualifying entity:
    *         (user_id, cov_days, cov_pct, covgap_max, modal_type,
    *          modal_props, recent_type)
    */
  def cohort(events: DataFrame, p: EligParams): DataFrame = {
    val winFrom = to_date(lit(p.fromDate))
    val winTo = to_date(lit(p.toDate))
    val duration = DateFns.windowDays(p.fromDate, p.toDate)

    // 1. activity days -> contiguous intervals (elig_timevar kernel)
    val days = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("day_to", col("day"))
    val intervals = Intervals.collapseIntervals(days,
      ids = Seq("user_id"), from = "day", to = "day_to", maxGapDays = 1)

    // cov_time_part: clip to window, lag/lead gaps (claims_elig.R:703-745)
    val inWin = intervals
      .filter(Intervals.overlaps(col("day"), col("day_to"), winFrom, winTo))
      .select(col("user_id"),
        greatest(col("day"), winFrom).as("cfrom"),
        least(col("day_to"), winTo).as("cto"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("cfrom"))
    val part = inWin
      .withColumn("pre_gap", coalesce(
        datediff(col("cfrom"), lag(col("cto"), 1).over(w)) - 1,
        datediff(col("cfrom"), winFrom)))
      .withColumn("post_gap", coalesce(
        datediff(lead(col("cfrom"), 1).over(w), col("cto")) - 1,
        datediff(winTo, col("cto"))))

    // 2. cov_time_tot: totals + covgap_max (claims_elig.R:755-781)
    val tot = part.groupBy(col("user_id"))
      .agg(sum(datediff(col("cto"), col("cfrom")) + 1).as("cov_days"),
        greatest(max(col("pre_gap")), max(col("post_gap"))).as("covgap_max"))
      .withColumn("cov_pct",
        round(col("cov_days") * 100.0 / lit(duration), 1))

    // 3. one-pass weighted modes over the window's events (decimal weight
    //    for exact, order-independent tie ranking)
    val winEvents = events
      .filter(to_date(col("ts")).between(winFrom, winTo))
      .withColumn("_w", col("value").cast("decimal(18,6)"))
    val modes = WeightedMode.weightedModes(
        winEvents.select(col("user_id"), col("event_type"), col("props"), col("_w")),
        Seq("user_id"), Seq("event_type", "props"), "_w")
      .withColumnRenamed("event_type", "modal_type")
      .withColumnRenamed("props", "modal_props")

    // 4. most-recent event_type in the window (tie: lowest event_id wins
    //    via ts ordering; ties on identical ts resolve by value asc)
    val recent = WeightedMode.mostRecent(
      winEvents.select(col("user_id"), col("event_type"), col("ts")),
      Seq("user_id"), "event_type", "ts", "recent_type")

    // 5. assemble + parameter predicates (claims_elig.R:441-523 idiom)
    val cohortAll = tot
      .join(modes, Seq("user_id"), "left")
      .join(recent, Seq("user_id"), "left")
    Predicates.applyAll(cohortAll,
        p.covMinPct.map(m => col("cov_pct") >= m),
        p.covgapMaxDays.map(g => col("covgap_max") <= g),
        Predicates.inOptCI("modal_type", p.modalTypes),
        Predicates.inOptCI("recent_type", p.recentTypes),
        p.minCovDays.map(d => col("cov_days") >= d),
        Predicates.rlikeOpt("modal_props", p.propsPattern))
      .select(col("user_id"), col("cov_days"), col("cov_pct"),
        col("covgap_max"), col("modal_type"), col("modal_props"),
        col("recent_type"))
  }
}
