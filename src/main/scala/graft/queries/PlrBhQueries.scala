package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.builds.{ClaimBh, EligPlr}
import graft.queries.Q.t

/** SURVEY §7.2 phase-4 catalog: the elig_plr per-person-per-year coverage
  * rollup and the claim_bh condition-span build on the
  * orders/lineitem claims analog. */
object PlrBhQueries {

  /** Coverage intervals synthesized from orders: each order opens a
    * coverage window of 5-24 days; the flavor (med/pharm/dental analog)
    * comes from the order status, so flavors overlap per person freely —
    * exactly the input shape the merge step exists for. */
  private def coverage(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_custkey").as("id"),
      col("o_orderstatus").as("flavor"),
      to_date(col("o_orderdate")).as("from_date"),
      date_add(to_date(col("o_orderdate")),
        (col("o_orderkey") % 20 + 5).cast("int")).as("to_date"))

  /** §2.4 elig_plr: per-person 1996 coverage days + percent-of-year per
    * flavor and for the any-flavor union (apcd_elig_plr.R:42-120). Persons
    * with no 1996 overlap in any flavor still appear (zero rows counted)
    * when they have coverage at all — the rollup is over all persons with
    * intervals, mirroring the reference's person universe. */
  def q82EligPlr(s: SparkSession, dir: String): DataFrame =
    EligPlr.build(coverage(s, dir), flavors = Seq("F", "O", "P"),
        yearFrom = "1996-01-01", yearTo = "1996-12-31")
      .orderBy(col("id"))

  /** §2.3/§2.4 claim_bh: person-month evidence counts (dx from returned
    * lines, rx from deep-discount lines, px from bulk lines) in one
    * conditional aggregation — the reference's three per-source frames
    * FULL OUTER joined with coalesced keys (claim_bh.R:232-309) — then
    * contiguous evidence months collapsed to episodes (claim_bh.R:193-202);
    * rolled up per person so the result is one row per person with
    * episode stats. */
  def q83ClaimBh(s: SparkSession, dir: String): DataFrame = {
    val evidence = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("id"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1).as("mi"))
      .agg(count(when(col("l_returnflag") === "R", 1)).as("n_dx"),
        count(when(col("l_discount") >= 0.08, 1)).as("n_rx"),
        count(when(col("l_quantity") >= 45, 1)).as("n_px"))
      .filter(col("n_dx") + col("n_rx") + col("n_px") > 0)
    ClaimBh.build(evidence)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_episodes"),
        sum(col("n_months")).as("evidence_months"),
        min(col("from_mi")).as("first_mi"),
        max(col("to_mi")).as("last_mi"),
        sum(col("n_dx")).as("n_dx"),
        sum(col("n_rx")).as("n_rx"),
        sum(col("n_px")).as("n_px"),
        max(col("multi_source").cast("int")).as("any_multi_source"))
      .orderBy(col("id"))
  }
}
