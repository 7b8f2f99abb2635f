package graft.builds

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distilled claim_header build — the reference's largest analytic table
  * (load_stage.mcaid_claim_header.R:130-1087, 16 steps) re-composed from
  * the engine's idioms on the orders/lineitem claims analog:
  *
  *  step 1  line -> header conditional-aggregation flag rollups
  *          (ed_rev_code / MAX(CASE) — :240-263)
  *  step 2  HEDIS-style EXCEPT membership: qualifying keys minus
  *          disqualifying keys (inpatient rev EXCEPT nonacute — :321-354),
  *          as "some line qualifies and no line disqualifies"
  *  step 3  primary-line extraction (first e-code / ROW_NUMBER — :601-614)
  *          as the max of a (price, -line number, part) struct: highest
  *          price, the lower line number on a tie
  *  step 4  Yale-ED episode construction: per-person 1-day merge via
  *          lag + running sum (:814-879), with episode identity as the
  *          (person, episode_seq) composite — never a global DENSE_RANK
  *          (SURVEY §7.5.1)
  *
  * Scale: steps 1-3 are one partial aggregation keyed on the claim id, so
  * lineitem is read once and joined once; step 4 re-keys once on the
  * person id.
  */
object ClaimHeader {

  def build(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    // steps 1-3: one pass over the lines per claim
    val lines = lineitem.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("has_return"),
        max(when(col("l_discount") >= 0.08, 1).otherwise(0)).as("has_deep_discount"),
        (max(col("l_quantity") >= 45) &&
          !coalesce(max(col("l_discount") >= 0.09), lit(false)))
          .as("inpatient"),
        max(struct(col("l_extendedprice").as("price"),
          (-col("l_linenumber")).as("neg_line"),
          col("l_partkey").as("partkey"))).as("primary"))

    // step 4: per-person episode merge (1-day gap)
    val wPerson = Window.partitionBy(col("o_custkey"))
      .orderBy(col("order_date"), col("o_orderkey"))
    val run = wPerson.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val headers = orders
      .withColumn("order_date", to_date(col("o_orderdate")))
      .withColumn("is_start",
        when(lag(col("order_date"), 1).over(wPerson).isNull ||
          datediff(col("order_date"),
            lag(col("order_date"), 1).over(wPerson)) > 1, 1).otherwise(0))
      .withColumn("episode_seq", sum(col("is_start")).over(run))

    headers
      .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"), col("o_custkey"), col("order_date"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("sum_price"), lit(0.0)).as("sum_price"),
        coalesce(col("has_return"), lit(0)).as("has_return"),
        coalesce(col("has_deep_discount"), lit(0)).as("has_deep_discount"),
        when(col("inpatient"), 1).otherwise(0).as("is_inpatient"),
        col("primary.partkey").as("primary_partkey"),
        round(col("primary.price"), 2).as("primary_price"),
        col("episode_seq"))
  }
}
