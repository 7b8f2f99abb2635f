package graft.builds

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** mcaid perf elig member-month feeder
  * (load_stage.mcaid_perf_elig_member_month.R):
  *
  *  - raw-elig projection with the managed-care plan-name recode (five
  *    named plans → 4-char codes, any other MC plan → NULL, non-MC →
  *    NULL; :28-37);
  *  - King-County restriction via the ZIP reference (state WA, county
  *    King; :66-68);
  *  - per (member, month) exactly one row: ROW_NUMBER ordered by
  *    coverage-span length DESC (:63-65). The reference stops there —
  *    ties fall to physical order — so every remaining column is
  *    appended to the ordering as a deterministic pin (identical rows
  *    are interchangeable; differing rows pick the same one on every
  *    engine).
  * The distinct-member shell (load_stage.mcaid_perf_distinct_member.R)
  * is a plain DISTINCT over the enroll-denom ids, with no kernel of its
  * own.
  *
  * Scale shape: one broadcast ZIP join + one (member, month)-keyed
  * window — the same partitioning the downstream perf builds consume.
  */
object PerfEligMemberMonth {

  /** The MC plan-name recode. */
  def planRecode(covType: Column, name: Column): Column =
    when(covType === "MC" && name === "Amerigroup Washington Inc", "AGP")
      .when(covType === "MC" &&
        name === "Community Health Plan of Washington", "CHP")
      .when(covType === "MC" && name.isin("Coordinated Care Corporation",
        "Coordinated Care of Washington"), "CCW")
      .when(covType === "MC" &&
        name === "Molina Healthcare of Washington Inc", "MHW")
      .when(covType === "MC" &&
        name === "United Health Care Community Plan", "UHC")
      .otherwise(lit(null).cast("string"))

  /** @param rawElig CLNDR_YEAR_MNTH (string), MEDICAID_RECIPIENT_ID,
    *                RPRTBL_RAC_CODE, FROM_DATE, TO_DATE,
    *                COVERAGE_TYPE_IND, MC_PRVDR_NAME, DUAL_ELIG,
    *                TPL_FULL_FLAG, RSDNTL_POSTAL_CODE
    * @param zipRef  (zip_code, state, county_name) */
  def build(rawElig: DataFrame, zipRef: DataFrame): DataFrame = {
    val staged = rawElig.select(
      col("CLNDR_YEAR_MNTH").cast("int").as("CLNDR_YEAR_MNTH"),
      col("MEDICAID_RECIPIENT_ID"), col("RPRTBL_RAC_CODE"),
      col("FROM_DATE"), col("TO_DATE"), col("COVERAGE_TYPE_IND"),
      planRecode(col("COVERAGE_TYPE_IND"), col("MC_PRVDR_NAME"))
        .as("MC_PRVDR_NAME"),
      col("DUAL_ELIG"), col("TPL_FULL_FLAG"), col("RSDNTL_POSTAL_CODE"))
    val king = zipRef
      .filter(col("state") === "WA" && col("county_name") === "King")
      .select(col("zip_code").as("RSDNTL_POSTAL_CODE")).distinct()
    val w = Window
      .partitionBy(col("MEDICAID_RECIPIENT_ID"), col("CLNDR_YEAR_MNTH"))
      .orderBy(datediff(col("TO_DATE"), col("FROM_DATE")).desc,
        col("RPRTBL_RAC_CODE").asc_nulls_first,
        col("FROM_DATE").asc_nulls_first,
        col("COVERAGE_TYPE_IND").asc_nulls_first,
        col("MC_PRVDR_NAME").asc_nulls_first,
        col("DUAL_ELIG").asc_nulls_first,
        col("TPL_FULL_FLAG").asc_nulls_first,
        col("RSDNTL_POSTAL_CODE").asc_nulls_first)
    staged
      .join(broadcast(king), Seq("RSDNTL_POSTAL_CODE"))
      .withColumn("row_num", row_number().over(w))
      .filter(col("row_num") === 1)
      .drop("row_num")
  }
}
