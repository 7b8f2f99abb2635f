package graft.qa

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.DateFns

/** tmp-mode mcare CCW QA battery
  * (stage/tables/qa_tmp.mcare_claim_ccw.sql STEP 1) — the table-wide
  * checks the reference runs interactively after a tmp-schema CCW
  * build, composed into one verdict frame:
  *
  *  1. cond_person_dcount — distinct people per (ccw_code, ccw_desc)
  *     (:11-14);
  *  2. demo_person_dcount — distinct people in mcare_elig_demo
  *     (:16-17);
  *  3. cond_count — distinct conditions, "to make sure they've all
  *     run" (:20-21);
  *  4. cond_age7 — per-condition age_grp7 distribution for a given
  *     year (:24-52): condition spells overlapping the year, LEFT
  *     joined to the demo age as of Dec 31 with the T-SQL
  *     floor((datediff(day)+1)/365.25) age, its -1→0 clamp, and the
  *     NULL fall-through for ages < -1 or missing persons;
  *  5. timevar_age7 — the same distribution over everyone enrolled
  *     that year per mcare_elig_timevar (:54-77).
  *
  * STEP 2 of the reference file is the interactive one-person spot
  * probe (declare @id …) — a hand-picked-exemplar check; sections 1/4
  * here are its population-scale form (the ApcdLineQa discipline).
  * The reference pins year 2017; the year is a parameter here (the
  * fixture data lives in the TPC-H date range).
  *
  * Scale: sections are fused per input — each is one distributed
  * aggregate; the age join shuffles on the person id exactly once per
  * section that needs it; output is condition×age-group bounded. */
object McareCcwTmpQa {

  /** Battery over:
    *  - ccw     (id_mcare, ccw_code, ccw_desc, first_encounter_date,
    *            last_encounter_date) — the q230 build frame
    *  - demo    (id_mcare, dob)
    *  - timevar (id_mcare, from_date, to_date)
    * Output: (qa_section, ccw_code, ccw_desc, age_grp7, id_dcount). */
  def battery(ccw: DataFrame, demo: DataFrame, timevar: DataFrame,
      year: Int): DataFrame = {
    val asof = make_date(lit(year), lit(12), lit(31))
    val rawAge = DateFns.ageYears(col("dob"), asof)
    // qa_tmp.mcare_claim_ccw.sql:39-43 — the -1→0 clamp; anything
    // below (or a missing person) falls through to NULL
    val age = when(rawAge >= 0, rawAge).when(rawAge === -1, lit(0))
    val aged = demo.select(col("id_mcare").as("demo_id"),
      DateFns.ageGrp7(age).as("age_grp7"))

    val nullCode = lit(null).cast("int").as("ccw_code")
    val nullDesc = lit(null).cast("string").as("ccw_desc")
    val nullGrp = lit(null).cast("string").as("age_grp7")

    val s1 = ccw.groupBy(col("ccw_code"), col("ccw_desc"))
      .agg(count_distinct(col("id_mcare")).as("id_dcount"))
      .select(lit("cond_person_dcount").as("qa_section"),
        col("ccw_code").cast("int").as("ccw_code"), col("ccw_desc"),
        nullGrp, col("id_dcount"))
    val s2 = demo.agg(count_distinct(col("id_mcare")).as("id_dcount"))
      .select(lit("demo_person_dcount").as("qa_section"), nullCode,
        nullDesc, nullGrp, col("id_dcount"))
    val s3 = ccw.agg(count_distinct(col("ccw_code")).as("id_dcount"))
      .select(lit("cond_count").as("qa_section"), nullCode, nullDesc,
        nullGrp, col("id_dcount"))
    val inYear = ccw
      .filter(org.apache.spark.sql.functions.year(
          col("first_encounter_date")) <= year &&
        org.apache.spark.sql.functions.year(
          col("last_encounter_date")) >= year)
      .select(col("id_mcare"), col("ccw_code"), col("ccw_desc"))
      .distinct()
    val s4 = inYear
      .join(aged, col("id_mcare") === col("demo_id"), "left")
      .groupBy(col("ccw_code"), col("ccw_desc"), col("age_grp7"))
      .agg(count_distinct(col("id_mcare")).as("id_dcount"))
      .select(lit("cond_age7").as("qa_section"),
        col("ccw_code").cast("int").as("ccw_code"), col("ccw_desc"),
        col("age_grp7"), col("id_dcount"))
    val s5 = timevar
      .filter(org.apache.spark.sql.functions.year(col("from_date"))
          <= year &&
        org.apache.spark.sql.functions.year(col("to_date")) >= year)
      .select(col("id_mcare"))
      .join(aged, col("id_mcare") === col("demo_id"), "left")
      .groupBy(col("age_grp7"))
      .agg(count_distinct(col("id_mcare")).as("id_dcount"))
      .select(lit("timevar_age7").as("qa_section"), nullCode, nullDesc,
        col("age_grp7"), col("id_dcount"))

    s1.unionByName(s2).unionByName(s3).unionByName(s4).unionByName(s5)
  }
}
