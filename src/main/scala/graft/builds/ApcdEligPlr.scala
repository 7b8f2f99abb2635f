package graft.builds

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DateFns

/** apcd_elig_plr_YYYY — the full APCD person-level rollup
  * (load_stage.apcd_elig_plr.R:42-360), the year-scoped "person-level
  * record" consumed by analysts. [[EligPlr]] (q82) models its interval
  * day-count core; this build is the complete composition:
  *
  *  step 1 (:44-175)  per coverage row, ten clipped day counts inside the
  *         [from, to] window — med/pharm total + medicaid/medicare/
  *         commercial splits + the (medicaid∧medicare across med∨pharm)
  *         dual — over SELECT DISTINCT (id, from_date, to_date) rows;
  *         the reference's 4-branch containment CASE per column is one
  *         least/greatest clip here (rows are pre-filtered to overlap);
  *  step 2 (:180-208) person-level sums + percent-of-window columns,
  *         decimal(4,1) semantics kept as round(x, 1);
  *  step 3 (:215-249) single-ZIP assignment: day-weighted duration per
  *         (id, zip) with the reference's `sum(covd) + 1` quirk (NOT
  *         deduplicated — a literal re-scan, unlike step 1), pick by
  *         duration desc then zip ASC NULLS FIRST (T-SQL puts NULL
  *         first), then county/ACH attach from the broadcast ZIP-group
  *         ref;
  *  step 4 (:252-279) days spent in the PICKED ACH: join the pick back
  *         to raw coverage rows on ach equality and clip-sum;
  *  step 5 (:283-330) demographics join with the capped-age rule
  *         (>= 90 or ninety_only → 90; -1 → 0 — the "born next year"
  *         guard) and the 7-level age group;
  *  step 6 (:338-360) cohort flags: WA residence = county resolved,
  *         overall-medicaid splits, and the 6/7/11-month any-medical
  *         thresholds evaluated on the ROUNDED percent (50.0 / 58.3 /
  *         91.7), as the reference computes them from the stored
  *         decimal.
  *
  * Scale: step 1-2 are one scan + one person-keyed partial aggregation;
  * step 3 re-scans the (small per-person) coverage rows with a
  * (id, zip) partial agg and a per-id top-1 window; the ZIP-group ref is
  * broadcast; step 4 is a broadcast-right join back to coverage rows
  * keyed on id; demo attach is a person-keyed equi-join. No global
  * windows, no driver collects; everything partitions on id_apcd.
  */
object ApcdEligPlr {

  /** Clipped days-in-window when `cond` holds, else 0 (the reference's
    * 4-branch CASE; rows must already overlap the window). */
  private def covd(cond: Column, from: Column, to: Column): Column =
    when(cond,
      datediff(least(col("to_date"), to),
        greatest(col("from_date"), from)) + 1)
      .otherwise(0)

  /** @param timevar  stage_apcd_elig_timevar rows: (id_apcd, from_date,
    *                 to_date, med_covgrp, pharm_covgrp, med_medicaid,
    *                 med_medicare, med_commercial, pharm_medicaid,
    *                 pharm_medicare, pharm_commercial, geo_zip, geo_ach)
    * @param demo     stage_apcd_elig_demo rows: (id_apcd, dob,
    *                 ninety_only, gender_me, gender_recent,
    *                 gender_female, gender_male, race_eth_me, race_me,
    *                 race_eth_recent, race_recent, race_aian, race_asian,
    *                 race_black, race_latino, race_nhpi, race_white,
    *                 race_unknown)
    * @param zipGroup ref_apcd_zip_group: (zip_code, zip_group_type_desc,
    *                 zip_group_desc)
    * @param fromDate / toDate — the window (calendar year in production)
    */
  def build(timevar: DataFrame, demo: DataFrame, zipGroup: DataFrame,
      fromDate: String, toDate: String): DataFrame = {
    val from = to_date(lit(fromDate))
    val to = to_date(lit(toDate))
    val windowDays = datediff(to, from) + 1
    val pct = (c: Column) => round(c * 1.0 / windowDays * 100.0, 1)

    val overlapping = timevar
      .filter(col("from_date") <= to && col("to_date") >= from)

    // ---- step 1: distinct coverage rows -> ten clipped day counts ----
    val dualCond = (col("med_medicaid") === 1 || col("pharm_medicaid") === 1) &&
      (col("med_medicare") === 1 || col("pharm_medicare") === 1)
    val cov1 = overlapping.select(
      col("id_apcd"), col("from_date"), col("to_date"),
      covd(col("med_covgrp") =!= 0, from, to).as("med_total_covd"),
      covd(col("med_medicaid") === 1, from, to).as("med_medicaid_covd"),
      covd(col("med_medicare") === 1, from, to).as("med_medicare_covd"),
      covd(col("med_commercial") === 1, from, to)
        .as("med_commercial_covd"),
      covd(col("pharm_covgrp") =!= 0, from, to).as("pharm_total_covd"),
      covd(col("pharm_medicaid") === 1, from, to)
        .as("pharm_medicaid_covd"),
      covd(col("pharm_medicare") === 1, from, to)
        .as("pharm_medicare_covd"),
      covd(col("pharm_commercial") === 1, from, to)
        .as("pharm_commercial_covd"),
      covd(dualCond, from, to).as("dual_covd")).distinct()

    // ---- step 2: person-level sums + percent columns ----
    val cov2 = cov1.groupBy(col("id_apcd").as("id")).agg(
      sum("med_total_covd").as("med_total_covd"),
      sum("dual_covd").as("dual_covd"),
      sum("med_medicaid_covd").as("med_medicaid_covd"),
      sum("med_medicare_covd").as("med_medicare_covd"),
      sum("med_commercial_covd").as("med_commercial_covd"),
      sum("pharm_total_covd").as("pharm_total_covd"),
      sum("pharm_medicaid_covd").as("pharm_medicaid_covd"),
      sum("pharm_medicare_covd").as("pharm_medicare_covd"),
      sum("pharm_commercial_covd").as("pharm_commercial_covd"))
      .select(col("*"),
        pct(col("med_total_covd")).as("med_total_covper"),
        pct(col("dual_covd")).as("dual_covper"),
        when(col("dual_covd") > 0, 1).otherwise(0).as("dual_flag"),
        pct(col("med_medicaid_covd")).as("med_medicaid_covper"),
        pct(col("med_medicare_covd")).as("med_medicare_covper"),
        pct(col("med_commercial_covd")).as("med_commercial_covper"),
        pct(col("pharm_total_covd")).as("pharm_total_covper"),
        pct(col("pharm_medicaid_covd")).as("pharm_medicaid_covper"),
        pct(col("pharm_medicare_covd")).as("pharm_medicare_covper"),
        pct(col("pharm_commercial_covd")).as("pharm_commercial_covper"))

    // ---- step 3: single-ZIP pick + county/ACH ref attach ----
    // NOT deduplicated, and the reference's `sum(covd) + 1` is kept
    val anyDays = covd(lit(true), from, to)
    val zipDur = overlapping
      .groupBy(col("id_apcd").as("id"), col("geo_zip"))
      .agg((sum(anyDays) + 1).as("zip_dur"))
    val zipPick = zipDur.withColumn("zipr",
        row_number().over(Window.partitionBy(col("id"))
          .orderBy(col("zip_dur").desc, col("geo_zip").asc_nulls_first)))
      .filter(col("zipr") === 1).drop("zipr", "zip_dur")
    val county = zipGroup.filter(col("zip_group_type_desc") === "County")
      .select(col("zip_code"), col("zip_group_desc").as("geo_county"))
      .distinct()
    val ach = zipGroup
      .filter(col("zip_group_type_desc").startsWith("Acc"))
      .select(col("zip_code").as("ach_zip"),
        col("zip_group_desc").as("geo_ach"))
      .distinct()
    val geo = zipPick
      .join(broadcast(county), zipPick("geo_zip") === county("zip_code"),
        "left")
      .join(broadcast(ach), zipPick("geo_zip") === ach("ach_zip"), "left")
      .select(col("id"), col("geo_zip"), col("geo_county"), col("geo_ach"))

    // ---- step 4: days inside the picked ACH ----
    val achDays = geo.select(col("id").as("ach_id"),
        col("geo_ach").as("picked_ach"))
      .join(overlapping,
        col("ach_id") === overlapping("id_apcd") &&
          col("picked_ach") === overlapping("geo_ach"))
      .select(col("ach_id"), anyDays.as("d"))
      .groupBy(col("ach_id")).agg(sum(col("d")).as("geo_ach_covd"))

    // ---- step 5: demographics with the capped-age rule ----
    val rawAge = DateFns.ageYears(col("dob"), to)
    val demoAged = demo.select(col("id_apcd").as("demo_id"),
      col("gender_me"), col("gender_recent"), col("gender_female"),
      col("gender_male"), col("race_eth_me"), col("race_me"),
      col("race_eth_recent"), col("race_recent"), col("race_aian"),
      col("race_asian"), col("race_black"), col("race_latino"),
      col("race_nhpi"), col("race_white"), col("race_unknown"),
      when(rawAge >= 90 || col("ninety_only") === 1, 90)
        .when(rawAge >= 0, rawAge)
        .when(rawAge === -1, 0).as("age"))
    val aged = demoAged.withColumn("age_grp7", DateFns.ageGrp7(col("age")))

    val merged = cov2
      .join(geo, Seq("id"), "left")
      .join(achDays, cov2("id") === achDays("ach_id"), "left")
      .join(aged, cov2("id") === aged("demo_id"), "left")

    // ---- step 6: cohort flags on the rounded percents ----
    merged.select(
      col("id").as("id_apcd"),
      when(col("geo_county").isNotNull, 1).otherwise(0).as("geo_wa"),
      when(col("geo_county").isNotNull &&
        (col("med_medicaid_covd") >= 1 || col("pharm_medicaid_covd") >= 1),
        1).otherwise(0).as("overall_mcaid"),
      when(col("geo_county").isNotNull && col("med_medicaid_covd") >= 1,
        1).otherwise(0).as("overall_mcaid_med"),
      when(col("geo_county").isNotNull && col("pharm_medicaid_covd") >= 1,
        1).otherwise(0).as("overall_mcaid_pharm"),
      when(col("geo_county").isNotNull && col("med_total_covper") >= 50.0,
        1).otherwise(0).as("medical_coverage_6mo"),
      when(col("geo_county").isNotNull && col("med_total_covper") >= 58.3,
        1).otherwise(0).as("medical_coverage_7mo"),
      when(col("geo_county").isNotNull && col("med_total_covper") >= 91.7,
        1).otherwise(0).as("medical_coverage_11mo"),
      col("geo_zip"), col("geo_county"), col("geo_ach"),
      col("geo_ach_covd"),
      pct(col("geo_ach_covd")).as("geo_ach_covper"),
      col("age"), col("age_grp7"),
      col("gender_me"), col("gender_recent"), col("gender_female"),
      col("gender_male"), col("race_eth_me"), col("race_me"),
      col("race_eth_recent"), col("race_recent"), col("race_aian"),
      col("race_asian"), col("race_black"), col("race_latino"),
      col("race_nhpi"), col("race_white"), col("race_unknown"),
      col("med_total_covd"), col("med_total_covper"),
      col("dual_covd"), col("dual_covper"), col("dual_flag"),
      col("med_medicaid_covd"), col("med_medicare_covd"),
      col("med_commercial_covd"),
      col("med_medicaid_covper"), col("med_medicare_covper"),
      col("med_commercial_covper"),
      col("pharm_total_covd"), col("pharm_total_covper"),
      col("pharm_medicaid_covd"), col("pharm_medicare_covd"),
      col("pharm_commercial_covd"),
      col("pharm_medicaid_covper"), col("pharm_medicare_covper"),
      col("pharm_commercial_covper"))
  }
}
