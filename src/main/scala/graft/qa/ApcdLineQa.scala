package graft.qa

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.DateFns

/** The APCD line-level QA batteries (stage/tables/qa_stage.apcd_*.sql)
  * re-expressed at population scale.
  *
  * The reference scripts spot-check HAND-PICKED exemplar members/claims
  * ("kid with multiple possible birthdays", "person with pregap", one
  * claim_header_id) against the table each was derived from, with
  * commented-out finder queries for locating fresh exemplars after each
  * extract. Spark-first that becomes: run the finder over EVERY member,
  * re-derive the expectation for each reference category independently
  * of the build's own mechanics, and emit one verdict row per category
  * with population counts — the same checks, except nobody has to pick
  * ids, and a regression anywhere in the population moves a count.
  *
  * Scale shape: every battery is per-key aggregations on the audited
  * table's own grain (member / claim header) followed by one verdict
  * rollup — the joins are all on the high-cardinality natural key, no
  * window is unpartitioned, nothing collects.
  */
object ApcdLineQa {

  /** qa_stage.apcd_claim_provider.sql: the stage table is a pure
    * reshape of the medical-claim provider slots, so the audit is
    * set-equality per provider slot type — every non-null source slot
    * appears as exactly one stage row with that (header, type, id),
    * nothing extra appears, and the service dates ride along unchanged
    * (the reference eyeballs one header_id = 629250074914541 across
    * billing/rendering/attending/referring + both dates).
    *
    * Output: one row per provider_type with source/stage/missing/extra
    * counts, plus a `service_dates` row counting stage rows whose date
    * pair disagrees with the source header's.
    */
  def claimProviderQa(stage: DataFrame, medClaim: DataFrame): DataFrame = {
    val src = medClaim.select(col("claim_header_id"),
      expr("""stack(4,
        'attending', attending_internal_provider_id,
        'billing', billing_provider_internal_id,
        'referring', referring_internal_provider_id,
        'rendering', rendering_internal_provider_id)
        AS (provider_type, provider_id)"""))
      .filter(col("provider_id").isNotNull)
    val st = stage.select(col("claim_header_id"), col("provider_type"),
      col("provider_id_apcd").as("provider_id"),
      col("first_service_date"), col("last_service_date"))
    val joined = src.withColumn("in_src", lit(1))
      .join(st.select(col("claim_header_id"), col("provider_type"),
          col("provider_id")).withColumn("in_st", lit(1)),
        Seq("claim_header_id", "provider_type", "provider_id"),
        "full_outer")
    val slots = joined.groupBy(col("provider_type")).agg(
      coalesce(sum(col("in_src")), lit(0)).cast("long").as("n_source"),
      coalesce(sum(col("in_st")), lit(0)).cast("long").as("n_stage"),
      coalesce(sum(when(col("in_st").isNull, 1)), lit(0)).cast("long")
        .as("n_missing"),
      coalesce(sum(when(col("in_src").isNull, 1)), lit(0)).cast("long")
        .as("n_extra"))
    val dates = st.join(medClaim.select(col("claim_header_id"),
        col("first_service_dt"), col("last_service_dt")),
        Seq("claim_header_id"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(
            col("first_service_date") =!= col("first_service_dt") ||
            col("last_service_date") =!= col("last_service_dt"), 1)),
          lit(0)).as("bad"))
      .select(lit("service_dates").as("provider_type"),
        col("n").cast("long").as("n_source"),
        col("n").cast("long").as("n_stage"),
        col("bad").cast("long").as("n_missing"),
        lit(0L).as("n_extra"))
    slots.unionByName(dates)
      .select(lit("stage.apcd_claim_provider").as("table_name"),
        col("provider_type"), col("n_source"), col("n_stage"),
        col("n_missing"), col("n_extra"),
        (col("n_missing") === 0 && col("n_extra") === 0).cast("int")
          .as("pass"))
  }

  private def verdictRow(df: DataFrame, table: String, category: String,
      checked: Column, fail: Column): DataFrame =
    df.agg(coalesce(sum(checked.cast("long")), lit(0L)).as("n_checked"),
        coalesce(sum(fail.cast("long")), lit(0L)).as("n_fail"))
      .select(lit(table).as("table_name"),
        lit(category).as("qa_category"),
        col("n_checked").cast("long"), col("n_fail").cast("long"),
        (col("n_fail") === 0).cast("int").as("pass"))

  /** qa_stage.apcd_elig_demo.sql: the reference spot-checks one member
    * per category — age bands with/without an observed birthday
    * increment, the 90-top-code, male/female/multiple/partial-unknown/
    * fully-unknown gender, and seven race configurations — each against
    * the member-month or eligibility table it was derived from. At
    * population scale each category becomes a re-derivation over EVERY
    * member in it, built with different mechanics than the audited
    * build (pair self-join instead of lag for the birthday increment,
    * max_by instead of lead-null for the last-month estimate, direct
    * grouped aggregation instead of window passes for gender/race), so
    * a mechanic bug in either side moves a count.
    *
    * One divergence from the QA script's comments, kept deliberately:
    * "Age 90+ with age of 90 only … dob should be null" — the load
    * script itself (load_stage.apcd_elig_demo.R:37-39) has no nulling
    * branch; a constant-90 member gets the last-month dob_2 estimate
    * like any other single-age member, and the battery checks THAT
    * (the build's real convention), with ninety_only carrying the
    * top-code signal.
    *
    * `demo` is the audited build output; `mm` the member-month detail
    * (id_apcd, year_month yyyymm-string, age, gender_code); `elig` the
    * eligibility extract; `ethMap` the ethnicity→race map. */
  def eligDemoQa(demo: DataFrame, mm: DataFrame, elig: DataFrame,
      ethMap: DataFrame): DataFrame = {
    val t = "stage.apcd_elig_demo"
    val m = mm.select(col("id_apcd"),
      col("year_month").cast("int").as("ym"), col("age"),
      col("gender_code"))

    // --- dob: birthday-increment members (pair self-join, no window)
    val a = m.select(col("id_apcd"), col("ym"), col("age"))
    val pairs = a.as("p").join(a.as("q"),
        col("p.id_apcd") === col("q.id_apcd") &&
        (col("q.ym") - col("p.ym")).isin(1, 89) &&
        col("q.age") - col("p.age") === 1)
      .select(col("p.id_apcd").as("id_apcd"),
        // the build lags the PREVIOUS month's (age+1)*100; with the
        // increment pinned at 1 that equals the current month's age*100
        to_date(concat((col("q.ym") - col("q.age") * 100)
          .cast("string"), lit("01")), "yyyyMMdd").as("dob_imp"))
    val incExp = pairs.groupBy(col("id_apcd"))
      .agg(max(col("dob_imp")).as("dob_inc"))
    // --- dob: single-age members (max_by, no lead)
    val lastExp = m.groupBy(col("id_apcd"))
      .agg(max_by(struct(col("ym"), col("age")), col("ym")).as("lr"),
        min(col("age")).as("min_age"))
      .select(col("id_apcd"), col("min_age"),
        add_months(to_date(concat(
          (col("lr.ym") - (col("lr.age") + 1) * 100).cast("string"),
          lit("01")), "yyyyMMdd"), 1).as("dob_est"))
    val dj = demo.select(col("id_apcd"), col("dob"), col("ninety_only"))
      .join(incExp, Seq("id_apcd"), "left")
      .join(lastExp, Seq("id_apcd"), "left")
    val dobInc = verdictRow(dj, t, "dob_age_increment_members",
      col("dob_inc").isNotNull,
      col("dob_inc").isNotNull && !(col("dob") <=> col("dob_inc")))
    val dobEst = verdictRow(dj, t, "dob_single_age_members",
      col("dob_inc").isNull,
      col("dob_inc").isNull && !(col("dob") <=> col("dob_est")))
    val ninety = verdictRow(dj, t, "ninety_only_flag", lit(1),
      !(col("ninety_only") <=> (col("min_age") === 90).cast("int")))

    // --- gender: grouped aggregation, no window
    val fFlag = when(col("gender_code") === "F", 1)
      .when(col("gender_code") === "U", lit(null).cast("int"))
      .otherwise(0)
    val mFlag = when(col("gender_code") === "M", 1)
      .when(col("gender_code") === "U", lit(null).cast("int"))
      .otherwise(0)
    val known = col("gender_code").isNotNull && col("gender_code") =!= "U"
    val g = m.groupBy(col("id_apcd")).agg(
      max(fFlag).as("ev_f"), max(mFlag).as("ev_m"),
      min(when(col("gender_code") === "U", 1).otherwise(0)).as("all_u"),
      max(when(col("gender_code") === "U", 1).otherwise(0)).as("any_u"),
      max(known.cast("int")).as("any_known"),
      max_by(when(known, col("gender_code")), when(known, col("ym")))
        .as("last_known"))
    val gExp = g.select(col("id_apcd"), col("any_u"), col("any_known"),
      when(col("ev_f") === 1 && col("ev_m") === 1, "Multiple")
        .when(col("ev_f") === 1, "Female")
        .when(col("ev_m") === 1, "Male")
        .when(col("all_u") === 1, "Unknown").as("exp_me"),
      when(col("last_known") === "F", "Female")
        .when(col("last_known") === "M", "Male")
        .when(col("last_known").isNull && col("any_u") === 1, "Unknown")
        .as("exp_recent"),
      col("ev_f").as("exp_female"), col("ev_m").as("exp_male"))
    val gj = demo.select(col("id_apcd"), col("gender_me"),
        col("gender_recent"), col("gender_female"), col("gender_male"))
      .join(gExp, Seq("id_apcd"))
    val gMap = verdictRow(gj, t, "gender_slot_flags", lit(1),
      !(col("gender_me") <=> col("exp_me")) ||
      !(col("gender_female") <=> col("exp_female")) ||
      !(col("gender_male") <=> col("exp_male")))
    val gPartial = verdictRow(gj, t, "gender_partial_unknown_not_unknown",
      col("any_u") === 1 && col("any_known") === 1,
      col("any_u") === 1 && col("any_known") === 1 &&
        col("gender_me") === "Unknown")
    val gRecent = verdictRow(gj, t, "gender_recent_last_known", lit(1),
      !(col("gender_recent") <=> col("exp_recent")))

    // --- race: per-row signal recompute, grouped collapse
    val m1 = ethMap.select(col("ethnicity_id").as("ethnicity_id1"),
      col("race_id").as("r3_m"))
    val m2 = ethMap.select(col("ethnicity_id").as("ethnicity_id2"),
      col("race_id").as("r4_m"))
    val rRows = elig.join(broadcast(m1), Seq("ethnicity_id1"), "left")
      .join(broadcast(m2), Seq("ethnicity_id2"), "left")
      .select(col("id_apcd"),
        when(col("race_id1").isin(1, 2, 3, 4, 5), col("race_id1"))
          .otherwise(0).as("r1"),
        when(col("race_id2").isin(1, 2, 3, 4, 5), col("race_id2"))
          .otherwise(0).as("r2"),
        when(col("hispanic_id").isin(1, 2), col("hispanic_id"))
          .otherwise(0).as("lat"),
        coalesce(col("r3_m"), lit(0)).as("r3"),
        coalesce(col("r4_m"), lit(0)).as("r4"))
    def anyV(v: Int) = greatest(
      (col("r1") === v).cast("int"), (col("r2") === v).cast("int"),
      (col("r3") === v).cast("int"), (col("r4") === v).cast("int"))
    val rAgg = rRows.groupBy(col("id_apcd")).agg(
      max(anyV(1)).as("e_aian"), max(anyV(2)).as("e_asian"),
      max(anyV(3)).as("e_black"), max(anyV(4)).as("e_nhpi"),
      max(anyV(5)).as("e_white"),
      max((col("lat") === 1 || col("r3") === 8 || col("r4") === 8)
        .cast("int")).as("e_latino"),
      min((col("r1") === 0 && col("r2") === 0 && col("r3") === 0 &&
        col("r4") === 0 && col("lat") =!= 1).cast("int")).as("all_unk"))
    val rj = demo.select(col("id_apcd"), col("race_aian"),
        col("race_asian"), col("race_black"), col("race_latino"),
        col("race_nhpi"), col("race_white"), col("race_unknown"),
        col("race_eth_me"), col("race_me"))
      .join(rAgg, Seq("id_apcd"))
    val rFlags = verdictRow(rj, t, "race_ever_flags", lit(1),
      !(col("race_aian") <=> col("e_aian")) ||
      !(col("race_asian") <=> col("e_asian")) ||
      !(col("race_black") <=> col("e_black")) ||
      !(col("race_nhpi") <=> col("e_nhpi")) ||
      !(col("race_white") <=> col("e_white")) ||
      !(col("race_latino") <=> col("e_latino")))
    // race_eth_me is NULL (not 'Unknown') for a fully-unknown member:
    // the person collapse is max(CASE WHEN race_eth_me = 'Unknown' THEN
    // NULL END) — T-SQL MAX over all-NULL — and the reference never
    // backfills it (load_stage.apcd_elig_demo.R step 9). The battery
    // pins the REAL convention, not the QA script's labels.
    val rUnknown = verdictRow(rj, t, "race_unknown_iff_no_signal", lit(1),
      !(col("race_unknown") <=> col("all_unk")) ||
      (col("all_unk") === 1 && col("race_eth_me").isNotNull) ||
      (col("all_unk") === 0 && (col("race_eth_me").isNull ||
        col("race_eth_me") === "Unknown")))
    val nRace = col("e_aian") + col("e_asian") + col("e_black") +
      col("e_nhpi") + col("e_white")
    val latinoMult = verdictRow(rj, t, "race_latino_drives_multiple",
      nRace === 1 && col("e_latino") === 1,
      nRace === 1 && col("e_latino") === 1 &&
        (col("race_eth_me") =!= "Multiple" ||
         col("race_me") === "Multiple"))

    val unique = verdictRow(
      demo.groupBy(col("id_apcd")).agg(count(lit(1)).as("c")), t,
      "one_row_per_member", lit(1), col("c") =!= 1)

    Seq(dobInc, dobEst, ninety, gMap, gPartial, gRecent, rFlags,
        rUnknown, latinoMult, unique)
      .reduce(_ unionByName _)
  }

  /** qa_stage.apcd_elig_plr.sql: the reference spot-checks pregap
    * members, multi-region/multi-ZIP members, an out-of-state-majority
    * member, demographics exemplars, and the 11-month-cohort rule-outs
    * — each PLR row against the timevar/demo table it rolled up from.
    * Population-scale re-derivations, each with different mechanics
    * than the audited build:
    *
    *  - `geo_zip_longest_duration`: instead of the build's
    *    row_number pick, an EXISTS-a-better-zip anti-test — a member
    *    fails if any of their zips has strictly more clipped coverage
    *    days than the picked one, or ties with a smaller tie-break key
    *    (NULL zip first, then zip ASC — T-SQL order). Independent of
    *    the reference's `sum(covd)+1` quirk since the test is
    *    monotone-invariant.
    *  - `geo_ref_attach`: county/ACH columns equal the broadcast
    *    zip-group lookups of the picked zip (out-of-state pick → both
    *    NULL → no ACH assignment, the reference's "lived longest
    *    outside WA" case).
    *  - `geo_ach_covd_recompute`: days in the picked ACH re-summed
    *    from the overlapping segments + the rounded covper.
    *  - `cohort_flags_on_rounded_pct`: WA/overall-Medicaid and the
    *    6/7/11-month thresholds recomputed from the stored covd
    *    columns (>= 50.0 / 58.3 / 91.7 ON THE ROUNDED percent — the
    *    reference's stored-decimal semantics), dual_flag from
    *    dual_covd, and three covper columns re-derived from their
    *    covd.
    *  - `covd_within_window`: every day count in [0, window].
    *  - `demo_ride_along`: age via the capped rule (>= 90 or
    *    ninety_only → 90; -1 → 0), the 7-level ladder, and the
    *    gender/race columns equal to elig_demo's.
    *  - `one_row_per_member`. */
  def eligPlrQa(plr: DataFrame, timevar: DataFrame, demo: DataFrame,
      zipGroup: DataFrame, fromDate: String, toDate: String): DataFrame = {
    val t = "stage.apcd_elig_plr"
    val from = to_date(lit(fromDate))
    val to = to_date(lit(toDate))
    val windowDays = datediff(to, from) + 1
    val ov = timevar.filter(col("from_date") <= to &&
      col("to_date") >= from)
    val clip = datediff(least(col("to_date"), to),
      greatest(col("from_date"), from)) + 1

    // --- zip pick: exists-a-better-zip anti-test
    val zd = ov.groupBy(col("id_apcd").as("zid"), col("geo_zip"))
      .agg(sum(clip).as("dur"))
    val pick = plr.select(col("id_apcd"), col("geo_zip").as("picked"))
    val pickedDur = pick.join(zd,
        pick("id_apcd") === zd("zid") &&
          (col("picked") <=> zd("geo_zip")), "left")
      .select(col("id_apcd"), col("picked"), col("dur").as("dur_p"))
    def zkey(c: Column) = coalesce(c, lit(""))
    val viol = pickedDur.join(zd, pickedDur("id_apcd") === zd("zid"))
      .filter(col("dur") > col("dur_p") ||
        (col("dur") === col("dur_p") &&
          zkey(col("geo_zip")) < zkey(col("picked"))))
      .select(col("id_apcd")).distinct().withColumn("bad", lit(1))
    val zipRow = verdictRow(
      pick.join(viol, Seq("id_apcd"), "left"), t,
      "geo_zip_longest_duration", lit(1), col("bad") === 1)

    // --- county/ACH ref attach of the picked zip
    val county = zipGroup.filter(col("zip_group_type_desc") === "County")
      .select(col("zip_code"), col("zip_group_desc").as("exp_county"))
      .distinct()
    val achRef = zipGroup
      .filter(col("zip_group_type_desc").startsWith("Acc"))
      .select(col("zip_code").as("ach_zip"),
        col("zip_group_desc").as("exp_ach"))
      .distinct()
    val geoJ = plr.select(col("id_apcd"), col("geo_zip"),
        col("geo_county"), col("geo_ach"))
      .join(broadcast(county), col("geo_zip") === col("zip_code"), "left")
      .join(broadcast(achRef), col("geo_zip") === col("ach_zip"), "left")
    val refRow = verdictRow(geoJ, t, "geo_ref_attach", lit(1),
      !(col("geo_county") <=> col("exp_county")) ||
      !(col("geo_ach") <=> col("exp_ach")))

    // --- days inside the picked ACH + rounded covper
    val achExp = plr.select(col("id_apcd").as("aid"),
        col("geo_ach").as("picked_ach"))
      .join(ov, col("aid") === ov("id_apcd") &&
        col("picked_ach") === ov("geo_ach"))
      .groupBy(col("aid")).agg(sum(clip).as("exp_ach_covd"))
    val achJ = plr.select(col("id_apcd"), col("geo_ach_covd"),
        col("geo_ach_covper"))
      .join(achExp, col("id_apcd") === col("aid"), "left")
    val achRow = verdictRow(achJ, t, "geo_ach_covd_recompute", lit(1),
      !(col("geo_ach_covd") <=> col("exp_ach_covd")) ||
      !(col("geo_ach_covper") <=>
        round(col("exp_ach_covd") * 1.0 / windowDays * 100.0, 1)))

    // --- cohort flags on the rounded percents
    val pctOf = (c: Column) => round(c * 1.0 / windowDays * 100.0, 1)
    val wa = col("geo_county").isNotNull
    val cohortRow = verdictRow(plr, t, "cohort_flags_on_rounded_pct",
      lit(1),
      !(col("geo_wa") <=> wa.cast("int")) ||
      !(col("overall_mcaid") <=> (wa && (col("med_medicaid_covd") >= 1 ||
        col("pharm_medicaid_covd") >= 1)).cast("int")) ||
      !(col("medical_coverage_6mo") <=>
        (wa && col("med_total_covper") >= 50.0).cast("int")) ||
      !(col("medical_coverage_7mo") <=>
        (wa && col("med_total_covper") >= 58.3).cast("int")) ||
      !(col("medical_coverage_11mo") <=>
        (wa && col("med_total_covper") >= 91.7).cast("int")) ||
      !(col("dual_flag") <=> (col("dual_covd") > 0).cast("int")) ||
      !(col("med_total_covper") <=> pctOf(col("med_total_covd"))) ||
      !(col("dual_covper") <=> pctOf(col("dual_covd"))) ||
      !(col("pharm_total_covper") <=> pctOf(col("pharm_total_covd"))))

    // --- clip bounds. The <= window invariant rests on the timevar
    // contract that a person's segments are DISJOINT (true of the
    // production table; its own QA checks contiguity) — the day counts
    // sum clipped segments without merging overlaps, exactly as the
    // reference does, so the bound is only claimable for members whose
    // in-window segments are pairwise disjoint and single-flagged.
    // The battery recomputes that precondition instead of assuming it.
    val covdCols = Seq("med_total_covd", "dual_covd",
      "med_medicaid_covd", "med_medicare_covd", "med_commercial_covd",
      "pharm_total_covd", "pharm_medicaid_covd", "pharm_medicare_covd",
      "pharm_commercial_covd")
    val flagTuple = struct(col("med_covgrp"), col("pharm_covgrp"),
      col("med_medicaid"), col("med_medicare"), col("med_commercial"),
      col("pharm_medicaid"), col("pharm_medicare"),
      col("pharm_commercial"))
    val dup = ov.groupBy(col("id_apcd"), col("from_date"),
        col("to_date"))
      .agg(count_distinct(flagTuple).as("nfl"))
      .filter(col("nfl") > 1).select(col("id_apcd")).distinct()
      .withColumn("multi_flag", lit(1))
    val dseg = ov.select(col("id_apcd"), col("from_date"),
      col("to_date")).distinct()
    val olap = dseg.as("x").join(dseg.as("y"),
        col("x.id_apcd") === col("y.id_apcd") &&
        (col("x.from_date") < col("y.from_date") ||
          (col("x.from_date") === col("y.from_date") &&
            col("x.to_date") < col("y.to_date"))) &&
        col("y.from_date") <= col("x.to_date"))
      .select(col("x.id_apcd").as("id_apcd")).distinct()
      .withColumn("olap", lit(1))
    val boundsRow = verdictRow(
      plr.join(dup, Seq("id_apcd"), "left")
        .join(olap, Seq("id_apcd"), "left"), t,
      "covd_within_window_disjoint_members",
      col("multi_flag").isNull && col("olap").isNull,
      col("multi_flag").isNull && col("olap").isNull &&
        covdCols.map(c => col(c) < 0 || col(c) > windowDays)
          .reduce(_ || _))

    // --- demographics ride-along with the capped-age rule
    val rawAge = DateFns.ageYears(col("dob"), to)
    val demoExp = demo.select(col("id_apcd"),
      when(rawAge >= 90 || col("ninety_only") === 1, 90)
        .when(rawAge >= 0, rawAge)
        .when(rawAge === -1, 0).as("exp_age"),
      col("ninety_only").as("d_ninety"),
      col("gender_me").as("d_gender_me"),
      col("race_eth_me").as("d_race_eth_me"),
      col("race_latino").as("d_race_latino"))
    val demoJ = plr.select(col("id_apcd"), col("age"), col("age_grp7"),
        col("gender_me"), col("race_eth_me"), col("race_latino"))
      .join(demoExp, Seq("id_apcd"), "left")
    val expGrp7 = when(col("age") >= 0 && col("age") < 5, "0-4")
      .when(col("age") >= 5 && col("age") < 12, "5-11")
      .when(col("age") >= 12 && col("age") < 18, "12-17")
      .when(col("age") >= 18 && col("age") < 25, "18-24")
      .when(col("age") >= 25 && col("age") < 45, "25-44")
      .when(col("age") >= 45 && col("age") < 65, "45-64")
      .when(col("age") >= 65 || col("d_ninety") === 1, "65 and over")
    val demoRow = verdictRow(demoJ, t, "demo_ride_along", lit(1),
      !(col("age") <=> col("exp_age")) ||
      !(col("age_grp7") <=> expGrp7) ||
      !(col("gender_me") <=> col("d_gender_me")) ||
      !(col("race_eth_me") <=> col("d_race_eth_me")) ||
      !(col("race_latino") <=> col("d_race_latino")))

    val unique = verdictRow(
      plr.groupBy(col("id_apcd")).agg(count(lit(1)).as("c")), t,
      "one_row_per_member", lit(1), col("c") =!= 1)

    Seq(zipRow, refRow, achRow, cohortRow, boundsRow, demoRow, unique)
      .reduce(_ unionByName _)
  }

  /** qa_stage.apcd_elig_timevar.sql: the monthly member-census review
    * — the reference allocates every timevar segment to calendar
    * months via an interval-overlap join against DISTINCT ref.date
    * months, then tabulates members per month for outlier review: the
    * King-County Medicaid cohort (#temp4, 2.5 min), and NINE separate
    * per-coverage UNION queries over the WA cohort (#temp5, 35 min to
    * stage + 9 min to tabulate). Here the nine arms fuse into ONE
    * conditional-aggregation scan of the month-allocated frame, and
    * the commented per-covgrp exemplar hunts become a distinct-member
    * census per med_covgrp value.
    *
    * Replicated faithfully: the reference counts `count(id_apcd)`
    * over the DISTINCT (id, month, flag-tuple) projection — a member
    * whose segments carry different flag tuples inside one month is
    * counted once per tuple, NOT once (the #temp4/#temp5 distinct
    * precedes the count). The battery reproduces that projection
    * exactly rather than "fixing" it to a distinct-member count.
    *
    * Scale: the month spine is dimension-sized (broadcast); the
    * distinct projections and counts partition on (month) after a
    * member-grain partial aggregation; nothing collects. */
  def timevarMonthQa(timevar: DataFrame, dateDim: DataFrame,
      ymLo: Int, ymHi: Int): DataFrame = {
    val spine = dateDim.select(col("year_month").cast("int").as("ym"),
        col("first_day_month"), col("last_day_month")).distinct()
      .filter(col("ym").between(ymLo, ymHi))
    val ov = timevar.join(broadcast(spine),
      col("from_date") <= col("last_day_month") &&
        col("to_date") >= col("first_day_month"))
    val kc = ov.filter(col("geo_county") === "King" &&
        (col("med_medicaid") === 1 || col("pharm_medicaid") === 1))
      .select(col("id_apcd"), col("ym"), col("dual"),
        col("bsp_group_cid")).distinct()
      .groupBy(col("ym")).agg(count(lit(1)).as("id_dcount"))
      .select(lit("overall_medicaid_by_month").as("section"),
        lit("WA-APCD").as("data_source"),
        lit("Overall Medicaid").as("coverage"),
        col("ym").as("year_month"), col("id_dcount"))
    val flags = Seq(
      "Medicaid medical" -> "med_medicaid",
      "Medicare medical" -> "med_medicare",
      "Commercial medical" -> "med_commercial",
      "Medicaid pharmacy" -> "pharm_medicaid",
      "Medicare pharmacy" -> "pharm_medicare",
      "Commercial pharmacy" -> "pharm_commercial",
      "Medicaid dental" -> "dental_medicaid",
      "Medicare dental" -> "dental_medicare",
      "Commercial dental" -> "dental_commercial")
    val aggs = flags.map { case (_, c) =>
      sum(when(col(c) === 1, 1L).otherwise(0L)).as(c) }
    val stackExpr = "stack(9, " + flags.map { case (n, c) =>
      s"'$n', $c" }.mkString(", ") + ") AS (coverage, id_dcount)"
    val wa = ov.filter(col("geo_wa") === 1)
      .select(col("id_apcd") +: col("ym") +:
        flags.map { case (_, c) => col(c) }: _*)
      .distinct()
      .groupBy(col("ym")).agg(aggs.head, aggs.tail: _*)
      .select(col("ym"), expr(stackExpr))
      .select(lit("wa_by_month_coverage").as("section"),
        lit("WA-APCD").as("data_source"), col("coverage"),
        col("ym").as("year_month"), col("id_dcount"))
    val covg = timevar.groupBy(col("med_covgrp"))
      .agg(count_distinct(col("id_apcd")).as("id_dcount"))
      .select(lit("med_covgrp_census").as("section"),
        lit("WA-APCD").as("data_source"),
        col("med_covgrp").cast("string").as("coverage"),
        lit(null).cast("int").as("year_month"), col("id_dcount"))
    kc.unionByName(wa).unionByName(covg)
  }

  /** qa_stage.apcd_claim_ccw_10009.sql: the reference line-level-QAs
    * one condition per phenotype class (lookback years × condition
    * type) by re-deriving that person's qualification from
    * claim_header + claim_icdcm + ref.icdcm_codes and eyeballing it
    * against the stage.apcd_claim_ccw rows. At population scale, for
    * EVERY configured condition: re-derive the qualifying person set
    * and encounter span with SET mechanics — per-condition joins (the
    * reference's original per-condition formulation) instead of the
    * build's one-scan flag rollup, and an any-pair-within-window self
    * join instead of the build's sorted lead/lag adjacency (provably
    * equivalent: distinct dates make adjacent gaps >= 1 day, and any
    * qualifying pair contains an adjacent qualifying pair) — then
    * count membership and span disagreements against the build.
    *
    * Span conventions replicated from the build (and pinned here):
    * condition-type-1 spans cover claim-1 dates ONLY (the reference's
    * `WHERE c1d IS NOT NULL` pre-aggregation filter silently drops
    * claim-2 rows); condition-type-2 spans cover claim-1 dates plus
    * claim-2 dates that participate in some qualifying pair. */
  def ccwLineQa(build: DataFrame, header: DataFrame, icdcm: DataFrame,
      icdcmRef: DataFrame,
      conds: Seq[graft.builds.CcwConditions.CcwDef],
      idCol: String): DataFrame = {
    def fieldsPred(fields: String): Column = fields match {
      case "1" => col("icdcm_number") === "01"
      case "1-2" | "1;2" => col("icdcm_number").isin("01", "02")
      case _ => lit(true)
    }
    val ver = col("icdcm_version")
    val refR = icdcmRef.withColumnRenamed("icdcm_version", "ref_ver")
    val dxr = icdcm.join(broadcast(refR),
      icdcm("icdcm_norm") === refR("icdcm") &&
        icdcm("icdcm_version") === refR("ref_ver"))
    val monthNum = (d: Column) => year(d) * 12 + month(d)
    val perCond = conds.map { c =>
      val mPred = ((ver === 9 && lit(c.icd9.run) &&
          fieldsPred(c.icd9.dxFields)) ||
        (ver === 10 && lit(c.icd10.run) &&
          fieldsPred(c.icd10.dxFields))) && col(c.flagCol) === 1
      val mcl = dxr.filter(mPred)
        .select(col(idCol), col("claim_header_id")).distinct()
      val clean = c.exclude1 match {
        case Some(xc) =>
          val xPred = ((ver === 9 && fieldsPred(c.icd9.exclude1Fields)) ||
            (ver === 10 && fieldsPred(c.icd10.exclude1Fields))) &&
            col(xc) === 1
          val xcl = dxr.filter(xPred)
            .select(col(idCol), col("claim_header_id")).distinct()
          mcl.join(xcl, Seq(idCol, "claim_header_id"), "left_anti")
        case None => mcl
      }
      val ev = clean.join(header, Seq(idCol, "claim_header_id"))
        .select(col(idCol), col("claim_type_id"),
          col("first_service_date").as("fsd"))
      val c1 = ev.filter(col("claim_type_id").isin(c.dxClaim1: _*))
        .select(col(idCol), col("fsd")).distinct()
      val c2 = ev.filter(col("claim_type_id").isin(c.dxClaim2: _*))
        .select(col(idCol), col("fsd")).distinct()
      val c2p = c2.as("a").join(c2.as("b"),
          col(s"a.$idCol") === col(s"b.$idCol") &&
          col("a.fsd") =!= col("b.fsd") &&
          abs(monthNum(col("a.fsd")) - monthNum(col("b.fsd")))
            <= c.lookbackMonths)
        .select(col(s"a.$idCol").as(idCol), col("a.fsd").as("fsd"))
        .distinct()
      val dates = if (c.claimCount >= 2) c1.unionByName(c2p) else c1
      val red = c1.select(col(idCol)).distinct()
        .unionByName(if (c.claimCount >= 2)
          c2p.select(col(idCol)).distinct()
        else c1.select(col(idCol)).limit(0))
        .distinct()
        .join(dates, Seq(idCol))
        .groupBy(col(idCol))
        .agg(min(col("fsd")).as("rfirst"), max(col("fsd")).as("rlast"))
      val bld = build.filter(col("ccw_code") === c.code)
        .select(col(idCol), col("first_encounter_date").as("bf"),
          col("last_encounter_date").as("bl"))
      bld.withColumn("inb", lit(1))
        .join(red.withColumn("inr", lit(1)), Seq(idCol), "full_outer")
        .agg(
          coalesce(sum(col("inb")), lit(0)).cast("long").as("n_build"),
          coalesce(sum(col("inr")), lit(0)).cast("long")
            .as("n_rederived"),
          coalesce(sum(when(col("inb").isNull || col("inr").isNull, 1)),
            lit(0)).cast("long").as("n_member_mismatch"),
          coalesce(sum(when(col("inb") === 1 && col("inr") === 1 &&
            (!(col("bf") <=> col("rfirst")) ||
             !(col("bl") <=> col("rlast"))), 1)), lit(0)).cast("long")
            .as("n_span_mismatch"))
        .select(lit(c.code).cast("int").as("ccw_code"),
          lit(c.desc).as("ccw_desc"), col("n_build"),
          col("n_rederived"), col("n_member_mismatch"),
          col("n_span_mismatch"),
          (col("n_member_mismatch") === 0 &&
            col("n_span_mismatch") === 0).cast("int").as("pass"))
    }
    perCond.reduce(_ unionByName _)
  }
}
