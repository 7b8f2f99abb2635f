package graft.builds

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.DateFns

/** APCD pregnancy-episode build — the reference's
  * load_stage.apcd_claim_preg_episode.R (the APCD re-run of the Moll
  * et al. 2021 endpoint machinery the mcaid build implements in
  * [[PregEpisode]]), distilled to the steps the mcaid build does NOT
  * have:
  *
  *  - STEPs 1-2 (:26-96): endpoint flags come from the claims' OWN
  *    code vocabularies — distinct ICD-10-CM codes (dx) and procedure
  *    codes (px) are LIKE-joined once against the Moll endpoint
  *    reference's `code_like` prefix patterns to mint an EXACT-join
  *    crosswalk ("claims codes are more detailed than the reference
  *    table"), then fact rows join the crosswalk exactly — the
  *    [[ApcdInjury]]/[[ClaimNaloxone]] vocabulary-first discipline that
  *    keeps the pattern join off the fact table;
  *  - STEPs 3-4 (:97-176): dx ∪ px collapsed to distinct claim
  *    headers, zero-filled flags, per-(person, service day) MAX of each
  *    endpoint flag, `endpoint_dcount` = lb+ect+ab+sa+sb+tro (DELIV
  *    excluded), DELIV recoded to 0 whenever another endpoint is
  *    present, days with >1 distinct endpoint DROPPED, and the
  *    mutually-exclusive endpoint + hierarchy CASE;
  *  - STEP 5-7: identical to mcaid — [[PregEpisode.build]] (the
  *    flatMapGroups WHILE-loop placement) and
  *    [[PregEpisode.withPrenatalWindows]];
  *  - STEP 9 (:2841-2877): join to apcd_elig_demo for age at outcome —
  *    the T-SQL floor((datediff+1)/365.25) age with the ninety_only
  *    cap-to-90 and the floor = -1 -> 0 newborn branch — the cat6 age
  *    bands, and the `between 12 and 55` subset gate.
  *
  * Scale: both vocabulary joins touch distinct codes only (bounded by
  * the code systems, not the corpus); fact-side joins are exact
  * broadcast equi-joins; placement is the one person-keyed shuffle
  * (PregEpisode's single flatMapGroups); the demo join is id-keyed.
  */
object ApcdPregEpisode {

  private val FlagCols = Seq("lb", "ect", "ab", "sa", "sb", "tro", "deliv")

  /** STEPs 1-2: vocabulary LIKE-expansion then exact fact join.
    * `claims` carries (id_person, claim_header_id, last_service_date,
    * `codeCol`); `ref` carries (code_like prefix pattern + the seven
    * 0/1 endpoint flag columns). */
  def codeEndpoints(claims: DataFrame, codeCol: String, ref: DataFrame,
      minDate: String): DataFrame = {
    val recent = claims.filter(col("last_service_date") >= lit(minDate))
    val xwalk = recent.select(col(codeCol).as("_code")).distinct()
      .join(broadcast(ref),
        col("_code").startsWith(regexp_replace(col("code_like"), "%$", "")))
      .select(col("_code") +: FlagCols.map(col): _*)
    recent.join(broadcast(xwalk), col(codeCol) === col("_code"))
      .select(Seq(col("id_person"), col("claim_header_id"),
        col("last_service_date")) ++ FlagCols.map(col): _*)
  }

  /** STEPs 3-4: union-distinct at claim-header grain, zero-fill,
    * per-(person, day) max flags, dcount gate, DELIV recode, endpoint +
    * hierarchy CASE. Output: one row per surviving (person, day) with
    * `preg_endpoint` (the class name [[PregEpisode.build]] consumes). */
  def endpointDays(dx: DataFrame, px: DataFrame): DataFrame = {
    val unioned = dx.unionByName(px).distinct()
      .select(Seq(col("id_person"), col("last_service_date")) ++
        FlagCols.map(c => coalesce(col(c), lit(0)).as(c)): _*)
    val daily = unioned.groupBy(col("id_person"), col("last_service_date"))
      .agg(FlagCols.map(c => max(col(c)).as(c)).head,
        FlagCols.map(c => max(col(c)).as(c)).tail: _*)
      .withColumn("endpoint_dcount",
        col("lb") + col("ect") + col("ab") + col("sa") + col("sb") +
          col("tro"))
      .withColumn("deliv",
        when(col("endpoint_dcount") === 0, col("deliv")).otherwise(0))
    daily.filter(col("endpoint_dcount") <= 1)
      .withColumn("preg_endpoint",
        when(col("lb") === 1, "lb").when(col("ect") === 1, "ect")
          .when(col("ab") === 1, "ab").when(col("sa") === 1, "sa")
          .when(col("sb") === 1, "sb").when(col("tro") === 1, "tro")
          .when(col("deliv") === 1, "deliv"))
      .filter(col("preg_endpoint").isNotNull)
      .select(col("id_person"), col("last_service_date"),
        col("preg_endpoint"))
  }

  /** STEP 9: the T-SQL age CASE (:2847-2850) + cat6 bands + the 12-55
    * subset. `demo` carries (id_person, dob, ninety_only); episodes keep
    * all their columns and gain age_at_outcome / age_at_outcome_cat6. */
  def withAgeAtOutcome(episodes: DataFrame, demo: DataFrame): DataFrame = {
    val raw = DateFns.ageYears(col("dob"), col("preg_end_date"))
    val age = when(raw >= 90 || col("ninety_only") === 1, 90)
      .when(raw >= 0, raw)
      .when(raw === -1, 0)
    episodes
      .join(demo.select(col("id_person"), col("dob"), col("ninety_only")),
        Seq("id_person"), "left")
      .withColumn("age_at_outcome", age.cast("int"))
      .withColumn("age_at_outcome_cat6",
        when(col("age_at_outcome").between(12, 19), "12-19")
          .when(col("age_at_outcome").between(20, 24), "20-24")
          .when(col("age_at_outcome").between(25, 29), "25-29")
          .when(col("age_at_outcome").between(30, 34), "30-34")
          .when(col("age_at_outcome").between(35, 39), "35-39")
          .when(col("age_at_outcome").between(40, 55), "40-55"))
      .filter(col("age_at_outcome").between(12, 55))
      .drop("dob", "ninety_only")
  }

  /** The full composition: endpoint derivation -> 7-class placement ->
    * prenatal windows -> age subset. */
  def build(dxClaims: DataFrame, pxClaims: DataFrame, dxRef: DataFrame,
      pxRef: DataFrame, demo: DataFrame,
      minDate: String = "2016-01-01"): DataFrame = {
    val endpoints = endpointDays(
      codeEndpoints(dxClaims, "icdcm_norm", dxRef, minDate),
      codeEndpoints(pxClaims, "procedure_code", pxRef, minDate))
    val placed = PregEpisode.build(endpoints, "id_person",
      "last_service_date", "preg_endpoint")
    withAgeAtOutcome(PregEpisode.withPrenatalWindows(placed), demo)
  }
}
