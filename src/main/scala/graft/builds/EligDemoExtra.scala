package graft.builds

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** mcaid elig_demo "extra" — the noncisgender demographic flag
  * (load_stage.mcaid_elig_demo_extra.R), a set-algebra cascade over
  * dx / procedure / pharmacy evidence:
  *
  *  - dx sets: gender-dysphoria codes (F64* / F651* / Z87890*) and
  *    endocrine-NOS codes (the E-code charclass battery, :31-44);
  *  - six procedure sets: three transmasculine (one unconditional
  *    list; '58661' minus uterine/ovarian-cancer claims; a second list
  *    minus vaginal-cancer claims — both exclusions CLAIM-level, on
  *    claim_header_id) and three transfeminine (unconditional;
  *    orchiectomy minus testicular cancer; penectomy minus penile
  *    cancer), :45-150;
  *  - four hormone sets resolved through the NDC reference by
  *    nonproprietary-name LIKE, two further gated on parsed
  *    ACTIVE_NUMERATOR_STRENGTH (first ';'-piece, first token,
  *    numeric) × dosage form: testosterone ≥7 injectable / ≥2
  *    gel-patch, spironolactone ≥50 (:151-215);
  *  - assembly (:248-285): trans-unknown = dysphoria minus both proc
  *    sets; endo∩proc, proc∩hormones, and endo∩hormones gated by
  *    recorded gender (masc requires gender_me='Female', fem 'Male');
  *    ids in BOTH final sides conflict out; the union flags
  *    noncisgender = 1 on the demographics table.
  *
  * The reference also pulls two exclusion tables (tbl4e sexual-
  * dysfunction, tbl4f spironolactone-indication dx) that its assembly
  * never references — dead pulls, not reproduced.
  *
  * Every set is "some row of this person satisfies a predicate", so the
  * cascade folds into boolean evidence per person: dys, endo, the
  * procedure sets tmp / tfp, the hormone sets masc_h / fem_h, the
  * recorded gender f_sex / m_sex. Its unions collapse (endo∩tmp and
  * tmp∩masc_h are subsets of tmp):
  *   tm   = tmp ∨ (f_sex ∧ endo ∧ masc_h)
  *   tf   = tfp ∨ (m_sex ∧ endo ∧ fem_h)
  *   flag = (tm ≠ tf) ∨ (dys ∧ ¬tm ∧ ¬tf)
  *
  * Scale shape: one claim-grain aggregation (the four cancer
  * exclusions per claim_header_id, over the dx rows that carry one) and
  * one person-grain aggregation over the union of the row-level
  * evidence of all four inputs — each input scanned once for it, the
  * NDC reference broadcast. Three joins: procedures to the claim
  * exclusions, pharmacy to the reference, demographics to the flagged
  * ids. A person id never matches null, so null ids are never flagged.
  */
object EligDemoExtra {

  private val evidence = Seq("dys", "endo", "tmp", "tfp", "masc_h",
    "fem_h", "f_sex", "m_sex")

  /** "Some row satisfies p", null-safe: a null predicate is false, as
    * it is in a filter. */
  private def any(p: Column): Column = coalesce(bool_or(p), lit(false))

  private val personAggs = evidence.map(e => any(col(e)).as(e))

  /** One input's row-level evidence: id_mcaid plus every evidence
    * column, false where this input carries none. */
  private def rows(df: DataFrame, flags: (String, Column)*): DataFrame = {
    val m = flags.toMap
    df.select(col("id_mcaid") +:
      evidence.map(e => m.getOrElse(e, lit(false)).as(e)): _*)
  }

  /** @param icdcm  (id_mcaid, claim_header_id, icdcm_norm,
    *               icdcm_version)
    * @param proc   (id_mcaid, claim_header_id, procedure_code)
    * @param pharm  (id_mcaid, ndc)
    * @param demo   (id_mcaid, gender_me)
    * @param ndcRef (ndc, nonproprietaryname, dosageformname,
    *               active_numerator_strength, active_ingred_unit)
    * @return demo + noncisgender flag */
  def build(icdcm: DataFrame, proc: DataFrame, pharm: DataFrame,
      demo: DataFrame, ndcRef: DataFrame): DataFrame = {
    val norm = col("icdcm_norm")
    val v9 = col("icdcm_version") === 9
    val v10 = col("icdcm_version") === 10

    val dys = norm.rlike("^(F64|F651|Z87890)")
    val endo = norm.rlike(
      "^(E34[89]|E0[0-7]|E2[0-7]|E31|E34[0-4]|E7|E8[03457]|E88[0-4])")

    val uterDx = (v9 && norm.startsWith("183")) ||
      (v10 && norm.rlike("^C5[67]"))
    val vagDx = (v9 && norm.startsWith("184")) ||
      (v10 && norm.rlike("^C5[12]"))
    val testDx = (v9 && norm.rlike("^187[5-9]")) ||
      (v10 && norm.rlike("^C6[23]"))
    val penDx = (v9 && norm.rlike("^187[1-4]")) ||
      (v10 && norm.startsWith("C60"))
    val claimExcl = icdcm.filter(uterDx || vagDx || testDx || penDx)
      .groupBy(col("claim_header_id"))
      .agg(any(uterDx).as("uter"), any(vagDx).as("vag"),
        any(testDx).as("test"), any(penDx).as("pen"))

    // the reference's '0W4NOK1' carries a letter O (ICD-10-PCS never
    // does) and can never match — the evident intent '0W4N0K1' is
    // implemented, same discipline as ClaimNaloxone's 'G2216 ' literal
    val ftm = Seq("0W4N071", "0W4N0J1", "0W4N0K1", "15757", "53410",
      "55175", "55180", "55899", "55980", "57120", "64856")
    val ftmNoUter = Seq("58661")
    val ftmNoVag = Seq("58661", "704", "7162", "0UTG0ZZ", "0UTG4ZZ",
      "0UTG7ZZ", "0UTG8ZZ", "0UTM0ZZ", "0UTMXZZ")
    val mtf = Seq("0W4M070", "0W4M0J0", "0W4M0K0", "0W4M0Z0", "21209",
      "31899", "53430", "54125", "55970", "56805", "57335", "58999")
    val mtfNoTest = Seq("54520", "54690")
    val mtfNoPen = Seq("643", "0VTS0ZZ", "0VTS4ZZ", "0VTSXZZ")
    val code = col("procedure_code")
    def unless(flag: String): Column = !coalesce(col(flag), lit(false))
    val procEv = proc
      .filter(code.isin(
        (ftm ++ ftmNoVag ++ mtf ++ mtfNoTest ++ mtfNoPen).distinct: _*))
      .join(claimExcl, Seq("claim_header_id"), "left")
    val tmp = code.isin(ftm: _*) ||
      (code.isin(ftmNoUter: _*) && unless("uter")) ||
      (code.isin(ftmNoVag: _*) && unless("vag"))
    val tfp = code.isin(mtf: _*) ||
      (code.isin(mtfNoTest: _*) && unless("test")) ||
      (code.isin(mtfNoPen: _*) && unless("pen"))

    val name = upper(col("nonproprietaryname"))
    val strength = split(split(col("active_numerator_strength"), ";")
      .getItem(0), " ").getItem(0).cast("double")
    val femNoReq = name.contains("ESTRAD") || name.contains("ESTRO") ||
      name.contains("ESTRIOL") || name.contains("ESTR/PRG")
    val mascNoReq = name.contains("DIHYDROTESTOSTERONE PROPIONATE") ||
      name.contains("NANDROLONE") || name.contains("STANOLONE") ||
      name.contains("STANOZOLOL")
    val mascMinReq = name.contains("TESTOSTERONE") &&
      ((strength >= 7 && col("dosageformname")
          .isin("INJECTION", "INJECTION, SOLUTION")) ||
        (strength >= 2 && col("dosageformname")
          .isin("GEL", "PATCH", "GEL, METERED")))
    val femMinReq = name.contains("SPIRONOLACTONE") && strength >= 50
    val hormones = ndcRef.select(col("ndc"),
        (mascNoReq || mascMinReq).as("masc_h"),
        (femNoReq || femMinReq).as("fem_h"))
      .filter(col("masc_h") || col("fem_h"))

    val gender = col("gender_me")
    val person = rows(icdcm.filter(dys || endo),
          "dys" -> dys, "endo" -> endo)
      .union(rows(procEv.filter(tmp || tfp), "tmp" -> tmp, "tfp" -> tfp))
      .union(rows(pharm.join(broadcast(hormones), Seq("ndc")),
          "masc_h" -> col("masc_h"), "fem_h" -> col("fem_h")))
      .union(rows(demo.filter(gender.isin("Female", "Male")),
          "f_sex" -> (gender === "Female"), "m_sex" -> (gender === "Male")))
      .groupBy(col("id_mcaid"))
      .agg(personAggs.head, personAggs.tail: _*)

    val tm = col("tmp") || (col("f_sex") && col("endo") && col("masc_h"))
    val tf = col("tfp") || (col("m_sex") && col("endo") && col("fem_h"))
    val flagged = person.filter((tm =!= tf) || (col("dys") && !tm && !tf))
      .select(col("id_mcaid"), lit(1).as("noncisgender"))

    demo.join(flagged, Seq("id_mcaid"), "left")
      .select(col("id_mcaid"), col("gender_me"),
        coalesce(col("noncisgender"), lit(0)).as("noncisgender"))
  }
}
