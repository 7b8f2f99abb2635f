package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ref.icdcm_codes master ENRICHMENT
  * (ref/tables/load_ref.icdcm_codes.R:103-842) — the build that turns
  * the combined CMS ICD-9/10-CM code list (combine_icdcm_codes.R, our
  * q282 kernel) into the `icdcm_codes` reference table every dx
  * consumer in the catalog reads (claim_icdcm_header joins it at
  * load_stage.mcaid_claim_header.R:188-189, the CCW loop at
  * load_ccw.R:533-538, the injury cascade):
  *
  *  - Step 2 (:117-186): CDC external-cause-of-injury matrix. ICD-9
  *    joins at full code. ICD-10 joins at full code, then FALLS BACK
  *    through 6-digit and 5-digit truncations of the MATRIX codes —
  *    a truncation key is kept only when it is unambiguous (exactly
  *    one matrix row shares it; ambiguous keys are blanked to '',
  *    load_ref.icdcm_codes.R:139-170), and the coalesce precedence is
  *    full > 6-digit > 5-digit (:181-205).
  *  - Step 3 (:243-278): CCW lookup pivoted wide to ccw_* flag
  *    columns (1/NULL), joined at (dx, ver). The reference `stop()`s
  *    when a dx row carries no condition (:268-272); here the
  *    equivalent guard is a vocabulary-sized aggregate requiring every
  *    long row's abbrev to be in the declared list (a static pivot
  *    list would otherwise DROP unknown abbrevs silently — the exact
  *    failure the reference gate exists to catch).
  *  - Step 4 (:285-672): CCS. ICD-9 derives broad/detail category
  *    code+description from the multi-level CCS lookup via the
  *    reference's literal case_when tables (incl. the 6.7/EAR vs
  *    6.8/EYE code-description MISMATCH, kept faithfully), the
  *    plain-language recode, the catch-all flag, and the two
  *    cross-version normalization recodes; missing rows fill ONCE
  *    from a lexicographic neighbor sharing the first 3 code digits
  *    (:547-576 — unfilled rows legitimately remain). ICD-10 derives
  *    from the CCSR csv (punctuation-stripped keys, broad code =
  *    first 3 of the detail code) and fills in a WHILE LOOP
  *    (:590-663): each pass copies from the lead/lag neighbor sharing
  *    a 6-, 5-, 4- or 3-digit prefix (longest first, lead before
  *    lag), repeated until no ccs_broad_desc is missing. Both sides
  *    then join the midlevel/superlevel crosswalk on the NORMALIZED
  *    detail description (:668-677).
  *  - Step 5 (:680-746): RDA MH/SUD value set pivoted to per-condition
  *    flags with mh_any/sud_any/bh_any coalesce summaries (the ICD-9
  *    era has no sud_inhalant column — the bind leaves it NULL).
  *  - Step 6 (:750-785): bind 10 then 9, rename to icdcm/
  *    icdcm_version/icdcm_description, project the published column
  *    set, distinct. (last_run is audit metadata, not query
  *    semantics — dropped, the q230 discipline.)
  *
  * SCALE — the neighbor-fill windows: the reference uses a GLOBAL
  * lead/lag over the code-sorted frame. Every fill branch requires the
  * neighbor to share at least the first 3 code characters, and rows
  * sharing a 3-char prefix are CONTIGUOUS in lexicographic order — so
  * a window partitioned by `substring(code, 1, 3)` and ordered by code
  * sees exactly the neighbors the global window would offer wherever
  * any branch can fire (outside the partition the global neighbor has
  * a different 3-prefix and every branch is false anyway). That turns
  * the reference's single-threaded global sort into a keyed window
  * over bounded prefix groups — no global exchange, GlobalWindowGuard
  * clean. The while loop localCheckpoints each pass (bounded lineage)
  * and its convergence probe is a 1-value aggregate per pass over the
  * vocabulary-sized code table; passes are data-bounded (the longest
  * seedless run inside one prefix group) with a hard cap.
  *
  * All literal mapping tables below are PUBLIC data rendered twice —
  * once as Spark when-chains, once (by [[graft.SparkEntry]]'s oracle
  * generator) as DuckDB CASE text — from the single definition here,
  * so oracle and engine cannot drift.
  */
object IcdcmEnrich {

  // ---------------------------------------------------------------
  // Literal rule data (load_ref.icdcm_codes.R, cited per block)
  // ---------------------------------------------------------------

  /** One broad-category rule for the ICD-9 CCS derivation
    * (:303-351). Evaluated in order; first hit wins. */
  sealed trait BroadCond
  /** multiccs_lv1 == v */
  final case class Lv1Eq(v: String) extends BroadCond
  /** multiccs_lv2 %in% vs */
  final case class Lv2In(vs: Seq[String]) extends BroadCond
  /** multiccs_lv2 == lv2 | multiccs_lv1 == lv1 */
  final case class Lv2OrLv1(lv2: String, lv1: String) extends BroadCond
  /** ccs == "259" */
  case object Ccs259 extends BroadCond
  /** str_detect(ccs, "^26") & multiccs_lv1 == "18" */
  case object Ccs26Lv18 extends BroadCond

  /** (condition, ccs_broad_desc, ccs_broad_code) in reference order
    * (load_ref.icdcm_codes.R:306-351). The 6.7→EAR / 6.8→EYE rows
    * carry the reference's own desc/code mismatch. */
  val broad9Rules: Seq[(BroadCond, String, String)] = Seq(
    (Lv1Eq("1"), "Certain infectious and parasitic diseases", "INF"),
    (Lv1Eq("2"), "Neoplasms", "NEO"),
    (Lv2In(Seq("3.1", "3.2", "3.3", "3.4", "3.5", "3.6", "3.7", "3.8",
      "3.9", "3.11")),
      "Endocrine, nutritional and metabolic diseases", "END"),
    (Lv2OrLv1("3.10", "4"),
      "Diseases of the blood and blood-forming organs and certain " +
        "disorders involving the immune mechanism", "BLD"),
    (Lv1Eq("5"), "Mental, behavioral and neurodevelopmental disorders",
      "MBD"),
    (Lv2In(Seq("6.1", "6.2", "6.3", "6.4", "6.5", "6.6", "6.9")),
      "Diseases of the nervous system", "NVS"),
    (Lv2In(Seq("6.7")), "Diseases of the eye and adnexa", "EAR"),
    (Lv2In(Seq("6.8")), "Diseases of the ear and mastoid process", "EYE"),
    (Lv1Eq("7"), "Diseases of the circulatory system", "CIR"),
    (Lv1Eq("8"), "Diseases of the respiratory system", "RSP"),
    (Lv2In(Seq("9.1", "9.3", "9.4", "9.5", "9.6", "9.7", "9.8", "9.9",
      "9.10", "9.11", "9.12")),
      "Diseases of the digestive system", "DIG"),
    (Lv2In(Seq("9.2")), "Dental diseases", "DEN"),
    (Lv1Eq("10"), "Diseases of the genitourinary system", "GEN"),
    (Lv1Eq("11"), "Pregnancy, childbirth and the puerperium", "PRG"),
    (Lv1Eq("12"), "Diseases of the skin and subcutaneous tissue", "SKN"),
    (Lv1Eq("13"),
      "Diseases of the musculoskeletal system and connective tissue",
      "MUS"),
    (Lv1Eq("14"),
      "Congenital malformations, deformations and chromosomal " +
        "abnormalities", "MAL"),
    (Lv1Eq("15"),
      "Certain conditions originating in the perinatal period", "PNL"),
    (Lv1Eq("16"),
      "Injury, poisoning and certain other consequences of external " +
        "causes", "INJ"),
    (Lv2In(Seq("17.1")),
      "Symptoms, signs and abnormal clinical and laboratory findings, " +
        "not elsewhere classified", "SYM"),
    (Lv2In(Seq("17.2")),
      "Factors influencing health status and contact with health " +
        "services", "FAC"),
    (Ccs259, "_UNCLASSIFIED", "_UNCLASSIFIED"),
    (Ccs26Lv18, "External causes of morbidity", "EXT"))

  /** lv2 values whose DETAIL category comes from level 3 (:355, :364). */
  val detailFromLv3: Seq[String] =
    Seq("2.2", "2.11", "16.10", "17.1", "17.2")

  /** Plain-language recode of ccs_detail_desc keyed by detail CODE
    * (:373-404). */
  val plainLang9: Seq[(Seq[String], String)] = Seq(
    (Seq("1.2"), "Fungal infections"),
    (Seq("10.1"), "Urinary system disease"),
    (Seq("10.2"), "Male reproductive system disease"),
    (Seq("10.3"), "Female reproductive system disease"),
    (Seq("11.1"), "Birth control management"),
    (Seq("11.2", "11.3", "11.4", "11.5", "11.6"),
      "Pregnancy/childbirth complications"),
    (Seq("11.7"), "Normal pregnancy and/or delivery"),
    (Seq("12.1"), "Skin infections"),
    (Seq("13.2"), "Joint disorders (e.g., arthritis)"),
    (Seq("13.3"), "Spine and back disorders"),
    (Seq("15.1"), "Birth of child"),
    (Seq("16.2"), "Broken bones"),
    (Seq("16.8"), "Minor injuries (e.g., bruise)"),
    (Seq("246"), "Fever of unknown cause"),
    (Seq("5.11"), "Alcohol use disorders"),
    (Seq("5.12"), "Substance use disorders"),
    (Seq("5.13"), "Suicide and self-harm"),
    (Seq("5.14"), "Mental health/SUD screening"),
    (Seq("6.4"), "Seizure disorders"),
    (Seq("6.5"), "Headache"),
    (Seq("7.2"), "Heart disease"),
    (Seq("8.2"), "Chronic obstructive pulmonary disease"),
    (Seq("8.6"), "Failure of the respiratory system"),
    (Seq("9.10"), "Bleeding in the stomach/intestines"),
    (Seq("9.11"),
      "Non-infectious inflammation of the stomach/intestines"),
    (Seq("9.12"), "Other disorders of the stomach/intestines"),
    (Seq("9.2"), "Dental disease"))

  /** ICD-9 catch-all detail codes (:408-412). */
  val catchAll9: Seq[String] = Seq("1.4", "11.6", "12.2", "12.4",
    "13.8", "13.9", "14.5", "15.7", "16.12", "2.14", "20", "258",
    "259", "2618", "2619", "2620", "3.11", "3.4", "4.4", "5.15",
    "5.6", "5.7", "6.9", "8.8", "8.9", "9.12")

  /** Cross-version broad-category recode keyed by (plain-language)
    * detail desc (:417-427): desc → (broad_desc, broad_code). */
  val normalizeBroad9: Seq[(String, (String, String))] = Seq(
    "Allergic reactions" -> (("Injury, poisoning and certain other " +
      "consequences of external causes", "INJ")),
    "Gangrene" -> (("Diseases of the circulatory system", "CIR")))

  /** Cross-version detail-desc recode, ICD-9 side (:428-450). */
  val normalizeDetail9: Seq[(String, String)] = Seq(
    "Other infections; including parasitic" ->
      "Parasitic, other specified and unspecified infections",
    "Dental disease" ->
      "Any dental condition including traumatic injury",
    "Bleeding in the stomach/intestines" ->
      "Gastrointestinal hemorrhage",
    "Pancreatic disorders (not diabetes)" ->
      "Pancreatic disorders (excluding diabetes)",
    "Headache" -> "Headache; including migraine",
    "Aspiration pneumonitis; food/vomitus" -> "Aspiration pneumonitis",
    "Failure of the respiratory system" ->
      "Respiratory failure; insufficiency; arrest",
    "Pleurisy; pneumothorax; pulmonary collapse" ->
      "Pleurisy, pleural effusion and pulmonary collapse",
    "Diabetes mellitus with complications" ->
      "Diabetes mellitus with complication",
    "Diabetes mellitus without complication" ->
      "Diabetes mellitus without complication",
    "Administrative/social admission" ->
      "Encounter for administrative purposes",
    "Alcohol use disorders" -> "Alcohol-related disorders",
    "Anxiety disorders" -> "Anxiety and fear-related disorders",
    "Attention deficit conduct and disruptive behavior disorders" ->
      "Disruptive, impulse-control and conduct disorders",
    "Developmental disorders" -> "Neurodevelopmental disorders",
    "Mood disorders" -> "Depressive disorders",
    "Schizophrenia and other psychotic disorders" ->
      "Schizophrenia spectrum and other psychotic disorders",
    "Suicide and self-harm" ->
      "Suicidal ideation/attempt/intentional self-harm",
    "Cancer; other and unspecified primary" -> "Cancer of other sites",
    "Normal pregnancy and/or delivery" ->
      "Uncomplicated pregnancy, delivery or puerperium",
    "Abdominal pain" ->
      "Abdominal pain and other digestive/abdomen signs and symptoms",
    "Bacterial infection" -> "Bacterial infections")

  /** CCSR broad code → broad description, ICD-10 side (:477-501). */
  val broadDesc10: Seq[(String, String)] = Seq(
    "BLD" -> ("Diseases of the blood and blood-forming organs and " +
      "certain disorders involving the immune mechanism"),
    "CIR" -> "Diseases of the circulatory system",
    "DEN" -> "Dental diseases",
    "DIG" -> "Diseases of the digestive system",
    "EAR" -> "Diseases of the ear and mastoid process",
    "END" -> "Endocrine, nutritional and metabolic diseases",
    "EXT" -> "External causes of morbidity",
    "EYE" -> "Diseases of the eye and adnexa",
    "FAC" -> ("Factors influencing health status and contact with " +
      "health services"),
    "GEN" -> "Diseases of the genitourinary system",
    "INF" -> "Certain infectious and parasitic diseases",
    "INJ" -> ("Injury, poisoning and certain other consequences of " +
      "external causes"),
    "MAL" -> ("Congenital malformations, deformations and chromosomal " +
      "abnormalities"),
    "MBD" -> "Mental, behavioral and neurodevelopmental disorders",
    "MUS" -> ("Diseases of the musculoskeletal system and connective " +
      "tissue"),
    "NEO" -> "Neoplasms",
    "NVS" -> "Diseases of the nervous system",
    "PNL" -> "Certain conditions originating in the perinatal period",
    "PRG" -> "Pregnancy, childbirth and the puerperium",
    "RSP" -> "Diseases of the respiratory system",
    "SKN" -> "Diseases of the skin and subcutaneous tissue",
    "SYM" -> ("Symptoms, signs and abnormal clinical and laboratory " +
      "findings, not elsewhere classified"))

  /** ICD-10 catch-all detail codes (:505-511). */
  val catchAll10: Seq[String] = Seq("INF009", "PRG028", "SKN002",
    "SKN007", "MUS025", "MUS028", "MAL010", "PNL013", "INJ026",
    "INJ027", "INJ063", "INJ064", "INJ073", "INJ074", "INJ076",
    "NEO021", "NEO028", "NEO071", "NEO072", "FAC010", "EXT018",
    "EXT019", "END015", "END016", "BLD010", "NEO069", "MBD013",
    "NVS006", "RSP006", "RSP007", "RSP016", "DIG025")

  /** Cross-version detail-desc recode, ICD-10 side (:515-538). */
  val normalizeDetail10: Seq[(String, String)] = Seq(
    "Liveborn" -> "Birth of child",
    "Other specified and unspecified perinatal conditions" ->
      "Other perinatal conditions",
    "Other specified and unspecified congenital anomalies" ->
      "Other congenital anomalies",
    "Other specified and unspecified hematologic conditions" ->
      "Other hematologic conditions",
    "Hypertension with complications and secondary hypertension" ->
      "Hypertension",
    "Acquired deformities (excluding foot)" -> "Acquired deformities",
    "Other specified bone disease and musculoskeletal deformities" ->
      "Other bone disease and musculoskeletal deformities",
    "Other specified connective tissue disease" ->
      "Other connective tissue disease",
    ("Other nervous system disorders (neither hereditary nor " +
      "degenerative)") -> "Other nervous system disorders",
    "Other nervous system disorders (often hereditary or degenerative)"
      -> "Hereditary and degenerative nervous system conditions",
    "Paralysis (other than cerebral palsy)" -> "Paralysis",
    "Chronic obstructive pulmonary disease and bronchiectasis" ->
      "Chronic obstructive pulmonary disease",
    "Other specified and unspecified lower respiratory disease" ->
      "Other lower respiratory disease",
    "Other specified and unspecified upper respiratory disease" ->
      "Other upper respiratory disease",
    "Other specified and unspecified skin disorders" ->
      "Other skin disorders",
    "Other specified inflammatory condition of skin" ->
      "Other inflammatory condition of skin",
    "Skin and subcutaneous tissue infections" -> "Skin infections",
    "Other specified and unspecified endocrine disorders" ->
      "Other endocrine disorders",
    ("Other specified and unspecified nutritional and metabolic " +
      "disorders") ->
      "Other nutritional; endocrine; and metabolic disorders",
    ("Encounter for observation and examination for conditions ruled " +
      "out (excludes infectious disease, neoplasm, mental disorders)")
      -> ("Other screening for suspected conditions (not mental " +
        "disorders or infectious disease)"),
    "Other aftercare encounter" -> "Other aftercare",
    "Miscellaneous mental and behavioral disorders/conditions" ->
      "Miscellaneous mental health disorders",
    "Fever" -> "Fever of unknown origin")

  /** RDA sub-group condition columns (:700-744): the mh_any coalesce
    * list, the ICD-9 sud_any list (no inhalant), and the ICD-10
    * sud_any list (inhalant after hallucinogen). */
  val mhConds: Seq[String] = Seq("mh_adhd", "mh_adjustment",
    "mh_anxiety", "mh_depression", "mh_disrupt", "mh_mania_bipolar",
    "mh_psychotic", "mh_other")
  val sudConds9: Seq[String] = Seq("sud_alcohol", "sud_cannabis",
    "sud_cocaine", "sud_hallucinogen", "sud_opioid", "sud_sedative",
    "sud_other_stimulant", "sud_other_substance")
  val sudConds10: Seq[String] = Seq("sud_alcohol", "sud_cannabis",
    "sud_cocaine", "sud_hallucinogen", "sud_inhalant", "sud_opioid",
    "sud_sedative", "sud_other_stimulant", "sud_other_substance")

  /** The published (hash-compared) column set, minus last_run
    * (:765-781). sud_inhalant sits in sorted ccw/flag company; the
    * driver compare is column-name-sorted so ordering is cosmetic. */
  def finalColumns(ccwCols: Seq[String]): Seq[String] =
    Seq("icdcm", "icdcm_version", "icdcm_description",
      "ccs_superlevel_desc", "ccs_broad_desc", "ccs_broad_code",
      "ccs_midlevel_desc", "ccs_detail_desc", "ccs_detail_code",
      "ccs_catch_all") ++ ccwCols.sorted ++
      Seq("bh_any", "mh_any", "sud_any") ++ mhConds ++ sudConds10 ++
      Seq("intent", "mechanism", "mechanism_full")

  // ---------------------------------------------------------------
  // Spark renderers for the rule data
  // ---------------------------------------------------------------

  private def broadCond(c: BroadCond): Column = c match {
    case Lv1Eq(v) => col("multiccs_lv1") === v
    case Lv2In(vs) => col("multiccs_lv2").isin(vs: _*)
    case Lv2OrLv1(l2, l1) =>
      col("multiccs_lv2") === l2 || col("multiccs_lv1") === l1
    case Ccs259 => col("ccs") === "259"
    case Ccs26Lv18 =>
      col("ccs").startsWith("26") && col("multiccs_lv1") === "18"
  }

  private def chain(arms: Seq[(Column, Column)],
      otherwiseV: Column): Column =
    arms.foldRight(otherwiseV) { case ((c, v), acc) => when(c, v).otherwise(acc) }

  /** str_trim(str_replace_all(x, "\\[([^\\[\\]]+)\\]", "")) — the
    * bracket-annotation strip (:355-359). */
  private def stripBrackets(c: Column): Column =
    trim(regexp_replace(c, "\\[[^\\[\\]]+\\]", ""))

  /** Recode by exact match on a key column; unmatched keep `keep`. */
  private def recode(key: Column, m: Seq[(String, String)],
      keep: Column): Column =
    chain(m.map { case (k, v) => (key === k, lit(v)) }, keep)

  // ---------------------------------------------------------------
  // Kernel
  // ---------------------------------------------------------------

  /** The 6/5/4/3-digit neighbor-fill pass over a version frame:
    * every fill branch needs a shared prefix of at least `minLen`…
    * see the object doc for why partitioning the window by the
    * 3-char prefix is exactly the reference's global lead/lag. */
  private val fillCols = Seq("ccs_broad_desc", "ccs_broad_code",
    "ccs_detail_desc", "ccs_detail_code", "ccs_catch_all")

  private def fillPass(df: DataFrame, prefixLens: Seq[Int]): DataFrame = {
    val w = Window.partitionBy(substring(col("icdcode"), 1, 3))
      .orderBy(col("icdcode"))
    val ld = lead(col("icdcode"), 1).over(w)
    val lg = lag(col("icdcode"), 1).over(w)
    val filled = fillCols.map { c =>
      val arms = prefixLens.flatMap { n =>
        Seq(
          (substring(col("icdcode"), 1, n) === substring(ld, 1, n),
            lead(col(c), 1).over(w)),
          (substring(col("icdcode"), 1, n) === substring(lg, 1, n),
            lag(col(c), 1).over(w)))
      }
      chain((col(c).isNotNull, col(c)) +: arms,
        lit(null)).as(c)
    }
    val keep = df.columns.filterNot(fillCols.contains)
      .map(col).toIndexedSeq
    df.select(keep ++ filled: _*)
  }

  /** Wide per-condition flag frame from a long (code, cond) frame:
    * the pivot_wider with values=1 (:256, :700). `conds` is the
    * static schema the reference's coalesce lists hard-code. */
  private def pivotFlags(long: DataFrame, key: String, condCol: String,
      conds: Seq[String]): DataFrame =
    long.groupBy(col(key))
      .pivot(condCol, conds)
      .agg(max(lit(1)))

  /** Full enrichment. Inputs:
    *  - master   (icdcode, dx_description, ver) — the q282 combine
    *  - extCause (code, version, intent, mechanism, mechanism_full)
    *  - ccwLong  (dx, ver, ccw_abbrev) — long form of the ccw_lookup
    *    workbook; `ccwAbbrevs` is the declared vocabulary (the gate
    *    below rejects rows outside it)
    *  - ccs9Raw  (icdcode, ccs, multiccs_lv1, multiccs_lv2,
    *    multiccs_lv3, multiccs_lv2_description,
    *    multiccs_lv3_description)
    *  - ccs10Raw (icdcode, ccs_detail_code, ccs_detail_desc) — the
    *    CCSR csv columns, punctuation NOT yet stripped
    *  - xwalk    (ccs_detail_desc, ccs_midlevel_desc,
    *    ccs_superlevel_desc)
    *  - rdaLong  (code, icdcm_version, sub_group_condition)
    */
  def enrich(master: DataFrame, extCause: DataFrame, ccwLong: DataFrame,
      ccwAbbrevs: Seq[String], ccs9Raw: DataFrame, ccs10Raw: DataFrame,
      xwalk: DataFrame, rdaLong: DataFrame,
      maxFillPasses: Int = 8): DataFrame = {

    val icd9 = master.filter(col("ver") === 9)
    val icd10 = master.filter(col("ver") === 10)

    // ---- Step 2: external cause of injury ----
    val extC = Seq("intent", "mechanism", "mechanism_full")
    val ext9 = extCause.filter(col("version") === 9)
      .select((col("code") +: extC.map(col)): _*)
    val icd9Ext = icd9.join(broadcast(ext9),
      icd9("icdcode") === ext9("code"), "left").drop("code")

    // ICD-10: blank ambiguous truncation keys (:139-170) then the
    // full → 6 → 5 coalesce cascade (:181-205). All matrix frames are
    // vocabulary-sized — broadcast joins, no shuffle.
    val ext10base = extCause.filter(col("version") === 10)
      .withColumn("code_6", substring(col("code"), 1, 6))
      .withColumn("code_5", substring(col("code"), 1, 5))
    def uniqKeys(k: String): DataFrame = ext10base.groupBy(col(k))
      .agg(count(lit(1)).as("cnt"), max(col("intent")).as("u_intent"))
      .filter(col("cnt") === 1).select(col(k).as(s"u_$k"),
        col("u_intent"))
    // the reference blanks on !is.na(intent.y): an unambiguous key
    // whose single row carries a NULL intent is blanked too
    val ext10 = ext10base
      .join(broadcast(uniqKeys("code_6")),
        col("code_6") === col("u_code_6"), "left")
      .withColumn("code_6",
        when(col("u_intent").isNotNull, col("code_6")).otherwise(lit("")))
      .drop("u_code_6", "u_intent")
      .join(broadcast(uniqKeys("code_5")),
        col("code_5") === col("u_code_5"), "left")
      .withColumn("code_5",
        when(col("u_intent").isNotNull, col("code_5")).otherwise(lit("")))
      .drop("u_code_5", "u_intent")
      .select(col("code"), col("code_6"), col("code_5"),
        col("intent"), col("mechanism"), col("mechanism_full"))

    def extArm(keyCols: Seq[String], suffix: String): DataFrame =
      ext10.select((keyCols.map(col) ++
        extC.map(c => col(c).as(s"${c}_$suffix"))): _*)
    val icd10Ext = icd10
      .withColumn("icd_6", substring(col("icdcode"), 1, 6))
      .withColumn("icd_5", substring(col("icdcode"), 1, 5))
      .join(broadcast(extArm(Seq("code"), "f")),
        col("icdcode") === col("code"), "left").drop("code")
      .join(broadcast(extArm(Seq("code_6"), "s6")),
        col("icd_6") === col("code_6"), "left").drop("code_6")
      .join(broadcast(extArm(Seq("code_5"), "s5")),
        col("icd_5") === col("code_5"), "left").drop("code_5")
      .select((Seq(col("icdcode"), col("dx_description"), col("ver")) ++
        extC.map(c => coalesce(col(s"${c}_f"), col(s"${c}_s6"),
          col(s"${c}_s5")).as(c))): _*)

    // ---- Step 3: CCW flags ----
    // The reference stop() (:268-272): a static pivot list silently
    // drops abbrevs outside the vocabulary, so gate on them instead.
    // One vocabulary-sized aggregate; 1-row collect.
    val badAbbrev = ccwLong
      .filter(col("ccw_abbrev").isNull ||
        !col("ccw_abbrev").isin(ccwAbbrevs: _*))
      .count()
    require(badAbbrev == 0L,
      s"CCW rows outside the declared condition vocabulary: $badAbbrev")
    val ccwCols = ccwAbbrevs.map(a => s"ccw_$a")
    val ccwWide = ccwLong
      .select(col("dx"), col("ver").as("ccw_ver"),
        concat(lit("ccw_"), col("ccw_abbrev")).as("ccw_abbrev"))
      .groupBy(col("dx"), col("ccw_ver"))
      .pivot("ccw_abbrev", ccwCols).agg(max(lit(1)))
    def joinCcw(df: DataFrame): DataFrame =
      df.join(broadcast(ccwWide),
        df("icdcode") === ccwWide("dx") &&
          df("ver") === ccwWide("ccw_ver"), "left")
        .drop("dx", "ccw_ver")

    // ---- Step 4A/4C: CCS, ICD-9 side ----
    val broadDescC = chain(broad9Rules.map { case (c, d, _) =>
      (broadCond(c), lit(d)) }, lit(null))
    val broadCodeC = chain(broad9Rules.map { case (c, _, k) =>
      (broadCond(c), lit(k)) }, lit(null))
    val lv3Detail = col("multiccs_lv2").isin(detailFromLv3: _*)
    val detailDesc0 = when(lv3Detail,
        stripBrackets(col("multiccs_lv3_description")))
      .when(broadCond(Ccs259), lit("_UNCLASSIFIED"))
      .when(broadCond(Ccs26Lv18), lit("External causes of morbidity"))
      .otherwise(stripBrackets(col("multiccs_lv2_description")))
    val detailCode0 = when(lv3Detail, col("multiccs_lv3"))
      .when(broadCond(Ccs259), col("ccs"))
      .when(broadCond(Ccs26Lv18), col("ccs"))
      .otherwise(col("multiccs_lv2"))
    val plainArms = plainLang9.flatMap { case (ks, v) =>
      ks.map(k => (k, v)) }
    val ccs9a = ccs9Raw.select(col("icdcode").as("ccs_dx"),
      broadDescC.as("ccs_broad_desc"), broadCodeC.as("ccs_broad_code"),
      detailDesc0.as("dd0"), detailCode0.as("ccs_detail_code"))
    val ccs9b = ccs9a
      .withColumn("dd1",
        recode(col("ccs_detail_code"), plainArms, col("dd0")))
      .withColumn("ccs_catch_all",
        when(col("ccs_detail_code").isin(catchAll9: _*), lit(1))
          .otherwise(lit(0)))
    // broad recode reads the PRE-normalize detail desc (:417-427
    // evaluates broad before reassigning detail — dplyr mutate order)
    val ccs9 = ccs9b
      .withColumn("ccs_broad_desc",
        recode(col("dd1"),
          normalizeBroad9.map { case (k, v) => (k, v._1) },
          col("ccs_broad_desc")))
      .withColumn("ccs_broad_code",
        recode(col("dd1"),
          normalizeBroad9.map { case (k, v) => (k, v._2) },
          col("ccs_broad_code")))
      .withColumn("ccs_detail_desc",
        recode(col("dd1"), normalizeDetail9, col("dd1")))
      .select(col("ccs_dx"), col("ccs_broad_desc"),
        col("ccs_broad_code"), col("ccs_detail_desc"),
        col("ccs_detail_code"), col("ccs_catch_all"))
      .distinct()
    val icd9Ccs0 = joinCcw(icd9Ext)
      .join(broadcast(ccs9), col("icdcode") === col("ccs_dx"), "left")
      .drop("ccs_dx")
    // single 3-digit neighbor pass (:547-576); unfilled rows remain
    val icd9Ccs = fillPass(icd9Ccs0, Seq(3))

    // ---- Step 4B/4D: CCS, ICD-10 side ----
    val strip = (c: Column) => regexp_replace(c, "\\p{Punct}", "")
    val ccs10a = ccs10Raw.select(
      strip(col("icdcode")).as("ccs_dx"),
      strip(col("ccs_detail_code")).as("ccs_detail_code"),
      col("ccs_detail_desc").as("dd0"))
      .withColumn("ccs_broad_code",
        substring(col("ccs_detail_code"), 1, 3))
    val ccs10 = ccs10a
      .withColumn("ccs_broad_desc",
        chain(broadDesc10.map { case (k, v) =>
          (col("ccs_broad_code") === k, lit(v)) }, lit(null)))
      .withColumn("ccs_catch_all",
        when(col("ccs_detail_code").isin(catchAll10: _*), lit(1))
          .otherwise(lit(0)))
      .withColumn("ccs_detail_desc",
        recode(col("dd0"), normalizeDetail10, col("dd0")))
      .select(col("ccs_dx"), col("ccs_broad_desc"),
        col("ccs_broad_code"), col("ccs_detail_desc"),
        col("ccs_detail_code"), col("ccs_catch_all"))
      .distinct()
    var icd10Ccs = joinCcw(icd10Ext)
      .join(broadcast(ccs10), col("icdcode") === col("ccs_dx"), "left")
      .drop("ccs_dx")
      .localCheckpoint()
    // the while loop (:590-663): 6/5/4/3-digit passes to convergence
    var missing = icd10Ccs.filter(col("ccs_broad_desc").isNull).count()
    var pass = 0
    while (missing > 0) {
      pass += 1
      require(pass <= maxFillPasses,
        s"CCS fill did not converge after $maxFillPasses passes " +
          s"($missing codes still uncategorized) — the reference " +
          "loops forever on such input; refusing")
      icd10Ccs = fillPass(icd10Ccs, Seq(6, 5, 4, 3)).localCheckpoint()
      missing = icd10Ccs.filter(col("ccs_broad_desc").isNull).count()
    }

    // ---- Step 4E: midlevel/superlevel crosswalk ----
    def joinXwalk(df: DataFrame): DataFrame =
      df.join(broadcast(xwalk.withColumnRenamed("ccs_detail_desc",
          "xw_detail")),
        df("ccs_detail_desc") === col("xw_detail"), "left")
        .drop("xw_detail")

    // ---- Step 5: RDA MH/SUD flags ----
    def rdaSide(ver: Int, suds: Seq[String]): DataFrame = {
      val conds = mhConds ++ suds
      val wide = pivotFlags(
        rdaLong.filter(col("icdcm_version") === ver)
          .select(col("code"), col("sub_group_condition")).distinct(),
        "code", "sub_group_condition", conds)
      wide.withColumn("mh_any", coalesce(mhConds.map(col): _*))
        .withColumn("sud_any", coalesce(suds.map(col): _*))
        .withColumn("bh_any", coalesce(col("mh_any"), col("sud_any")))
        .withColumnRenamed("code", "rda_code")
    }
    def joinRda(df: DataFrame, rda: DataFrame): DataFrame =
      df.join(broadcast(rda), df("icdcode") === col("rda_code"), "left")
        .drop("rda_code")

    val done9 = joinRda(joinXwalk(icd9Ccs), rdaSide(9, sudConds9))
    val done10 = joinRda(joinXwalk(icd10Ccs), rdaSide(10, sudConds10))

    // ---- Step 6: bind 10 then 9, rename, project, distinct ----
    val unioned = done10.unionByName(done9, allowMissingColumns = true)
      .withColumnRenamed("icdcode", "icdcm")
      .withColumnRenamed("ver", "icdcm_version")
      .withColumnRenamed("dx_description", "icdcm_description")
    unioned.select(finalColumns(ccwCols).map(col): _*).distinct()
  }

  // ---------------------------------------------------------------
  // DuckDB renderers (used by SparkEntry's oracle generator) — text
  // built from the SAME rule data above.
  // ---------------------------------------------------------------

  def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  private def broadCondSql(c: BroadCond): String = c match {
    case Lv1Eq(v) => s"multiccs_lv1 = ${sqlLit(v)}"
    case Lv2In(vs) =>
      s"multiccs_lv2 IN (${vs.map(sqlLit).mkString(", ")})"
    case Lv2OrLv1(l2, l1) =>
      s"(multiccs_lv2 = ${sqlLit(l2)} OR multiccs_lv1 = ${sqlLit(l1)})"
    case Ccs259 => "ccs = '259'"
    case Ccs26Lv18 => "(ccs LIKE '26%' AND multiccs_lv1 = '18')"
  }

  private def caseSql(arms: Seq[(String, String)],
      els: String): String =
    "CASE " + arms.map { case (c, v) => s"WHEN $c THEN $v" }
      .mkString(" ") + s" ELSE $els END"

  private def recodeSql(key: String, m: Seq[(String, String)],
      keep: String): String =
    caseSql(m.map { case (k, v) => (s"$key = ${sqlLit(k)}", sqlLit(v)) },
      keep)

  /** Bracket strip (regexp_replace global + trim) in DuckDB. */
  private def stripBracketsSql(c: String): String =
    s"trim(regexp_replace($c, '\\[[^\\[\\]]+\\]', '', 'g'))"

  def broad9DescSql: String = caseSql(
    broad9Rules.map { case (c, d, _) => (broadCondSql(c), sqlLit(d)) },
    "NULL")
  def broad9CodeSql: String = caseSql(
    broad9Rules.map { case (c, _, k) => (broadCondSql(c), sqlLit(k)) },
    "NULL")
  def detail9DescSql: String = {
    val lv3 =
      s"multiccs_lv2 IN (${detailFromLv3.map(sqlLit).mkString(", ")})"
    caseSql(Seq(
      (lv3, stripBracketsSql("multiccs_lv3_description")),
      (broadCondSql(Ccs259), "'_UNCLASSIFIED'"),
      (broadCondSql(Ccs26Lv18), "'External causes of morbidity'")),
      stripBracketsSql("multiccs_lv2_description"))
  }
  def detail9CodeSql: String = {
    val lv3 =
      s"multiccs_lv2 IN (${detailFromLv3.map(sqlLit).mkString(", ")})"
    caseSql(Seq(
      (lv3, "multiccs_lv3"),
      (broadCondSql(Ccs259), "ccs"),
      (broadCondSql(Ccs26Lv18), "ccs")),
      "multiccs_lv2")
  }
  def plainLang9Sql(key: String, keep: String): String =
    recodeSql(key,
      plainLang9.flatMap { case (ks, v) => ks.map(k => (k, v)) }, keep)
  def catchAll9Sql(key: String): String =
    s"CASE WHEN $key IN (${catchAll9.map(sqlLit).mkString(", ")}) " +
      "THEN 1 ELSE 0 END"
  def normalizeBroad9DescSql(key: String, keep: String): String =
    recodeSql(key, normalizeBroad9.map { case (k, v) => (k, v._1) }, keep)
  def normalizeBroad9CodeSql(key: String, keep: String): String =
    recodeSql(key, normalizeBroad9.map { case (k, v) => (k, v._2) }, keep)
  def normalizeDetail9Sql(key: String): String =
    recodeSql(key, normalizeDetail9, key)
  def broadDesc10Sql(key: String): String =
    caseSql(broadDesc10.map { case (k, v) =>
      (s"$key = ${sqlLit(k)}", sqlLit(v)) }, "NULL")
  def catchAll10Sql(key: String): String =
    s"CASE WHEN $key IN (${catchAll10.map(sqlLit).mkString(", ")}) " +
      "THEN 1 ELSE 0 END"
  def normalizeDetail10Sql(key: String): String =
    recodeSql(key, normalizeDetail10, key)

  /** One neighbor-fill pass as a DuckDB CTE body over `src`
    * (replaying the reference's GLOBAL lead/lag — fine in the
    * oracle): passes the non-fill columns through. DuckDB's
    * lead/lag default NULL at the frame edge matches. */
  def fillPassSql(src: String, prefixLens: Seq[Int],
      passThrough: Seq[String]): String = {
    val w = "OVER (PARTITION BY ver ORDER BY icdcode)"
    val armsFor = (c: String) => prefixLens.flatMap { n =>
      Seq(
        (s"substr(icdcode, 1, $n) = substr(lead(icdcode, 1) $w, 1, $n)",
          s"lead($c, 1) $w"),
        (s"substr(icdcode, 1, $n) = substr(lag(icdcode, 1) $w, 1, $n)",
          s"lag($c, 1) $w"))
    }
    val filled = fillCols.map { c =>
      caseSql((s"$c IS NOT NULL", c) +: armsFor(c), "NULL") + s" AS $c"
    }
    s"SELECT ${passThrough.mkString(", ")}, ${filled.mkString(",\n    ")}" +
      s"\n  FROM $src"
  }
}
