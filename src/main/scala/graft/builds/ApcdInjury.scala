package graft.builds

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** APCD injury cause/nature classification — step 9 of the reference's
  * APCD claim header build (load_stage.apcd_claim_header.R:586-945):
  *
  *  9a  distinct ICD-CM codes (the classification runs on the CODE
  *      vocabulary, never the fact table — the only thing that keeps a
  *      LIKE-prefix join tractable at 100 TB);
  *  9b  CDC injury-hospitalization surveillance inclusion (NHSR 2019/
  *      2020): the ICD-9-CM range/LIKE definition (with its literal-'%'
  *      BETWEEN bounds — faithfully binary-compared, quirks included)
  *      and the ICD-10-CM S/T/O9A/M97 definition with 6th/7th-character
  *      qualifier checks;
  *  9c  injury nature rows: dx ∩ nature vocabulary; narrow = primary dx;
  *  9d  external-cause intent/mechanism via PREFIX join of the distinct
  *      vocabulary to the cause reference (`icdcm + '%'` LIKE —
  *      broadcast of the bounded cause-code dim, prefix-matched against
  *      distinct codes only), then cause rows = nature rows ∩ expanded
  *      cause vocabulary (the reference joins tmp_apcd_injury_nature,
  *      not raw dx — :765-768);
  *  9e  rank-1 collapse to header grain: first-ordered ecode
  *      (intent/mechanism) and first-ordered nature code — the
  *      reference's ROW_NUMBER ordered by icdcm_number alone gets
  *      (icdcm_norm, icdcm_version) appended as tie-breaks so the pick
  *      is deterministic;
  *  9f  nature-type categorization: CCS detail description with the
  *      '[;,] initial encounter' suffix stripped and the category
  *      merges normalized (:919-931).
  *
  * Output grain: one row per claim header that carries at least one
  * nature-of-injury code.
  */
object ApcdInjury {

  private def q7(c: Column): Column = substring(c, 7, 1)

  /** CDC surveillance inclusion for a (code, version) pair. */
  def cdcNatureInclusion(norm: Column, ver: Column): Column = {
    val icd9 = ver === 9 &&
      (norm.between("800%", "9949%") || norm.startsWith("9955") ||
        norm.between("99580%", "99585%")) &&
      !norm.startsWith("9093") && !norm.startsWith("9095")
    val q7ok = q7(norm).isin("A", "B", "C", "")
    val d14 = Seq("1", "2", "3", "4")
    val icd10 = ver === 10 && (
      (norm.startsWith("S") && q7ok) ||
      (norm.between("T07%", "T3499XS") && q7ok) ||
      (norm.between("T36%", "T50996S") && substring(norm, 6, 1).isin(d14: _*)
        && q7ok) ||
      (norm.rlike("^T3[679]9") && substring(norm, 5, 1).isin(d14: _*)
        && q7ok) ||
      (norm.startsWith("T414") && substring(norm, 5, 1).isin(d14: _*)
        && q7ok) ||
      (norm.startsWith("T427") && substring(norm, 5, 1).isin(d14: _*)
        && q7ok) ||
      (norm.rlike("^T4[3579]9") && substring(norm, 5, 1).isin(d14: _*)
        && q7ok) ||
      (norm.between("T51%", "T6594XS") && q7ok) ||
      (norm.between("T66%", "T7692XS") && q7ok) ||
      (norm.startsWith("T79") && q7ok) ||
      (norm.between("O9A2%", "O9A53") && q7ok) ||
      (norm.startsWith("T8404") && q7ok) ||
      (norm.startsWith("M97") && q7ok))
    icd9 || icd10
  }

  /** The 9f category normalization (:919-931). */
  def normalizeNatureType(desc: Column): Column = {
    val stripped = regexp_replace(
      regexp_replace(desc, "; initial encounter", ""),
      ", initial encounter", "")
    when(stripped.isin("Other specified injury", "Other unspecified injury"),
        "Other injuries")
      .when(stripped === "Spinal cord injury (SCI)", "Spinal cord injury")
      .when(stripped.isin("Effect of other external causes",
        "External cause codes: other specified, classifiable and NEC",
        "External cause codes: unspecified mechanism",
        "Other injuries and conditions due to external causes"),
        "Other injuries and conditions due to external causes")
      .when(stripped.isin("Crushing injury",
        "Crushing injury or internal injury"),
        "Crushing injury or internal injury")
      .when(stripped.isin("Burns", "Burn and corrosion"), "Burn and corrosion")
      .otherwise(stripped)
  }

  /** dx: (claim_header_id, icdcm_norm, icdcm_version, icdcm_number).
    * causeRef: (icdcm, icdcm_version, intent, mechanism) prefix codes.
    * ccsRef: (icdcm, icdcm_version, ccs_detail_desc) exact codes. */
  def build(dx: DataFrame, causeRef: DataFrame, ccsRef: DataFrame): DataFrame = {
    // 9a: classification vocabulary, carrying 9b's inclusion test as an
    // aggregate output: the optimizer cannot push that into the dx scan,
    // where each of the test's ~20 uses of the code would inline the
    // caller's expression for it (a method over the JVM's 64 KB limit)
    val vocab = dx.groupBy(col("icdcm_norm"), col("icdcm_version"))
      .agg(max(cdcNatureInclusion(col("icdcm_norm"), col("icdcm_version")))
        .as("cdc_nature"))
    // 9b: nature vocabulary
    val natureVocab = vocab.filter(col("cdc_nature")).drop("cdc_nature")
    // 9c: nature rows
    val nature = dx
      .join(natureVocab, Seq("icdcm_norm", "icdcm_version"))
      .select(col("claim_header_id"), col("icdcm_norm"),
        col("icdcm_version"), col("icdcm_number"))
      .distinct()
      .withColumn("injury_narrow",
        when(col("icdcm_number") === "01", 1).otherwise(0))
      .withColumn("injury_broad", lit(1))
    // 9d: prefix-expand the cause reference over the vocabulary, then
    // intersect with the nature rows
    val cref = causeRef.filter(col("intent").isNotNull)
      .select(col("icdcm").as("cause_prefix"),
        col("icdcm_version").as("cause_ver"),
        col("intent"), col("mechanism"))
    val causeVocab = vocab.join(broadcast(cref),
        col("icdcm_norm").startsWith(col("cause_prefix")) &&
          col("icdcm_version") === col("cause_ver"))
      .select(col("icdcm_norm"), col("icdcm_version"),
        col("intent"), col("mechanism"))
      .distinct()
    val cause = nature
      .join(causeVocab, Seq("icdcm_norm", "icdcm_version"))
      .select(col("claim_header_id"), col("icdcm_norm"),
        col("icdcm_version"), col("icdcm_number"),
        col("intent"), col("mechanism"))
      .distinct()
      .withColumn("ecode_flag", lit(1))
    // 9e: rank-1 collapse to header grain
    val natureOrder = Window.partitionBy(col("claim_header_id"),
        col("injury_broad"))
      .orderBy(col("icdcm_number"), col("icdcm_norm"), col("icdcm_version"))
    val natureRanks = nature
      .withColumn("injury_nature_rank", row_number().over(natureOrder))
    val causeOrder = Window.partitionBy(col("claim_header_id"),
        col("ecode_flag"))
      .orderBy(col("icdcm_number"), col("icdcm_norm"), col("icdcm_version"))
    val causeRanks = cause
      .withColumn("ecode_rank", row_number().over(causeOrder))
    val headerNature = natureRanks
      .groupBy(col("claim_header_id"))
      .agg(max(col("injury_narrow")).as("injury_narrow"),
        max(col("injury_broad")).as("injury_broad"))
    val ecode1 = causeRanks.filter(col("ecode_rank") === 1)
      .select(col("claim_header_id"),
        col("icdcm_norm").as("ecode"), col("intent"), col("mechanism"))
    val nature1 = natureRanks.filter(col("injury_nature_rank") === 1)
      .select(col("claim_header_id"),
        col("icdcm_norm").as("icdcm_injury_nature"),
        col("icdcm_version").as("icdcm_injury_nature_version"))
    val collapsed = headerNature
      .join(ecode1, Seq("claim_header_id"), "left")
      .join(nature1, Seq("claim_header_id"), "left")
    // 9f: nature type from CCS detail description
    val typeRef = collapsed
      .select(col("icdcm_injury_nature"), col("icdcm_injury_nature_version"))
      .filter(col("icdcm_injury_nature").isNotNull).distinct()
      .join(broadcast(ccsRef.select(
          col("icdcm").as("icdcm_injury_nature"),
          col("icdcm_version").as("icdcm_injury_nature_version"),
          col("ccs_detail_desc"))),
        Seq("icdcm_injury_nature", "icdcm_injury_nature_version"), "left")
      .select(col("icdcm_injury_nature"),
        col("icdcm_injury_nature_version"),
        normalizeNatureType(col("ccs_detail_desc"))
          .as("icdcm_injury_nature_type"))
    collapsed
      .join(typeRef,
        Seq("icdcm_injury_nature", "icdcm_injury_nature_version"), "left")
      .select(col("claim_header_id"), col("ecode"), col("injury_narrow"),
        col("injury_broad"), col("intent"), col("mechanism"),
        col("icdcm_injury_nature"), col("icdcm_injury_nature_version"),
        col("icdcm_injury_nature_type"))
  }
}
