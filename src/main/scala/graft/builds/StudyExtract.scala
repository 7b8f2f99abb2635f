package graft.builds

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** De-identified partner study extract
  * (uw_fresh_export/uw_fresh_cdr_export_v1.sql:17-130) — the export
  * family: build a study-cohort reference table, then subset every
  * shared clinical table to it with direct identifiers dropped and the
  * IRB age gates applied.
  *
  * Cohort steps (STEP 1):
  *  1. time-varying ZIP -> KC-residence flag per insurance interval
  *     (left join the KC ZIP ref on the first 5 ZIP chars);
  *  2. per-person period flags: KC before the study start, non-KC
  *     start after it, KC inside the window;
  *  3. include when (in-window KC) OR (pre-period KC AND a non-KC
  *     post-period start) — the "was here and moved" OR branch kept —
  *     AND an index patientid exists;
  *  4. the 18th-birthday date (dateadd(year, 18, dob) — month-end
  *     clamped exactly like T-SQL) must fall on or before the study
  *     end;
  *  5. EXCEPT-based backfill: CHR patients missing from the index
  *     table join the cohort with a NULL P1 id when their record was
  *     touched in-window, their ZIP is KC and they pass the age gate;
  *  6. UNION distinct of the two arms.
  *
  * Export prep (STEP 2): clinical rows subset to the cohort, DISTINCT
  * collapsed, and — the May-2026 IRB revision — only rows whose
  * service date is on/after the person's 18th birthday are shared;
  * dates of birth never enter the kept columns.
  *
  * Scale: the cohort build is one aggregation keyed on the person id
  * with the index and ZIP refs broadcast; every export is a broadcast
  * or shuffled semi-equi join on the cohort key plus a DISTINCT at the
  * shared grain — no driver loops, the per-table prep is one plan. */
object StudyExtract {

  /** @param mpmPerson   (provideroneid, insurance_start_date, zip)
    * @param mpmIndex    (provideroneid, patientid, birthdate)
    * @param chrPatients (patient_id, date_of_birth, zip,
    *                    record_change_date)
    * @param kcZip       ref (geo_zip, geo_kc) — broadcast
    * @return (provideroneid, patientid, geo_kc, dob_18) */
  def kcCohort(mpmPerson: DataFrame, mpmIndex: DataFrame,
      chrPatients: DataFrame, kcZip: DataFrame,
      studyStart: String, studyEnd: String): DataFrame = {
    val sS = lit(studyStart).cast("date")
    val sE = lit(studyEnd).cast("date")
    val dob18 = (c: Column) => add_months(c, 18 * 12)
    val mpm2 = mpmPerson
      .select(col("provideroneid"),
        col("insurance_start_date").cast("date")
          .as("insurance_start_date"),
        substring(col("zip"), 1, 5).as("cdr_zip"))
      .join(broadcast(kcZip), col("cdr_zip") === col("geo_zip"), "left")
    // mpm_3 + mpm_4 fused: both aggregate per person (the index row is
    // unique per provideroneid), so one groupBy carries every flag
    val mpm4 = mpm2
      .join(broadcast(mpmIndex), Seq("provideroneid"), "left")
      .groupBy(col("provideroneid"), col("patientid"))
      .agg(max(col("geo_kc")).as("geo_kc"),
        max(when(col("insurance_start_date") < sS &&
          col("geo_kc") === 1, 1).otherwise(0)).as("pre_kc"),
        max(when(col("insurance_start_date") > sS &&
          col("geo_kc").isNull, 1).otherwise(0)).as("post_nonkc"),
        max(when(col("insurance_start_date").between(sS, sE) &&
          col("geo_kc") === 1, 1).otherwise(0)).as("study_kc"),
        max(dob18(col("birthdate"))).cast("date").as("dob_18"))
    val mpmFinal = mpm4
      .filter((col("study_kc") === 1 ||
          (col("pre_kc") === 1 && col("post_nonkc") === 1)) &&
        col("patientid").isNotNull && col("dob_18") <= sE)
      .select(col("provideroneid"), col("patientid"), col("geo_kc"),
        col("dob_18"))
    val chr1 = chrPatients.select(col("patient_id")).distinct()
      .except(mpmIndex.select(col("patientid").as("patient_id"))
        .distinct())
    val chr2 = chrPatients
      .join(broadcast(kcZip),
        substring(col("zip"), 1, 5) === col("geo_zip") &&
        col("record_change_date") >= sS &&
        dob18(col("date_of_birth")) <= sE)
      .select(col("patient_id"),
        dob18(col("date_of_birth")).cast("date").as("dob_18"))
    val chrFinal = chr1.join(chr2, Seq("patient_id"))
      .select(lit(null).cast("string").as("provideroneid"),
        col("patient_id").as("patientid"), lit(1).as("geo_kc"),
        col("dob_18"))
    mpmFinal.unionByName(chrFinal).distinct()
  }

  /** Clinical-table export prep: cohort subset, DISTINCT collapse, and
    * the 18+-at-service-date row gate. Identifier columns simply never
    * enter `keep`. */
  def exportClinical(cohort: DataFrame, clinical: DataFrame,
      patientCol: String, serviceCol: String,
      keep: Seq[String]): DataFrame =
    clinical
      .join(cohort.select(col("patientid").as(patientCol),
        col("dob_18")), Seq(patientCol))
      .filter(col(serviceCol) >= col("dob_18"))
      .select((patientCol +: keep).map(col): _*)
      .distinct()
}
