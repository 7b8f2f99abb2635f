package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DateFns

/** The reference's original Medicaid cohort stored-procedure family
  * (analysis/Medicaid claims functions/sp_mcaidcohort_r_step1.sql:1-335,
  * sp_mcaidcohort_r_step2.sql:1-71; the same SQL is inlined in
  * mcaid_elig_nonsp.R:200-520 and sp_mcaidcohort_sql.sql) — the T-SQL
  * ancestor of the claims_elig R API ([[ClaimsElig]], q49), kept as
  * user-facing surface in its own right. Semantics faithfully distinct
  * from claims_elig:
  *
  *  1. ##id — distinct persons with ANY coverage interval overlapping
  *     the ask window;
  *  2. ##demo — demographics with the floor((datediff+1)/365.25) age
  *     (the -1-rounds-to-0 newborn branch kept), age_grp7 bands, and
  *     per-flag equality filters where a parameter is present;
  *  3. ##geo — three INDEPENDENT day-weighted modal picks (ZIP / HRA /
  *     tract), each `sum(covd) + 1` (the reference's +1 quirk, same as
  *     apcd_elig_plr's) ranked desc with value-asc tie-break, INNER
  *     joined, then HRA→region ref attach and Split()-driven zip/region
  *     list filters. The address scan is NOT window-filtered — rows
  *     outside the window contribute NULL covd (ignored by SUM; an
  *     all-null candidate sorts last under DESC in T-SQL, Spark and
  *     DuckDB alike);
  *  4. ##cov — coverage days/percent over the window plus gap analysis:
  *     pregap (LAG over to_date order), postgap (NULL-test via LEAD of
  *     to_date over to_date order, value via LEAD of from_date over
  *     from_date order — the reference's mixed-window formulation kept;
  *     both orders are strengthened with a secondary sort key so ties
  *     cannot flip the pick across engines), covgap_max = max(pregap,
  *     postgap) maxes, covper as the decimal(4,1) idiom, boundary gaps
  *     carrying the reference's -1 (window-start gap of n days reports
  *     n-1 — faithful);
  *  5. ##dual — dual-coverage days from the covgrp table (duald = 0 for
  *     non-dual rows, clipped days for dual='Y'), dualper <= @dualmax;
  *  6. final INNER join of cov/dual/geo/demo + the cov_cohort
  *     small/large-gap x dual/nondual classification.
  *
  * List parameters (@zip, @region, @maxlang, @id) use dbo.Split
  * semantics (analysis/Broad use functions/split function.sql): split
  * on the delimiter, DROP slices whose T-SQL LEN — which ignores
  * trailing spaces — is 0. The function's trailing-space length
  * miscount on the *remaining* string is not reproduced: the R wrapper
  * contract ("comma-separated characters with no spaces between
  * items", mcaid_elig_nonsp.R:93) makes that path unreachable.
  *
  * Scale: every step keys on the person id — one shuffle each for the
  * geo/cov/dual aggregates, person-keyed windows only (no global
  * window), and the final assembly is 4 equi-joins on id. The hra→
  * region ref is broadcast. Split lists are compiled to literal IN
  * lists at plan time, so Catalyst pushes them into the scans.
  */
object McaidCohort {

  /** dbo.Split on a literal parameter: in-order slices whose
    * trailing-space-insensitive length is > 0 (empty and all-blank
    * slices vanish, duplicates and order survive). */
  def splitCsv(csv: String, delim: Char = ','): Seq[String] =
    csv.split(java.util.regex.Pattern.quote(delim.toString), -1).toSeq
      .filter(s => s.reverse.dropWhile(_ == ' ').nonEmpty)

  /** dbo.Split as a Column (q194): ARRAY of the kept slices, for
    * column-valued delimited strings. Same skip rule as [[splitCsv]]. */
  def splitItems(c: Column, delim: String): Column =
    filter(split(c, java.util.regex.Pattern.quote(delim), -1),
      s => length(rtrim(s)) > 0)

  /** dbo.CSVToTable (analysis/Broad use functions/
    * csvtotable_function.sql:12-30) — the OTHER broad-use list-split,
    * with different quirks than [[splitCsv]]: a comma is appended,
    * then ONE left-to-right non-overlapping pass of REPLACE(',,' →
    * ',') — so runs of 3+ commas are only half-collapsed and can leave
    * EMPTY values — and the WHILE/PATINDEX loop inserts every prefix
    * before each remaining comma, dropping only the final (empty)
    * remainder. Values keep order and duplicates; blanks survive where
    * the single-pass fold leaves them. Java's String.replace scans
    * left-to-right non-overlapping exactly like T-SQL REPLACE (and
    * DuckDB replace), so this is engine-portable to the character. */
  def csvToTable(in: String): Seq[String] =
    ((in + ",").replace(",,", ",").split(",", -1): Seq[String])
      .dropRight(1)

  /** The sproc's 4-branch iif coverage-day clip: branches partition the
    * overlap space (contains / left-overlap / right-overlap / within)
    * and each yields the clipped inclusive day count, so the compact
    * equivalent is days(max(from, wFrom) .. min(to, wTo)) when the
    * interval overlaps the window, else NULL. */
  def clipDays(from: Column, to: Column, wFrom: Column, wTo: Column): Column =
    when(from <= wTo && to >= wFrom,
      datediff(least(to, wTo), greatest(from, wFrom)) + 1)

  case class CohortParams(
      fromDate: String,
      toDate: String,
      covMin: Double = 0.0,            // @covmin  (covper >=)
      ccovMin: Int = 1,                // @ccov_min (ccovd_max >=)
      covgapMax: Option[Int] = None,   // @covgap_max (covgap_max <=)
      dualMax: Double = 100.0,         // @dualmax (dualper <=)
      ageMin: Int = 0,                 // @agemin
      ageMax: Int = 200,               // @agemax
      // the 18 0/1 equality filters (@female .. @amharic), keyed by
      // demo column name; absent key = NULL parameter = no constraint
      flagFilters: Map[String, Int] = Map.empty,
      maxlang: Option[String] = None,  // CSV via Split
      zip: Option[String] = None,      // CSV via Split
      region: Option[String] = None,   // CSV via Split
      id: Option[String] = None)       // CSV via Split

  /** Step 1: distinct ids with any interval overlapping the window. */
  def idsInWindow(eligOverall: DataFrame, p: CohortParams): DataFrame =
    eligOverall
      .filter(col("from_date") <= lit(p.toDate).cast("date") &&
        col("to_date") >= lit(p.fromDate).cast("date"))
      .select("id").distinct()

  private def csvIn(c: Column, csv: Option[String]): Column =
    csv.map(v => c.isin(splitCsv(v): _*)).getOrElse(lit(true))

  /** Steps 1-6 of sp_mcaidcohort: full cohort row per qualifying id.
    *
    * @param eligOverall (id, from_date, to_date)
    * @param demoever    one row per id with dobnew + the demographic
    *                    flag battery (male..amharic, *_t, *_unk, the
    *                    mx strings, maxlang)
    * @param address     (id, zip_new, hra_id, tractce10, from_date,
    *                    to_date)
    * @param covgrp      (id, dual 'Y'/'N', from_date, to_date)
    * @param hraRegion   ref (hra_id, hra, region_id, region) — small,
    *                    broadcast
    */
  def cohort(eligOverall: DataFrame, demoever: DataFrame,
             address: DataFrame, covgrp: DataFrame,
             hraRegion: DataFrame, p: CohortParams): DataFrame = {
    val wFrom = lit(p.fromDate).cast("date")
    val wTo = lit(p.toDate).cast("date")
    val durDays = DateFns.windowDays(p.fromDate, p.toDate) // @duration

    val ids = idsInWindow(eligOverall, p)

    // ---- step 2: demo ----
    val age0 = DateFns.ageYears(col("dobnew"), wTo)
    val age = when(age0 >= 0, age0).when(age0 === -1, lit(0))
    val flagPred = p.flagFilters.foldLeft(lit(true)) {
      case (acc, (name, v)) => acc && col(name) === v
    }
    val demo = demoever
      .join(ids, "id")                 // the EXISTS (##id) gate
      .withColumn("age", age.cast("int"))
      .withColumn("age_grp7", DateFns.ageGrp7(col("age")))
      .distinct()
      .filter(col("age") >= p.ageMin && col("age") <= p.ageMax &&
        flagPred && csvIn(col("maxlang"), p.maxlang))

    // ---- step 3: geo — three independent modal picks ----
    def modalPick(valueCol: String): DataFrame = {
      val scan = address.join(ids, "id")
        .select(col("id"), col(valueCol),
          clipDays(col("from_date"), col("to_date"), wFrom, wTo)
            .as("covd"))
      val dur = scan.groupBy("id", valueCol)
        .agg((sum(col("covd")) + 1).as("dur"))
      val w = Window.partitionBy(col("id"))
        .orderBy(col("dur").desc, col(valueCol).asc)
      dur.withColumn("r", row_number().over(w)).filter(col("r") === 1)
        .select("id", valueCol)
    }
    val geo = modalPick("zip_new")
      .join(modalPick("hra_id"), "id")
      .join(modalPick("tractce10"), "id")
      .join(broadcast(hraRegion), Seq("hra_id"), "left")
      .filter(csvIn(col("zip_new").cast("string"), p.zip) &&
        csvIn(col("region"), p.region))
      .select(col("id"), col("tractce10").cast("string"),
        col("zip_new").cast("string"), col("hra_id").cast("string"),
        col("hra"), col("region_id").cast("string"), col("region"))

    // ---- step 4: coverage + gaps ----
    val covRows = eligOverall
      .filter(col("from_date") <= wTo && col("to_date") >= wFrom)
      .select("id", "from_date", "to_date").distinct()
    // the reference orders the LAG/pre windows by to_date and the LEAD
    // value window by from_date; each gets the other column as a
    // deterministic secondary key (distinct rows => total order)
    val wByTo = Window.partitionBy(col("id"))
      .orderBy(col("to_date"), col("from_date"))
    val wByFrom = Window.partitionBy(col("id"))
      .orderBy(col("from_date"), col("to_date"))
    val cov = covRows
      .withColumn("covd",
        clipDays(col("from_date"), col("to_date"), wFrom, wTo))
      .withColumn("pregap",
        when(col("from_date") <= wFrom, 0)
          .when(lag(col("to_date"), 1).over(wByTo).isNull,
            datediff(col("from_date"), wFrom) - 1)
          .otherwise(
            datediff(col("from_date"), lag(col("to_date"), 1).over(wByTo))
              - 1))
      .withColumn("postgap",
        when(col("to_date") >= wTo, 0)
          .when(lead(col("to_date"), 1).over(wByTo).isNull,
            datediff(wTo, col("to_date")) - 1)
          .otherwise(
            datediff(lead(col("from_date"), 1).over(wByFrom),
              col("to_date")) - 1))
      .groupBy("id")
      .agg(sum(col("covd")).as("covd"),
        (sum(col("covd")) * 1.0 / (durDays * 1.0) * 100.0)
          .cast("decimal(4,1)").as("covper"),
        max(col("covd")).as("ccovd_max"),
        greatest(max(col("pregap")), max(col("postgap")))
          .as("covgap_max"))
      .filter(col("covper") >= p.covMin &&
        col("ccovd_max") >= p.ccovMin &&
        p.covgapMax.map(col("covgap_max") <= _).getOrElse(lit(true)) &&
        csvIn(col("id"), p.id))

    // ---- step 5: dual ----
    val dual = covgrp
      .filter(col("from_date") <= wTo && col("to_date") >= wFrom)
      .select("id", "dual", "from_date", "to_date").distinct()
      .withColumn("duald", coalesce(
        when(col("dual") === "Y",
          clipDays(col("from_date"), col("to_date"), wFrom, wTo)),
        lit(0)))
      .groupBy("id")
      .agg(sum(col("duald")).as("duald"),
        (sum(col("duald")) * 1.0 / (durDays * 1.0) * 100.0)
          .cast("decimal(4,1)").as("dualper"))
      .withColumn("dual_flag", when(col("duald") >= 1, 1).otherwise(0))
      .filter(col("dualper") <= p.dualMax)

    // ---- step 6: assemble ----
    cov.join(dual, "id").join(geo, "id").join(demo, "id")
      .withColumn("cov_cohort",
        when(col("covgap_max") <= 30 && col("dual_flag") === 0,
          "small gap, nondual")
          .when(col("covgap_max") > 30 && col("dual_flag") === 0,
            "large gap, nondual")
          .when(col("covgap_max") <= 30 && col("dual_flag") === 1,
            "small gap, dual")
          .when(col("covgap_max") > 30 && col("dual_flag") === 1,
            "large gap, dual"))
  }

  /** sp_mcaid_claims_simple_r / sp_mcaid_claims_detail_r (the same
    * kernel; `flags` is the only difference): per-member event counts
    * over claims that BEGAN in the window, deduplicated at the
    * (member, from_date) grain first — max of each flag per event day —
    * then summed per member. Faithful quirks:
    *   - the EXISTS gate is ##id (every person with window coverage),
    *     while the output rows are the COHORT's — both frames taken;
    *   - dental is derived as clm_type_code = '4' at scan time;
    *   - unmatched cohort ids fall into one NULL claim-side group
    *     (GROUP BY a.id on the LEFT-joined frame), which can never
    *     equi-join back — they surface zero-filled via the final LEFT
    *     join, with no_claims = 1 keyed on ed_cnt IS NULL (the
    *     reference's proxy, kept);
    *   - zero-fill happens AFTER the sum, so a present member with all
    *     flags 0 stays 0 and distinct from no_claims.
    *
    * Scale: claims are filtered to the window and semi-joined to ##id
    * before any aggregation; both groupings key on the member id (one
    * shuffle — the (id, from_date) grain is a finer key of the same
    * partitioning, so AQE coalesces to a single exchange chain).
    */
  def claimsSummary(cohortDf: DataFrame, ids: DataFrame,
                    claimSummary: DataFrame, flags: Seq[String],
                    fromDate: String, toDate: String): DataFrame = {
    val wFrom = lit(fromDate).cast("date")
    val wTo = lit(toDate).cast("date")
    val claims = claimSummary
      .filter(col("from_date") >= wFrom && col("from_date") <= wTo)
      .join(ids, Seq("id"), "left_semi")
      .withColumn("dental",
        when(col("clm_type_code") === "4", 1).otherwise(0))
    val allFlags = flags :+ "dental"
    val cohortIds = cohortDf.select("id")
    val perDay = cohortIds
      .join(claims.withColumnRenamed("id", "cid"),
        col("id") === col("cid"), "left")
      .groupBy(col("cid"), col("from_date"))
      .agg(max(col(allFlags.head)).as(allFlags.head),
        allFlags.tail.map(f => max(col(f)).as(f)): _*)
    val perId = perDay.groupBy(col("cid"))
      .agg(sum(col(allFlags.head)).as(s"${allFlags.head}_cnt"),
        allFlags.tail.map(f => sum(col(f)).as(s"${f}_cnt")): _*)
    cohortDf
      .join(perId, col("id") === col("cid"), "left")
      .withColumn("no_claims",
        when(col("ed_cnt").isNull, 1).otherwise(0))
      .select(Seq(to_date(wFrom).as("query_from_date"),
        to_date(wTo).as("query_to_date")) ++
        cohortDf.columns.map(col) ++
        allFlags.map(f =>
          coalesce(col(s"${f}_cnt"), lit(0L)).as(s"${f}_cnt")) :+
        col("no_claims"): _*)
  }
}
