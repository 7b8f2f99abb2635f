package graft.qa

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Post-load data-quality assertion framework — the reference's entire test
  * strategy (SURVEY §5): per-table semantic QA suites logged to
  * metadata.qa_mcaid (qa_stage.mcaid_claim_header.R:67-199,
  * qa_load_file.R, qa_stage.apcd_elig_timevar res1-res11).
  *
  * Each check is one distributed aggregate returning (check, pass,
  * observed, expected); a suite is the union. Scale: referential-integrity
  * checks are anti-join counts (shuffle on the key, no collect); nothing
  * moves to the driver but the verdict row.
  */
object Qa {

  case class QaCheck(table: String, check: String, pass: Boolean,
      observed: Long, expected: Long)

  /** Quarterly-refresh row/column census
    * (qa_stage.apcd_all_tables_quarterly_refresh.sql:1-20): one
    * row_count + col_count pair per table — the sys.partitions /
    * information_schema join re-expressed as one aggregate per frame,
    * column counts from the frame schema. Output (section, table_name,
    * item, n); each table costs exactly one count scan. */
  def refreshCensus(tables: Seq[(String, DataFrame)]): DataFrame =
    tables.map { case (name, df) =>
      df.agg(count(lit(1)).cast("long").as("rc"))
        .select(lit("census").as("section"),
          lit(name).as("table_name"),
          expr(s"stack(2, 'row_count', rc, 'col_count', " +
            s"CAST(${df.columns.length} AS BIGINT)) AS (item, n)"))
    }.reduce(_ unionAll _)

  /** Per-extract date envelope
    * (qa_stage.apcd_all_tables_quarterly_refresh.sql:40-60): min/max of
    * `dateCol` per extract_id — the refresh-overwrite date check. One
    * partial-agg shuffle on extract_id (a handful of groups). */
  def extractDates(df: DataFrame, table: String,
      dateCol: String): DataFrame =
    df.groupBy(col("extract_id"))
      .agg(min(col(dateCol)).as("mind"), max(col(dateCol)).as("maxd"))
      .select(lit("extract_dates").as("section"),
        lit(table).as("table_name"),
        col("extract_id").cast("int").as("extract_id"),
        expr("stack(2, 'min_date', mind, 'max_date', maxd) AS (item, d)"))

  /** Key distinctness: COUNT(*) == COUNT(DISTINCT keys)
    * (qa_stage.mcaid_claim_header.R:115-145). */
  def keyDistinct(df: DataFrame, table: String, keys: Seq[String]): QaCheck = {
    val r = df.agg(count(lit(1)).as("n"),
      countDistinct(keys.head, keys.tail: _*).as("d")).head()
    QaCheck(table, s"distinct_${keys.mkString("_")}",
      r.getLong(0) == r.getLong(1), r.getLong(1), r.getLong(0))
  }

  /** Referential integrity: child keys all present in parent — anti-join
    * count must be 0 (qa_stage.mcaid_claim_header.R:67-111). */
  def refIntegrity(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, table: String): QaCheck = {
    val orphans = child.select(col(childKey))
      .join(parent.select(col(parentKey)),
        col(childKey) === col(parentKey), "left_anti")
      .count()
    QaCheck(table, s"orphan_$childKey", orphans == 0L, orphans, 0L)
  }

  /** Monotonic row count vs the prior load
    * (qa_stage.mcaid_claim_header.R:150-199; the from-vs-to equality
    * variant is db_loader/scripts_general/qa_load_sql.R:44-66 —
    * qa_sql_row_count's PASS/FAIL note over COUNT_BIG of both sides,
    * which [[QaCheck]] carries as (observed, expected)). The prior is
    * the caller's; [[LoadLog]] keeps it across a run's loads. */
  def rowCountAtLeast(df: DataFrame, table: String, prior: Long): QaCheck = {
    val n = df.count()
    QaCheck(table, "rowcount_monotonic", n >= prior, n, prior)
  }

  /** Build-to-build monotonicity gate — the pipeline-runner hook
    * (master_mcaid_analytic.R runs qa_stage between loads and logs to
    * metadata.qa_mcaid), the one implementation of "gate against the
    * last passing load". A run-scoped IN-MEMORY load log: the reference
    * records each load with a cheap database INSERT, so a log of ≤13
    * tiny rows per chain needs no Spark job. [[gate]] compares a load's
    * row count (computed by the caller, typically inside its fused QA
    * aggregation) against the LAST PASSING load's count for `table`,
    * then logs this load; loads are kept in arrival order, so no
    * wall-clock stamp is needed. First load gates against 0 and passes.
    *
    * A failed load is still logged (the audit trail the reference keeps
    * in metadata.qa_mcaid) but must not become the next baseline, or
    * re-running the same shrunk load would erode the invariant into a
    * pass. Thread-safe — the runner's speculative stage futures gate
    * concurrently. */
  final class LoadLog {
    private val m = scala.collection.mutable.Map
      .empty[String, Vector[(Boolean, Long)]]
    def gate(n: Long, table: String): QaCheck = synchronized {
      val rows = m.getOrElse(table, Vector.empty)
      val prior = rows.findLast(_._1).map(_._2).getOrElse(0L)
      val chk = QaCheck(table, "rowcount_monotonic", n >= prior, n, prior)
      m(table) = rows :+ ((chk.pass, n))
      chk
    }
  }

  /** Domain invariant: zero rows violating a predicate
    * (qa_stage.apcd_elig_timevar res7-res11 shape). */
  def noneViolate(df: DataFrame, table: String, check: String,
      violation: org.apache.spark.sql.Column): QaCheck = {
    val n = df.filter(violation).count()
    QaCheck(table, check, n == 0L, n, 0L)
  }

  /** Column completeness: null count within tolerance (qa_load_file.R). */
  def nullCountAtMost(df: DataFrame, table: String, column: String,
      atMost: Long): QaCheck = {
    val n = df.filter(col(column).isNull).count()
    QaCheck(table, s"nulls_$column", n <= atMost, n, atMost)
  }

  /** Row-local checks for one table, FUSED into a single scan.
    *
    * At 100 TB every one-check-one-job call above re-reads the table;
    * distinctness, domain invariants, null tolerances and the row count
    * are all expressible as aggregates of the same pass, so a table's QA
    * suite should cost ONE scan (plus Spark's expand for the distinct
    * aggregates), not one per check. Referential integrity stays on the
    * anti-join path — fusing a join into the shared scan would let a
    * key-duplicating parent corrupt the row-local counts. */
  case class TableQa(
      distinctKeys: Seq[Seq[String]] = Nil,
      violations: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      nullAtMost: Seq[(String, Long)] = Nil,
      minRows: Option[Long] = None)

  def fusedTableChecks(df: DataFrame, table: String, cfg: TableQa): Seq[QaCheck] = {
    val aggs = Seq(count(lit(1)).as("_n")) ++
      cfg.distinctKeys.zipWithIndex.map { case (ks, i) =>
        countDistinct(ks.head, ks.tail: _*).as(s"_d$i") } ++
      cfg.violations.zipWithIndex.map { case ((_, v), i) =>
        sum(when(v, 1L).otherwise(0L)).as(s"_v$i") } ++
      cfg.nullAtMost.zipWithIndex.map { case ((c, _), i) =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_z$i") }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getAs[Long]("_n")
    cfg.distinctKeys.zipWithIndex.map { case (ks, i) =>
      val d = r.getAs[Long](s"_d$i")
      QaCheck(table, s"distinct_${ks.mkString("_")}", n == d, d, n)
    } ++
      cfg.violations.zipWithIndex.map { case ((name, _), i) =>
        val v = if (r.isNullAt(r.fieldIndex(s"_v$i"))) 0L else r.getAs[Long](s"_v$i")
        QaCheck(table, name, v == 0L, v, 0L)
      } ++
      cfg.nullAtMost.zipWithIndex.map { case ((c, atMost), i) =>
        val z = if (r.isNullAt(r.fieldIndex(s"_z$i"))) 0L else r.getAs[Long](s"_z$i")
        QaCheck(table, s"nulls_$c", z <= atMost, z, atMost)
      } ++
      cfg.minRows.map(m => QaCheck(table, "rowcount_monotonic", n >= m, n, m))
  }

  /** Assemble a suite result frame (the metadata.qa_mcaid analog). */
  def suite(spark: SparkSession, checks: Seq[QaCheck]): DataFrame = {
    import spark.implicits._
    checks.toDF()
  }

  /** The reference's numeric-config parse (qa_load_file.R:34-40):
    * expected counts arrive as strings with separators — every
    * non-digit is stripped ("1,234,567" → 1234567). */
  def parseExpectedCount(s: String): Long = {
    val digits = s.replaceAll("\\D", "")
    if (digits.isEmpty) 0L else digits.toLong
  }

  /** qa_load_file.R's per-source-year row-count battery
    * (qa_file_row_count): ONE scan grouped by the year column, each
    * configured year compared against its expected count (years absent
    * from the data count 0), plus an optional `overall` row against the
    * total. The per-year frame is bounded by the config's year list —
    * the collect is a verdict read, not a data collect. */
  def fileRowCounts(df: DataFrame, table: String, yearCol: org.apache.spark.sql.Column,
      expectedByYear: Seq[(String, String)],
      overall: Option[String] = None): Seq[QaCheck] = {
    val counts = df.groupBy(yearCol.cast("string").as("_y"))
      .agg(count(lit(1)).as("_n"))
      .collect().map(r => Option(r.getString(0)).getOrElse("") -> r.getLong(1)).toMap
    val perYear = expectedByYear.map { case (y, expStr) =>
      val exp = parseExpectedCount(expStr)
      val act = counts.getOrElse(y, 0L)
      QaCheck(table, s"rowcount_$y", act == exp, act, exp)
    }
    val overallCheck = overall.map { expStr =>
      val exp = parseExpectedCount(expStr)
      val act = counts.values.sum
      QaCheck(table, "rowcount_overall", act == exp, act, exp)
    }
    perYear ++ overallCheck
  }

  /** qa_load_file.R's column-order check (qa_column_order): the loaded
    * frame's columns must equal the declared list, positionally.
    * Observed = length of the matching prefix. */
  def columnOrder(df: DataFrame, table: String,
      declared: Seq[String]): QaCheck = {
    val actual = df.columns.toSeq
    val matching = actual.zip(declared).takeWhile { case (a, b) => a == b }
      .length
    // observed must encode the discrepancy: with trailing EXTRA columns
    // the full declared list matches as a prefix, and reporting the
    // prefix length would show observed == expected on a failing row —
    // report the actual column count in that case instead
    val observed =
      if (matching == declared.length && actual.length != declared.length)
        actual.length
      else matching
    QaCheck(table, "column_order",
      actual == declared, observed.toLong, declared.length.toLong)
  }

  /** qa_stage.mcaid_elig_demo.R:63-189 — the demo-table battery the
    * analytic pipeline runs between the stage load and the final
    * promote: (1) row count vs the most recent qa_values entry (FAIL
    * only when FEWER — the note renders the signed diff, negative in
    * the FAIL branch, same glue convention as [[stageVsRefQa]]);
    * (2) distinct ids == rows (one row per person);
    * (3) distinct ids == distinct raw source ids. Note strings are the
    * reference's verbatim, except its two-source-line glue templates
    * render single-line here (documented simplification). ONE fused
    * aggregation per input frame — never a scan per check. */
  def eligDemoQaBattery(stage: DataFrame, raw: DataFrame, idCol: String,
      rawIdCol: String, previousRows: Long, table: String): DataFrame = {
    val s = stage.sparkSession
    val st = stage.agg(count(lit(1)).as("n"),
      count_distinct(col(idCol)).as("ids")).head()
    val (n, ids) = (st.getLong(0), st.getLong(1))
    val rawIds = raw.agg(count_distinct(col(rawIdCol))).head().getLong(0)
    val diff = n - previousRows
    val rows = Seq(
      (table, "Number new rows compared to most recent run",
        if (diff < 0) "FAIL" else "PASS",
        if (diff < 0) s"There were $diff fewer rows in the most recent " +
          s"table ($n vs. $previousRows)"
        else s"There were $diff more rows in the most recent table " +
          s"($n vs. $previousRows)",
        n, previousRows),
      (table, "Number distinct IDs",
        if (ids != n) "FAIL" else "PASS",
        if (ids != n) s"There were $ids distinct IDs but $n rows " +
          "(should be the same)"
        else s"The number of distinct IDs matched the number of rows ($ids)",
        ids, n),
      (table, "Distinct IDs compared to raw data",
        if (ids != rawIds) "FAIL" else "PASS",
        if (ids != rawIds) s"There were $ids distinct IDs but $rawIds " +
          "IDs in the raw data (should be the same)"
        else "The number of distinct IDs matched the number in the " +
          s"raw data ($ids)",
        ids, rawIds))
    import s.implicits._
    rows.toDF("table_name", "qa_item", "qa_result", "note", "observed",
      "expected")
  }

  /** qa_stage.mcaid_elig_timevar.R:46-243 — the timevar battery:
    * (1) rows vs most recent run (same signed-diff glue convention);
    * (2) distinct ids vs raw — NOTE the reference's wording here
    * differs slightly from the demo battery's ("matched number in raw
    * data", no "IDs" in the FAIL clause) — kept verbatim;
    * (3) duplicate rows — distinct over the declared column subset
    * ("excl. ref_geo vars"; the caller passes the subset) == rows;
    * (4) date range — every from/to inside the raw CLNDR_YEAR_MNTH
    * month envelope, with the reference's asymmetric notes (FAIL
    * renders the TIMEVAR dates, PASS the raw month range). ONE fused
    * aggregation per input frame. */
  def eligTimevarQaBattery(stage: DataFrame, raw: DataFrame,
      idCol: String, rawIdCol: String, dupCols: Seq[String],
      fromCol: String, toCol: String,
      rawMonthCol: org.apache.spark.sql.Column,
      previousRows: Long, table: String): DataFrame = {
    val s = stage.sparkSession
    val st = stage.agg(count(lit(1)).as("n"),
      count_distinct(col(idCol)).as("ids"),
      count_distinct(struct(dupCols.map(col).toIndexedSeq: _*)).as("dup"),
      min(col(fromCol)).as("minf"), max(col(toCol)).as("maxt")).head()
    val (n, ids, dup) = (st.getLong(0), st.getLong(1), st.getLong(2))
    // Option-wrapped: an empty stage or raw slice yields NULL envelope
    // dates (a partial-refresh window can select zero rows at 100 TB);
    // a missing envelope fails the date check instead of throwing
    val (minF, maxT) = (Option(st.getDate(3)), Option(st.getDate(4)))
    val rw = raw.agg(count_distinct(col(rawIdCol)).as("ids"),
      to_date(concat(min(rawMonthCol).cast("string"), lit("01")),
        "yyyyMMdd").as("minm"),
      last_day(to_date(concat(max(rawMonthCol).cast("string"),
        lit("01")), "yyyyMMdd")).as("maxm")).head()
    val rawIds = rw.getLong(0)
    val (minM, maxM) = (Option(rw.getDate(1)), Option(rw.getDate(2)))
    val diff = n - previousRows
    val dateOk = (for (f <- minF; t <- maxT; lo <- minM; hi <- maxM)
      yield !(f.toLocalDate.isBefore(lo.toLocalDate) ||
        t.toLocalDate.isAfter(hi.toLocalDate))).getOrElse(false)
    val rows = Seq(
      (table, "Number new rows compared to most recent run",
        if (diff < 0) "FAIL" else "PASS",
        if (diff < 0) s"There were $diff fewer rows in the most recent " +
          s"table ($n vs. $previousRows)"
        else s"There were $diff more rows in the most recent table " +
          s"($n vs. $previousRows)",
        n, previousRows),
      (table, "Number distinct IDs",
        if (ids != rawIds) "FAIL" else "PASS",
        if (ids != rawIds) s"There were $ids distinct IDs but $rawIds " +
          "in the raw data (should be the same)"
        else s"The number of distinct IDs matched number in raw data ($ids)",
        ids, rawIds),
      (table, "Duplicate rows",
        if (dup != n) "FAIL" else "PASS",
        if (dup != n) s"There were $dup distinct rows (excl. ref_geo " +
          s"vars) but $n rows overall (should be the same)"
        else "The number of distinct rows (excl. ref_geo vars) matched " +
          s"number total rows ($n)",
        dup, n),
      (table, "Date range",
        if (!dateOk) "FAIL" else "PASS", {
          // render dates bare (the pre-Option strings); NULL -> NA as R
          def fmt(o: Option[java.sql.Date]) =
            o.map(_.toString).getOrElse("NA")
          if (!dateOk) "Some from/to dates fell outside the " +
            s"CLNDR_YEAR_MNTH range (min: ${fmt(minF)}, max: ${fmt(maxT)})"
          else "All from/to dates fell within the CLNDR_YEAR_MNTH " +
            s"range (min: ${fmt(minM)}, max: ${fmt(maxM)})"
        },
        if (dateOk) 1L else 0L, 1L))
    import s.implicits._
    rows.toDF("table_name", "qa_item", "qa_result", "note", "observed",
      "expected")
  }

  /** The address-clean partial-refresh battery
    * (qa_stage.address_clean_partial.R:50-132): stage-vs-ref row-count
    * monotonicity and positional field-name equality, with the
    * reference's verbatim PASS/FAIL note strings — INCLUDING its quirk
    * that the FAIL note interpolates the NEGATIVE stage-minus-ref
    * difference inside "... fewer rows ..." (R glue renders
    * rows_stage - rows_ref in both branches). Two distributed counts;
    * output is the two verdict rows. */
  def stageVsRefQa(stage: DataFrame, ref: DataFrame,
      table: String): DataFrame = {
    val s = stage.sparkSession
    val nStage = stage.count()
    val nRef = ref.count()
    val colChk = columnOrder(stage, table, ref.columns.toSeq)
    val diff = nStage - nRef
    val rows = Seq(
      (table, "Row counts",
        if (nStage < nRef) "FAIL" else "PASS",
        if (nStage < nRef)
          s"Stage table has $diff fewer rows than ref table"
        else s"Stage table has $diff more rows than ref table",
        nStage, nRef),
      (table, "Field names",
        if (colChk.pass) "PASS" else "FAIL",
        if (colChk.pass) "Stage table columns match ref table"
        else "Stage table columns do not match ref table",
        colChk.observed, colChk.expected))
    import s.implicits._
    rows.toDF("table_name", "qa_item", "qa_result", "note", "observed",
      "expected")
  }

  /** Per-year slice counts vs the prior load
    * (qa_stage.mcaid_claim_header.R:150-260: header counts per claim
    * year, then ED counts per claim year, each against the current
    * final table; a year with FEWER rows than before fails). The
    * reference runs one GROUP BY per slice per table (4 scans); here
    * ALL slices reduce in ONE conditional-aggregation scan per input,
    * and the verdict rows stay distributed — per-year rows only, no
    * driver collect.
    *
    * Returns (table, check, pass, observed, expected) rows, one per
    * (slice, year) present on either side: check = "<slice>_<year>",
    * pass = observed >= expected (a vanished year fails; a brand-new
    * year passes vs 0).
    */
  def yearSliceCountsVsPrior(df: DataFrame, prior: DataFrame,
      dateCol: String, table: String,
      slices: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    def counted(d: DataFrame, side: String): DataFrame = {
      val cols = slices.map { case (nm, cond) =>
        sum(when(cond, 1L).otherwise(0L)).as(s"${side}_$nm") }
      d.groupBy(year(col(dateCol)).as(s"${side}_y"))
        .agg(cols.head, cols.tail: _*)
    }
    // null-safe year join: rows with a NULL date form ONE comparable
    // 'unknown' group on both sides (plain equality would split them
    // into two spurious rows with a NULL check name)
    val stacked = counted(df, "new").join(counted(prior, "cur"),
        col("new_y") <=> col("cur_y"), "full")
      .select(coalesce(col("new_y"), col("cur_y")).as("y"),
        expr(slices.map { case (nm, _) =>
          s"'$nm', coalesce(new_$nm, CAST(0 AS BIGINT)), " +
            s"coalesce(cur_$nm, CAST(0 AS BIGINT))"
        }.mkString(s"stack(${slices.size}, ", ", ",
          ") as (slice, observed, expected)")))
    stacked.select(lit(table).as("table"),
      concat(col("slice"), lit("_"),
        coalesce(col("y").cast("string"), lit("unknown"))).as("check"),
      (col("observed") >= col("expected")).as("pass"),
      col("observed"), col("expected"))
  }
}
