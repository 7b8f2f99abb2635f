package graft.qa

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.LifecycleQueries

/** The fused one-scan QA path must report exactly what the per-check
  * functions report — on data with real defects (dup keys, nulls,
  * violations), not just on clean fixtures. */
class QaSpec extends SparkSpec {

  test("fusedTableChecks equals the individual checks, defect for defect") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Some("2024-01-01"), 5.0),
      (2L, None, -3.0), // null date, negative value
      (2L, Some("2024-02-01"), 1.0), // duplicate key
      (3L, Some("2024-03-01"), 0.0)
    ).toDF("id", "dt", "v")

    val fused = Qa.fusedTableChecks(df, "t", Qa.TableQa(
      distinctKeys = Seq(Seq("id")),
      violations = Seq("neg_v" -> (col("v") < 0)),
      nullAtMost = Seq("dt" -> 0L),
      minRows = Some(10L)))

    val individual = Seq(
      Qa.keyDistinct(df, "t", Seq("id")),
      Qa.noneViolate(df, "t", "neg_v", col("v") < 0),
      Qa.nullCountAtMost(df, "t", "dt", 0L),
      Qa.rowCountAtLeast(df, "t", 10L))

    assert(fused.toSet == individual.toSet)
    // and the defects are actually seen: 3 distinct of 4 rows, 1 violation,
    // 1 null, rowcount 4 < 10
    val byName = fused.map(c => c.check -> c).toMap
    assert(!byName("distinct_id").pass && byName("distinct_id").observed == 3L)
    assert(!byName("neg_v").pass && byName("neg_v").observed == 1L)
    assert(!byName("nulls_dt").pass && byName("nulls_dt").observed == 1L)
    assert(!byName("rowcount_monotonic").pass &&
      byName("rowcount_monotonic").observed == 4L)
  }

  test("table profile: exact values, and the approx path avoids Expand") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", Some(2.5)), (2L, "b", None), (3L, "a", Some(9.0)))
      .toDF("id", "grp", "v")
    val exact = TableProfile.profile(df, "t", exactDistinct = true)
      .collect().map(r => r.getString(2) ->
        (r.getString(3), r.getString(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(exact("id") === (("1", "3", 0L, 3L, 3L)))
    assert(exact("grp") === (("a", "b", 0L, 2L, 3L)))
    assert(exact("v") === (("2.5", "9.0", 1L, 2L, 3L)))
    // approx path: HLL sketches, exact on tiny cardinalities, and the plan
    // must NOT contain the Expand the k-distinct exact plan needs
    val approx = TableProfile.profile(df, "t")
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"approx profile plan has Expand:\n$plan")
    val appMap = approx.collect().map(r => r.getString(2) -> r.getLong(6)).toMap
    assert(appMap("id") === 3L && appMap("grp") === 2L && appMap("v") === 2L)
  }

  test("loadGate: gates against the last logged load, appends the log") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("qa_gate").toString
    try {
      val meta = s"$dir/qa_log"
      val load1 = Seq(1L, 2L, 3L).toDF("id")
      val c1 = Qa.loadGate(load1, "t", meta)
      assert(c1.pass && c1.observed == 3L && c1.expected == 0L)
      // a grown load passes against the logged 3
      val c2 = Qa.loadGate(Seq(1L, 2L, 3L, 4L).toDF("id"), "t", meta)
      assert(c2.pass && c2.observed == 4L && c2.expected == 3L)
      // a shrunk load FAILS against the logged 4
      val c3 = Qa.loadGate(Seq(1L).toDF("id"), "t", meta)
      assert(!c3.pass && c3.observed == 1L && c3.expected == 4L)
      // the failed load is logged but must NOT reset the baseline:
      // re-running the identical shrunk load still fails against 4
      val c4 = Qa.loadGate(Seq(1L).toDF("id"), "t", meta)
      assert(!c4.pass && c4.observed == 1L && c4.expected == 4L)
      // the log carries one row per load with increasing load_seq; another
      // table's loads gate independently
      val log = s.read.parquet(meta).filter(col("table") === "t")
        .orderBy("load_seq").collect()
      assert(log.map(_.getAs[Long]("load_seq")).toSeq == Seq(1L, 2L, 3L, 4L))
      val other = Qa.loadGate(Seq(9L).toDF("id"), "u", meta)
      assert(other.pass && other.expected == 0L)
    } finally LifecycleQueries.deleteRecursively(new java.io.File(dir))
  }

  test("fused checks on an empty frame: distinct passes, minRows fails") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    val fused = Qa.fusedTableChecks(empty, "t", Qa.TableQa(
      distinctKeys = Seq(Seq("id")),
      violations = Seq("neg_v" -> (col("v") < 0)),
      minRows = Some(1L)))
    val byName = fused.map(c => c.check -> c).toMap
    assert(byName("distinct_id").pass)
    assert(byName("neg_v").pass && byName("neg_v").observed == 0L)
    assert(!byName("rowcount_monotonic").pass)
  }

  test("stageVsRefQa: both PASS notes verbatim; the FAIL branch renders " +
      "the reference's negative-diff-inside-'fewer' glue quirk; a column " +
      "mismatch fails Field names") {
    val s = spark
    import s.implicits._
    val ref = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val grown = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val pass = Qa.stageVsRefQa(grown, ref, "stage.address_clean")
      .collect().map(r => r.getAs[String]("qa_item") ->
        (r.getAs[String]("qa_result"), r.getAs[String]("note"))).toMap
    assert(pass("Row counts") ==
      ("PASS", "Stage table has 1 more rows than ref table"))
    assert(pass("Field names") ==
      ("PASS", "Stage table columns match ref table"))
    // shrunk stage: FAIL, and the note interpolates the NEGATIVE
    // difference into the 'fewer' sentence (qa_stage.address_clean_
    // partial.R:60-73 renders rows_stage - rows_ref in both branches)
    val shrunk = Seq((1L, "a")).toDF("id", "v")
    val fail = Qa.stageVsRefQa(shrunk, ref, "t")
      .collect().find(_.getAs[String]("qa_item") == "Row counts").get
    assert(fail.getAs[String]("qa_result") == "FAIL")
    assert(fail.getAs[String]("note") ==
      "Stage table has -1 fewer rows than ref table")
    // column order mismatch
    val swapped = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("v", "id")
    val cols = Qa.stageVsRefQa(swapped, ref, "t")
      .collect().find(_.getAs[String]("qa_item") == "Field names").get
    assert(cols.getAs[String]("qa_result") == "FAIL")
    assert(cols.getAs[String]("note") ==
      "Stage table columns do not match ref table")
  }

  test("eligDemoQaBattery FAIL paths: fewer rows renders the negative " +
      "diff; duplicate ids and raw mismatch produce the reference's " +
      "FAIL notes") {
    val s = spark
    import s.implicits._
    val stage = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v")
    val raw = Seq(1L, 2L, 3L).toDF("mbr")
    val got = Qa.eligDemoQaBattery(stage, raw, "id", "mbr",
        previousRows = 5L, table = "t")
      .collect().map(r => r.getAs[String]("qa_item") ->
        (r.getAs[String]("qa_result"), r.getAs[String]("note"))).toMap
    assert(got("Number new rows compared to most recent run") ==
      ("FAIL", "There were -2 fewer rows in the most recent table (3 vs. 5)"))
    assert(got("Number distinct IDs") ==
      ("FAIL", "There were 2 distinct IDs but 3 rows (should be the same)"))
    assert(got("Distinct IDs compared to raw data") ==
      ("FAIL",
        "There were 2 distinct IDs but 3 IDs in the raw data (should be the same)"))
  }

  test("eligTimevarQaBattery: duplicate-row FAIL note, and the date-" +
      "range FAIL note renders the TIMEVAR dates while PASS renders " +
      "the raw month range (the reference's asymmetry)") {
    val s = spark
    import s.implicits._
    import java.sql.Date
    val stage = Seq(
      (1L, Date.valueOf("1995-01-01"), Date.valueOf("1995-01-31")),
      (1L, Date.valueOf("1995-01-01"), Date.valueOf("1995-01-31")),
      (2L, Date.valueOf("1995-03-05"), Date.valueOf("1995-03-20")))
      .toDF("id", "from_date", "to_date")
    val raw = Seq((1L, 199501), (2L, 199502)).toDF("mbr", "ym")
    // raw months only cover Jan-Feb; the March row falls OUTSIDE
    val got = Qa.eligTimevarQaBattery(stage, raw, "id", "mbr",
        stage.columns.toSeq, "from_date", "to_date", col("ym"),
        previousRows = 1L, table = "t")
      .collect().map(r => r.getAs[String]("qa_item") ->
        (r.getAs[String]("qa_result"), r.getAs[String]("note"))).toMap
    assert(got("Duplicate rows") == ("FAIL",
      "There were 2 distinct rows (excl. ref_geo vars) but 3 rows " +
        "overall (should be the same)"))
    assert(got("Date range") == ("FAIL",
      "Some from/to dates fell outside the CLNDR_YEAR_MNTH range " +
        "(min: 1995-01-01, max: 1995-03-20)"))
    // PASS side: restrict to the covered row
    val ok = Qa.eligTimevarQaBattery(stage.filter(col("id") === 1)
          .distinct(), raw, "id", "mbr",
        stage.columns.toSeq, "from_date", "to_date", col("ym"),
        previousRows = 1L, table = "t")
      .collect().map(r => r.getAs[String]("qa_item") ->
        r.getAs[String]("note")).toMap
    assert(ok("Date range") ==
      "All from/to dates fell within the CLNDR_YEAR_MNTH range " +
        "(min: 1995-01-01, max: 1995-02-28)")
  }
}
