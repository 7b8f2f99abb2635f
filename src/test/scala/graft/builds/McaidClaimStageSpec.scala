package graft.builds

import graft.SparkSpec
import java.sql.Date

/** stage.mcaid_claim incremental load: the batch MIN date truncates the
  * archive, dated incoming rows replace the tail, and the UNION's
  * DISTINCT lands every row once. */
class McaidClaimStageSpec extends SparkSpec {
  import McaidClaimStageSpec._

  private def run(archive: Seq[Arch], incoming: Seq[In]): Seq[Arch] = {
    val s = spark
    import s.implicits._
    McaidClaimStage.build(
        archive.toDF("clndr_year_mnth", "mbr_h_sid", "medicaid_recipient_id",
          "baby_on_mom_ind", "tcn", "clm_line_tcn", "clm_line",
          "from_srvc_date", "paid_amt"),
        incoming.toDF("mbr_h_sid", "medicaid_recipient_id",
          "baby_on_mom_ind", "tcn", "clm_line_tcn", "from_srvc_date",
          "paid_amt"),
        "from_srvc_date")
      .as[Arch].collect().toSeq.sortBy(_.toString)
  }

  private val old = Seq(arch(1, "1996-01-10", 5.0), arch(2, "1996-02-20", 6.0))

  test("an empty incoming batch keeps the archive unchanged") {
    assert(run(old, Nil) === old.sortBy(_.toString))
  }

  test("incoming rows with a null date are dropped") {
    // the batch MIN is 1996-02-01: the archive keeps only 1996-01-10
    val batch = Seq(in(3, "1996-02-01", 7.0), in(4, null, 8.0))
    assert(run(old, batch) === Seq(arch(1, "1996-01-10", 5.0),
      arch(3, "1996-02-01", 7.0)).sortBy(_.toString))
    // a batch of null dates only has no MIN: nothing is truncated
    assert(run(old, Seq(in(4, null, 8.0))) === old.sortBy(_.toString))
  }

  test("a row in both branches, and a re-delivered one, land once") {
    // the batch MIN is 1996-01-10, so the archive row on it is replaced by
    // its identical re-delivery and the 1996-02-20 row not re-sent goes
    val batch = Seq(in(1, "1996-01-10", 5.0), in(5, "1996-03-01", 9.0),
      in(5, "1996-03-01", 9.0))
    assert(run(old :+ arch(0, "1995-12-31", 1.0), batch) ===
      Seq(arch(0, "1995-12-31", 1.0), arch(1, "1996-01-10", 5.0),
        arch(5, "1996-03-01", 9.0)).sortBy(_.toString))
  }
}

object McaidClaimStageSpec {
  type Arch = (Int, Long, String, String, String, String, Int, Date, Double)
  type In = (Long, String, String, String, String, Date, Double)

  def in(line: Int, date: String, paid: Double): In =
    (100L, "R100", "N", "T9", f"T9$line%03d",
      Option(date).map(Date.valueOf).orNull, paid)

  /** The stage row an incoming row becomes. */
  def arch(line: Int, date: String, paid: Double): Arch = {
    val d = Date.valueOf(date).toLocalDate
    (d.getYear * 100 + d.getMonthValue, 100L, "R100", "N", "T9",
      f"T9$line%03d", line, Date.valueOf(date), paid)
  }
}
