package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Date helpers matching the reference's T-SQL semantics (SURVEY §7.5.4).
  * T-SQL DATEDIFF(month|year) counts *boundary crossings*, not elapsed
  * periods — distinct from Spark's months_between. */
object DateFns {

  /** T-SQL DATEDIFF(month, a, b) = (y2*12+m2)-(y1*12+m1). */
  def datediffMonth(a: Column, b: Column): Column =
    (year(b) * 12 + month(b)) - (year(a) * 12 + month(a))

  /** Exact age at `asof`, reference idiom FLOOR((datediff(day)+1)/365.25)
    * (R/claims_elig.R:590-594). */
  def ageYears(dob: Column, asof: Column): Column =
    floor((datediff(asof, dob) + lit(1)) / lit(365.25))

  /** The reference's seven-level age group over the T-SQL age; NULL for
    * a NULL or negative age. */
  def ageGrp7(age: Column): Column =
    when(age >= 0 && age < 5, "0-4")
      .when(age >= 5 && age < 12, "5-11")
      .when(age >= 12 && age < 18, "12-17")
      .when(age >= 18 && age < 25, "18-24")
      .when(age >= 25 && age < 45, "25-44")
      .when(age >= 45 && age < 65, "45-64")
      .when(age >= 65, "65 and over")

  /** Inclusive day count of an ISO-date ask window (`from`..`to`), the
    * reference's @duration: a plan-time int computed on the driver. */
  def windowDays(from: String, to: String): Int =
    java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(from), java.time.LocalDate.parse(to)).toInt + 1

  /** DATE -> yyyymm INT (load_table.R:753). */
  def dateToYyyymm(d: Column): Column = year(d) * 100 + month(d)

  /** Month-end: dateadd(day,-1,dateadd(month,1,d)) idiom
    * (load_stage.apcd_elig_timevar.R:26). */
  def monthEnd(d: Column): Column = last_day(d)

  /** Dense month index since 1900-01-01, the reference's island-arithmetic
    * epoch (load_stage.apcd_elig_timevar.R:81-84). */
  def monthIndex(d: Column): Column =
    (year(d) - lit(1900)) * 12 + month(d) - lit(1)
}
