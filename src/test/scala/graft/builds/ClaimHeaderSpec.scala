package graft.builds

import graft.SparkSpec
import java.sql.{Date, Timestamp}
import scala.util.Random

/** claim_header: hand-built edge fixtures, then seeded random fixtures,
  * each checked against a plain-Scala transcription of the reference's
  * set algebra — the inpatient keys as qualifying EXCEPT disqualifying,
  * the primary line as ROW_NUMBER over (price desc, line number). */
class ClaimHeaderSpec extends SparkSpec {
  import ClaimHeaderSpec._

  private def run(orders: Seq[Order], lines: Seq[Line]): Seq[Out] = {
    val s = spark
    import s.implicits._
    ClaimHeader.build(
        orders.toDF("o_orderkey", "o_custkey", "o_orderdate"),
        lines.toDF("l_orderkey", "l_linenumber", "l_partkey",
          "l_extendedprice", "l_quantity", "l_discount", "l_returnflag"))
      .collect().toSeq
      .map(r => Out(r.getLong(0), r.getLong(1), r.getDate(2), r.getLong(3),
        r.getDouble(4), r.getInt(5), r.getInt(6), r.getInt(7),
        Option(r.get(8)).map(_.asInstanceOf[Long]),
        Option(r.get(9)).map(_.asInstanceOf[Double]), r.getLong(10)))
      .sortBy(_.orderkey)
  }

  private def check(orders: Seq[Order], lines: Seq[Line]): Seq[Out] = {
    val got = run(orders, lines)
    assert(got === reference(orders, lines))
    got
  }

  private def order(k: Long, cust: Long = 1, day: Int = 1): Order =
    (k, cust, ts(day))
  private def line(k: Long, ln: Int, pk: Long, price: Double,
      qty: Option[Double] = Some(1.0), disc: Option[Double] = Some(0.0),
      flag: String = "N"): Line = (k, ln, pk, price, qty, disc, flag)

  test("an order with no lines keeps zero rollups and no primary line") {
    val out = check(Seq(order(1), order(2, day = 5)),
      Seq(line(2, 1, 20, 10.5)))
    assert(out.head === Out(1, 1, Date.valueOf("1996-01-01"), 0, 0.0, 0,
      0, 0, None, None, 1))
  }

  test("equal-price lines: the lower line number is the primary line") {
    val lines = Seq(line(1, 3, 30, 500.0), line(1, 1, 10, 500.0),
      line(1, 2, 20, 100.0), line(2, 2, 22, 7.25), line(2, 1, 21, 7.25))
    val out = check(Seq(order(1), order(2)), lines)
    assert(out.map(o => (o.primaryPartkey, o.primaryPrice)) ===
      Seq((Some(10L), Some(500.0)), (Some(21L), Some(7.25))))
  }

  test("inpatient: a disqualifying line anywhere in the claim removes it") {
    val lines = Seq(
      line(1, 1, 1, 1.0, qty = Some(50.0)),
      line(1, 2, 2, 1.0, disc = Some(0.09)),
      line(2, 1, 3, 1.0, qty = Some(45.0)),
      line(3, 1, 4, 1.0, qty = Some(50.0), disc = Some(0.1)),
      line(4, 1, 5, 1.0, disc = Some(0.09)))
    val out = check((1L to 4L).map(order(_)), lines)
    assert(out.map(_.isInpatient) === Seq(0, 1, 0, 0))
  }

  test("null quantity or discount neither qualifies nor disqualifies") {
    val lines = Seq(
      line(1, 1, 1, 1.0, qty = Some(50.0), disc = None),
      line(2, 1, 2, 1.0, qty = None),
      line(3, 1, 3, 1.0, qty = None, disc = None),
      line(3, 2, 4, 1.0, qty = Some(46.0), disc = None),
      line(4, 1, 5, 1.0, qty = Some(46.0), disc = None),
      line(4, 2, 6, 1.0, qty = None, disc = Some(0.2)))
    val out = check((1L to 4L).map(order(_)), lines)
    assert(out.map(_.isInpatient) === Seq(1, 0, 1, 0))
  }

  test("seeded random claims match the set-algebra reference") {
    for (seed <- 1 to 6) {
      val rnd = new Random(seed)
      def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
      val orders = (1L to 40L).map(k =>
        order(k, cust = 1 + rnd.nextInt(6), day = 1 + rnd.nextInt(20)))
      val lines = orders.flatMap { case (k, _, _) =>
        val n = rnd.nextInt(6)
        rnd.shuffle((1 to n).toList).map(ln =>
          line(k, ln, rnd.nextInt(50).toLong,
            pick(100.0, 250.5, 250.5, 999.99, 12.34),
            qty = pick(None, Some(10.0), Some(45.0), Some(50.0)),
            disc = pick(None, Some(0.0), Some(0.08), Some(0.09), Some(0.1)),
            flag = pick("R", "N", "A")))
      }
      withClue(s"seed $seed: ") { check(orders, lines) }
    }
  }
}

object ClaimHeaderSpec {
  type Order = (Long, Long, Timestamp)
  /** (orderkey, linenumber, partkey, price, quantity, discount, flag) */
  type Line = (Long, Int, Long, Double, Option[Double], Option[Double],
    String)

  case class Out(orderkey: Long, custkey: Long, orderDate: Date,
      nLines: Long, sumPrice: Double, hasReturn: Int, hasDeepDiscount: Int,
      isInpatient: Int, primaryPartkey: Option[Long],
      primaryPrice: Option[Double], episodeSeq: Long)

  def ts(day: Int): Timestamp =
    Timestamp.valueOf(f"1996-01-$day%02d 08:30:00")

  private def round2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The reference's meaning, step by step over plain collections. */
  def reference(orders: Seq[Order], lines: Seq[Line]): Seq[Out] = {
    val byKey = lines.groupBy(_._1)
    val qualify = lines.filter(_._5.exists(_ >= 45)).map(_._1).toSet
    val disqualify = lines.filter(_._6.exists(_ >= 0.09)).map(_._1).toSet
    val inpatient = qualify -- disqualify
    val episode = orders.groupBy(_._2).values.flatMap { os =>
      val sorted = os.map(o => (o._1, o._3.toLocalDateTime.toLocalDate))
        .sortBy { case (k, d) => (d.toEpochDay, k) }
      val starts = sorted.indices.map(i => i == 0 ||
        sorted(i)._2.toEpochDay - sorted(i - 1)._2.toEpochDay > 1)
      sorted.map(_._1).zip(starts.scanLeft(0L)((n, s) =>
        if (s) n + 1 else n).tail)
    }.toMap
    orders.map { case (k, cust, t) =>
      val ls = byKey.getOrElse(k, Nil)
      val primary = ls.sortBy(l => (-l._4, l._2)).headOption
      Out(k, cust, Date.valueOf(t.toLocalDateTime.toLocalDate),
        ls.size.toLong, round2(ls.map(_._4).sum),
        if (ls.exists(_._7 == "R")) 1 else 0,
        if (ls.exists(_._6.exists(_ >= 0.08))) 1 else 0,
        if (inpatient(k)) 1 else 0,
        primary.map(_._3), primary.map(l => round2(l._4)), episode(k))
    }.sortBy(_.orderkey)
  }
}
