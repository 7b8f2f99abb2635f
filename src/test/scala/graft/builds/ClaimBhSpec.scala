package graft.builds

import graft.{Scratch, SparkSpec}
import graft.queries.PlrBhQueries
import java.sql.Timestamp
import scala.util.Random

/** claim_bh through its catalog query (q83) over fixture lineitem/orders
  * tables: hand-built edge cases, then seeded random claims, each checked
  * against a plain-Scala transcription of the reference — three
  * per-source person-month frames FULL OUTER joined with coalesced keys,
  * then contiguous months collapsed to episodes and rolled up per
  * person. */
class ClaimBhSpec extends SparkSpec {
  import ClaimBhSpec._

  private def run(orders: Seq[(Long, Long)], lines: Seq[Line]): Seq[Out] = {
    val s = spark
    import s.implicits._
    val dir = Scratch.dir(spark, "claim_bh_spec")
    try {
      orders.toDF("o_orderkey", "o_custkey")
        .write.parquet(s"$dir/orders.parquet")
      lines.toDF("l_orderkey", "l_shipdate", "l_returnflag", "l_discount",
          "l_quantity")
        .write.parquet(s"$dir/lineitem.parquet")
      PlrBhQueries.q83ClaimBh(spark, dir.toString).collect().toSeq
        .map(r => Out(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
          r.getInt(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getInt(8)))
    } finally Scratch.delete(dir)
  }

  private def check(orders: Seq[(Long, Long)], lines: Seq[Line]): Seq[Out] = {
    val got = run(orders, lines)
    assert(got === reference(orders, lines))
    got
  }

  private def line(k: Long, month: Int, flag: Option[String] = Some("N"),
      disc: Option[Double] = Some(0.0),
      qty: Option[Double] = Some(1.0)): Line =
    (k, ts(month), flag, disc, qty)

  test("a month with evidence from one source only is an episode") {
    val orders = Seq(1L -> 7L, 2L -> 7L, 3L -> 8L, 4L -> 9L)
    val lines = Seq(line(1, 1, flag = Some("R")),
      line(2, 3, disc = Some(0.08)),
      line(3, 2, qty = Some(45.0)),
      // order 4 has no evidence at all: person 9 has no episode
      line(4, 2))
    val out = check(orders, lines)
    assert(out.map(o => (o.id, o.nEpisodes, o.nDx, o.nRx, o.nPx,
      o.anyMultiSource)) === Seq((7L, 2L, 1L, 1L, 0L, 0),
      (8L, 1L, 0L, 0L, 1L, 0)))
  }

  test("sources meeting in one month merge into one multi-source month") {
    val orders = Seq(1L -> 7L, 2L -> 7L)
    val lines = Seq(line(1, 4, flag = Some("R"), qty = Some(50.0)),
      line(2, 4, disc = Some(0.1)), line(2, 5, flag = Some("R")))
    val out = check(orders, lines)
    assert(out === Seq(Out(7, 1, 2, 1996 * 12 + 3, 1996 * 12 + 4, 2, 1, 1,
      1)))
  }

  test("an order with no lines, and null flag, discount or quantity, " +
      "count as no evidence") {
    val orders = Seq(1L -> 7L, 2L -> 7L, 3L -> 8L)
    val lines = Seq(line(1, 1, flag = None, disc = None, qty = None),
      line(1, 2, flag = Some("R"), disc = None),
      line(2, 3, flag = None, qty = Some(60.0)))
    val out = check(orders, lines)
    assert(out.map(o => (o.id, o.evidenceMonths)) === Seq((7L, 2L)))
  }

  test("seeded random claims match the full-outer-join reference") {
    for (seed <- 1 to 6) {
      val rnd = new Random(seed)
      def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
      val orders = (1L to 60L).map(k => k -> (1L + rnd.nextInt(8)))
      val lines = orders.flatMap { case (k, _) =>
        Seq.fill(rnd.nextInt(4))(line(k, 1 + rnd.nextInt(12),
          flag = pick(None, Some("R"), Some("N"), Some("A")),
          disc = pick(None, Some(0.0), Some(0.05), Some(0.08), Some(0.1)),
          qty = pick(None, Some(1.0), Some(30.0), Some(45.0))))
      }
      withClue(s"seed $seed: ") { check(orders, lines) }
    }
  }
}

object ClaimBhSpec {
  /** (orderkey, shipdate, returnflag, discount, quantity) */
  type Line = (Long, Timestamp, Option[String], Option[Double],
    Option[Double])

  case class Out(id: Long, nEpisodes: Long, evidenceMonths: Long,
      firstMi: Int, lastMi: Int, nDx: Long, nRx: Long, nPx: Long,
      anyMultiSource: Int)

  def ts(month: Int): Timestamp =
    Timestamp.valueOf(f"1996-$month%02d-15 12:00:00")

  /** The reference's meaning over plain collections. */
  def reference(orders: Seq[(Long, Long)], lines: Seq[Line]): Seq[Out] = {
    val cust = orders.toMap
    val ol = lines.flatMap { case (k, t, flag, disc, qty) =>
      val d = t.toLocalDateTime
      cust.get(k).map(id =>
        ((id, d.getYear * 12 + d.getMonthValue - 1), flag, disc, qty))
    }
    def source(keep: ((Option[String], Option[Double],
        Option[Double])) => Boolean): Map[(Long, Int), Long] =
      ol.filter { case (_, f, d, q) => keep((f, d, q)) }
        .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val dx = source(_._1.contains("R"))
    val rx = source(_._2.exists(_ >= 0.08))
    val px = source(_._3.exists(_ >= 45))
    // FULL OUTER JOIN on (id, mi), missing counts coalesced to 0
    val merged = (dx.keySet ++ rx.keySet ++ px.keySet).toSeq.map(k =>
      (k, dx.getOrElse(k, 0L), rx.getOrElse(k, 0L), px.getOrElse(k, 0L)))
    merged.groupBy(_._1._1).toSeq.map { case (id, months) =>
      val sorted = months.sortBy(_._1._2)
      // islands: consecutive month indices
      val episodes = sorted.foldLeft(List.empty[List[((Long, Int), Long,
          Long, Long)]]) {
        case (cur :: done, m) if cur.head._1._2 + 1 == m._1._2 =>
          (m :: cur) :: done
        case (acc, m) => List(m) :: acc
      }
      val multi = episodes.exists { ep =>
        Seq(ep.map(_._2).sum, ep.map(_._3).sum, ep.map(_._4).sum)
          .count(_ > 0) >= 2
      }
      Out(id, episodes.size.toLong, sorted.size.toLong, sorted.head._1._2,
        sorted.last._1._2, sorted.map(_._2).sum, sorted.map(_._3).sum,
        sorted.map(_._4).sum, if (multi) 1 else 0)
    }.sortBy(_.id)
  }
}
