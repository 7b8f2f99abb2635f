package graft.builds

import graft.SparkSpec
import scala.util.Random

/** The noncisgender flag: hand-computed fixtures for every branch of the
  * R cascade, then seeded random fixtures checked against a plain-Scala
  * transcription of the reference's set algebra (Sets with union,
  * intersect and diff — load_stage.mcaid_elig_demo_extra.R:248-285). */
class EligDemoExtraSpec extends SparkSpec {
  import EligDemoExtraSpec._

  private def run(dx: Seq[Dx], px: Seq[Px], rx: Seq[Rx],
      demo: Seq[Demo]): Seq[Out] = {
    val s = spark
    import s.implicits._
    EligDemoExtra.build(
        dx.toDF("id_mcaid", "claim_header_id", "icdcm_norm",
          "icdcm_version"),
        px.toDF("id_mcaid", "claim_header_id", "procedure_code"),
        rx.toDF("id_mcaid", "ndc"),
        demo.toDF("id_mcaid", "gender_me"),
        ndcRef.toDF("ndc", "nonproprietaryname", "dosageformname",
          "active_numerator_strength", "active_ingred_unit"))
      .as[Out].collect().toSeq.sortBy(_.toString)
  }

  /** Ids flagged when every id in `ids` has one demo row of `gender`. */
  private def flagged(dx: Seq[Dx] = Nil, px: Seq[Px] = Nil,
      rx: Seq[Rx] = Nil, ids: Seq[Long], gender: String = "Multiple")
      : Set[Long] =
    run(dx, px, rx, ids.map(i => (Some(i), Some(gender))))
      .collect { case (Some(i), _, 1) => i }.toSet

  private def dx10(id: Long, claim: Long, code: String): Dx =
    (Some(id), Some(claim), Some(code), Some(10))
  private def dx9(id: Long, claim: Long, code: String): Dx =
    (Some(id), Some(claim), Some(code), Some(9))
  private def px(id: Long, claim: Long, code: String): Px =
    (Some(id), Some(claim), Some(code))
  private def rx(id: Long, ndc: String): Rx = (Some(id), Some(ndc))

  test("dysphoria alone flags trans-unknown; other dx do not") {
    val dx = Seq(dx10(1, 10, "F640"), dx10(2, 20, "F6510"),
      dx10(3, 30, "Z878901"), dx10(4, 40, "F659"), dx10(5, 50, "E348"),
      dx10(6, 60, "Z87891"))
    assert(flagged(dx = dx, ids = 1L to 6L) === Set(1L, 2L, 3L))
  }

  test("every procedure list flags on its own, no dx needed") {
    val codes = ftm ++ ftmNoVag ++ mtf ++ mtfNoTest ++ mtfNoPen
    val pxs = codes.zipWithIndex.map { case (c, i) => px(i, i, c) } :+
      px(1000, 1000, "99213") :+ px(1001, 1001, "0W4NOK1")
    val ids = pxs.map(_._1.get)
    assert(flagged(px = pxs, ids = ids) === codes.indices.map(_.toLong).toSet)
  }

  test("claim-level cancer exclusions") {
    val dx = Seq(
      // 58661 sits on both the uterine and the vaginal list, so a
      // uterine dx alone leaves it flagged through the vaginal list
      dx10(1, 10, "C561"),
      dx9(2, 20, "1830"), dx9(2, 20, "1841"),
      // the same two dx on another claim exclude nothing
      dx10(3, 31, "C561"), dx10(3, 31, "C511"),
      dx10(4, 40, "C521"),
      dx10(5, 51, "C521"),
      dx10(6, 60, "C62"),
      dx9(7, 70, "18751"),
      // version gates the code: 18751 read as ICD-10 is not testicular
      dx10(8, 80, "18751"),
      dx10(9, 90, "C601"),
      dx9(10, 100, "18712"),
      (Some(11L), Some(110L), Some("C601"), None))
    val pxs = Seq(px(1, 10, "58661"), px(2, 20, "58661"),
      px(3, 30, "58661"), px(4, 40, "0UTG0ZZ"), px(5, 50, "0UTG0ZZ"),
      px(6, 60, "54520"), px(7, 70, "54690"), px(8, 80, "54520"),
      px(9, 90, "643"), px(10, 100, "0VTS0ZZ"), px(11, 110, "643"))
    assert(flagged(dx = dx, px = pxs, ids = 1L to 11L) ===
      Set(1L, 3L, 5L, 8L, 11L))
  }

  test("endo ∩ hormones needs the matching recorded gender") {
    val dx = (1L to 8L).map(i => dx10(i, i, "E251"))
    val rxs = Seq(rx(1, "N_TINJ"), rx(2, "N_TGEL2"), rx(3, "N_NAN"),
      rx(4, "N_TINJLOW"), rx(5, "N_TGEL"), rx(6, "N_EST"), rx(7, "N_SPI"),
      rx(8, "N_SPILOW"), rx(9, "N_TINJ"))
    val ids = 1L to 9L
    // masculinizing hormones + endo-NOS count only for Female,
    // feminizing ones only for Male; id 9 has no endo dx
    assert(flagged(dx = dx, rx = rxs, ids = ids, gender = "Female") ===
      Set(1L, 2L, 3L))
    assert(flagged(dx = dx, rx = rxs, ids = ids, gender = "Male") ===
      Set(6L, 7L))
    assert(flagged(dx = dx, rx = rxs, ids = ids) === Set.empty[Long])
  }

  test("ids on both sides conflict out, with or without dysphoria") {
    val pxs = Seq(px(1, 10, "15757"), px(1, 11, "0W4M070"),
      px(2, 20, "15757"), px(3, 30, "15757"), px(4, 40, "55970"))
    val dx = Seq(dx10(1, 10, "F640"), dx10(2, 20, "E251"),
      dx10(4, 40, "E251"), dx10(4, 41, "F640"))
    // id 2: transmasculine procedure + Male endo + feminizing hormone;
    // id 4: transfeminine procedure + the same -> one side only
    val rxs = Seq(rx(2, "N_EST"), rx(4, "N_EST"))
    assert(flagged(dx = dx, px = pxs, rx = rxs, ids = 1L to 4L,
      gender = "Male") === Set(3L, 4L))
  }

  test("null ids, claims and codes; duplicate and null demo rows") {
    val dx: Seq[Dx] = Seq(
      // null claims match no procedure, so exclude nothing
      (Some(1L), None, Some("C561"), Some(10)),
      (Some(1L), None, Some("C511"), Some(10)),
      (None, Some(20L), Some("F640"), Some(10)),
      (Some(3L), Some(30L), None, Some(10)),
      (Some(4L), Some(40L), Some("F640"), None))
    val pxs: Seq[Px] = Seq((Some(1L), None, Some("58661")),
      (Some(2L), Some(20L), None))
    val demo: Seq[Demo] = Seq((Some(1L), Some("Female")),
      (Some(1L), Some("Female")), (None, Some("Male")), (Some(2L), None),
      (Some(3L), Some("Male")), (Some(4L), Some("Male")))
    assert(run(dx, pxs, Nil, demo) === Seq[Out](
      (None, Some("Male"), 0),
      (Some(1L), Some("Female"), 1), (Some(1L), Some("Female"), 1),
      (Some(2L), None, 0), (Some(3L), Some("Male"), 0),
      (Some(4L), Some("Male"), 1)).sortBy(_.toString))
  }

  test("matches the set-algebra reference on seeded random fixtures") {
    var nFlagged = 0
    for (seed <- 1 to 6) {
      val (dx, pxs, rxs, demo) = randomFixture(new Random(seed))
      val expected = reference(dx, pxs, rxs, demo)
      assert(run(dx, pxs, rxs, demo) === expected, s"seed $seed")
      nFlagged += expected.count(_._3 == 1)
    }
    assert(nFlagged >= 20, s"fixtures too sparse: $nFlagged flagged rows")
  }
}

object EligDemoExtraSpec {
  type Dx = (Option[Long], Option[Long], Option[String], Option[Int])
  type Px = (Option[Long], Option[Long], Option[String])
  type Rx = (Option[Long], Option[String])
  type Demo = (Option[Long], Option[String])
  type Out = (Option[Long], Option[String], Int)

  val ftm = Seq("0W4N071", "0W4N0J1", "0W4N0K1", "15757", "53410",
    "55175", "55180", "55899", "55980", "57120", "64856")
  val ftmNoUter = Seq("58661")
  val ftmNoVag = Seq("58661", "704", "7162", "0UTG0ZZ", "0UTG4ZZ",
    "0UTG7ZZ", "0UTG8ZZ", "0UTM0ZZ", "0UTMXZZ")
  val mtf = Seq("0W4M070", "0W4M0J0", "0W4M0K0", "0W4M0Z0", "21209",
    "31899", "53430", "54125", "55970", "56805", "57335", "58999")
  val mtfNoTest = Seq("54520", "54690")
  val mtfNoPen = Seq("643", "0VTS0ZZ", "0VTS4ZZ", "0VTSXZZ")

  val ndcRef = Seq(
    ("N_EST", "Estradiol Valerate", "INJECTION", "10 mg", "MG"),
    ("N_NAN", "NANDROLONE DECANOATE", "INJECTION", "200 ", "MG"),
    ("N_TINJ", "TESTOSTERONE CYPIONATE", "INJECTION", "100; 50", "MG"),
    ("N_TINJLOW", "TESTOSTERONE CYPIONATE", "INJECTION", "5", "MG"),
    ("N_TGEL", "TESTOSTERONE", "GEL", "1.62", "MG"),
    ("N_TGEL2", "TESTOSTERONE", "GEL, METERED", "2.5 mg", "MG"),
    ("N_SPI", "SPIRONOLACTONE", "TABLET", "50", "MG"),
    ("N_SPILOW", "SPIRONOLACTONE", "TABLET", "25", "MG"),
    ("N_ASP", "ASPIRIN", "TABLET", "325", "MG"))

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def opt[A](r: Random, a: => A): Option[A] =
    if (r.nextInt(10) == 0) None else Some(a)

  def randomFixture(r: Random): (Seq[Dx], Seq[Px], Seq[Rx], Seq[Demo]) = {
    def id = opt(r, 1L + r.nextInt(15))
    def claim = opt(r, 1L + r.nextInt(25))
    val dxCodes = Seq("F640", "F6510", "Z878901", "F659", "E348", "E049",
      "E251", "E70", "E880", "E889", "1830", "1841", "18751", "18712",
      "C561", "C571", "C511", "C521", "C62", "C631", "C601", "A001")
    val pxCodes = Seq("15757", "58661", "58661", "0UTG0ZZ", "704",
      "0W4M070", "55970", "54520", "54690", "643", "0VTSXZZ", "99213")
    val dx = Seq.fill(60)((id, claim, opt(r, pick(r, dxCodes)),
      opt(r, pick(r, Seq(9, 10)))))
    val pxs = Seq.fill(40)((id, claim, opt(r, pick(r, pxCodes))))
    val rxs = Seq.fill(30)((id, opt(r, pick(r, ndcRef.map(_._1) :+ "N_X"))))
    val demo = Seq.fill(20)((id,
      opt(r, pick(r, Seq("Female", "Male", "Multiple")))))
    (dx, pxs, rxs, demo)
  }

  /** The R cascade over plain Sets of person ids. Null ids are dropped:
    * the final step joins the flags onto demo by id equality, which a
    * null never satisfies, so no set can carry one to the output. */
  def reference(dx: Seq[Dx], px: Seq[Px], rx: Seq[Rx],
      demo: Seq[Demo]): Seq[Out] = {
    def dxIds(p: (String, Option[Int]) => Boolean): Set[Long] =
      dx.collect { case (Some(i), _, Some(c), v) if p(c, v) => i }.toSet
    def dxClaims(p: (String, Option[Int]) => Boolean): Set[Long] =
      dx.collect { case (_, Some(k), Some(c), v) if p(c, v) => k }.toSet
    def pre(c: String, ps: String*) = ps.exists(c.startsWith)
    def v9(v: Option[Int]) = v.contains(9)
    def v10(v: Option[Int]) = v.contains(10)

    val dysphoria = dxIds((c, _) => pre(c, "F64", "F651", "Z87890"))
    val endoNos = dxIds((c, _) => pre(c, "E348", "E349",
      "E00", "E01", "E02", "E03", "E04", "E05", "E06", "E07",
      "E20", "E21", "E22", "E23", "E24", "E25", "E26", "E27", "E31",
      "E340", "E341", "E342", "E343", "E344", "E7", "E80", "E83", "E84",
      "E85", "E87", "E880", "E881", "E882", "E883", "E884"))
    val uter = dxClaims((c, v) => v9(v) && pre(c, "183") ||
      v10(v) && pre(c, "C56", "C57"))
    val vag = dxClaims((c, v) => v9(v) && pre(c, "184") ||
      v10(v) && pre(c, "C51", "C52"))
    val testic = dxClaims((c, v) => v9(v) &&
      pre(c, "1875", "1876", "1877", "1878", "1879") ||
      v10(v) && pre(c, "C62", "C63"))
    val penile = dxClaims((c, v) => v9(v) &&
      pre(c, "1871", "1872", "1873", "1874") || v10(v) && pre(c, "C60"))

    def procIds(codes: Seq[String], excluded: Set[Long] = Set.empty) =
      px.collect { case (Some(i), k, Some(c))
        if codes.contains(c) && !k.exists(excluded) => i }.toSet
    val transmascProc = procIds(ftm) | procIds(ftmNoUter, uter) |
      procIds(ftmNoVag, vag)
    val transfemProc = procIds(mtf) | procIds(mtfNoTest, testic) |
      procIds(mtfNoPen, penile)

    def hormoneIds(p: ((String, String, String)) => Boolean): Set[Long] = {
      val ndcs = ndcRef.filter(n => p((n._2.toUpperCase, n._3, n._4)))
        .map(_._1).toSet
      rx.collect { case (Some(i), Some(n)) if ndcs(n) => i }.toSet
    }
    def strength(s: String): Option[Double] =
      s.split(";", -1)(0).split(" ", -1)(0).toDoubleOption
    val femNoReq = hormoneIds { case (n, _, _) => Seq("ESTRAD", "ESTRO",
      "ESTRIOL", "ESTR/PRG").exists(n.contains) }
    val mascNoReq = hormoneIds { case (n, _, _) =>
      Seq("DIHYDROTESTOSTERONE PROPIONATE", "NANDROLONE", "STANOLONE",
        "STANOZOLOL").exists(n.contains) }
    val mascMinReq = hormoneIds { case (n, form, s) =>
      n.contains("TESTOSTERONE") && strength(s).exists(x =>
        x >= 7 && Seq("INJECTION", "INJECTION, SOLUTION").contains(form) ||
          x >= 2 && Seq("GEL", "PATCH", "GEL, METERED").contains(form)) }
    val femMinReq = hormoneIds { case (n, _, s) =>
      n.contains("SPIRONOLACTONE") && strength(s).exists(_ >= 50) }
    val mascHormones = mascNoReq | mascMinReq
    val femHormones = femNoReq | femMinReq

    def demoIds(g: String) =
      demo.collect { case (Some(i), Some(`g`)) => i }.toSet
    val transUnknown = dysphoria -- (transmascProc | transfemProc)
    val enosMascFSex = demoIds("Female") & (endoNos & mascHormones)
    val enosFemMSex = demoIds("Male") & (endoNos & femHormones)
    val transmascIds = transmascProc | (endoNos & transmascProc) |
      (transmascProc & mascHormones) | enosMascFSex
    val transfemIds = transfemProc | (endoNos & transfemProc) |
      (transfemProc & femHormones) | enosFemMSex
    val conflicts = transmascIds & transfemIds
    val flagged = (transmascIds -- conflicts) | (transfemIds -- conflicts) |
      (transUnknown -- transmascIds -- transfemIds)

    demo.map { case (i, g) => (i, g, if (i.exists(flagged)) 1 else 0) }
      .sortBy(_.toString)
  }
}
