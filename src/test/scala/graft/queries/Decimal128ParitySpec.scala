package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The decimal(38,0) promotion of the refresh-decision arithmetic (r13
  * verdict #3: turn the regime NOTE into a tested path), pinned against
  * plain-BigInt recounts:
  *
  *   1. survival — on planted overflow-scale fixtures, where the same
  *      products in plain int64 fail correct-by-crash under ANSI, the
  *      promoted arithmetic returns the value a BigInt recount pins;
  *   2. exactness — inside the int64 regime the promoted answers equal
  *      the BigInt recount too (integral `div` over decimal yields
  *      bigint), for the raw expressions and the live composition.
  *
  * The retired int64 pin (`spark.graft.decimal128=false`) fails loudly.
  */
class Decimal128ParitySpec extends SparkSpec {

  private def chainHasOverflow(e: Throwable): Boolean = {
    var t: Throwable = e
    var n = 0
    while (t != null && n < 12) {
      if (t.getMessage != null &&
        t.getMessage.toLowerCase.contains("overflow")) return true
      t = t.getCause
      n += 1
    }
    false
  }

  /** The fixture really is overflow-scale: `product` over its columns,
    * in plain int64 arithmetic, crashes under ANSI. */
  private def assertInt64Overflows(per: DataFrame, product: String): Unit = {
    val e = intercept[Throwable](per.selectExpr(product).collect())
    assert(chainHasOverflow(e), s"int64 $product failed without 'overflow': $e")
  }

  // ------------------------------------------------- planted fixtures
  // counts chosen so every overflow-capable product EXCEEDS int64:
  // w_old's numerator (ct+1)(nr_a+B)·10⁴ ≈ 4e9·5e9·1e4 = 2·10²³ and
  // Σ|shift| = 10¹⁹ both blow past 9.2·10¹⁸
  private val B = Curation.DsirBuckets
  private val hugeRows = Seq(
    (0L, 4000000000L, 3000000000L, 1000000000L, 2000000000L),
    (1L, 1000000000L, 2000000000L, 2000000000L, 3000000000L))
  private val smallRows = Seq(
    (0L, 40L, 30L, 10L, 20L), (1L, 10L, 20L, 20L, 30L), (2L, 5L, 0L, 0L, 7L))
  private def selectorPer(rows: Seq[(Long, Long, Long, Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("b", "ct_arch", "cr_arch", "ct_inc", "n_inc")
  }

  /** Plain-BigInt recount of [[RefreshDecision.selectorLegOf]] over
    * `(b, ct_arch, cr_arch, ct_inc, n_inc)` rows — the third
    * implementation; None where the leg's nullif guard yields NULL. */
  private def bigSelectorExpected(
      rows0: Seq[(Long, Long, Long, Long, Long)]): (Option[Long], Long) = {
    val rows = rows0.map { case (_, a, b, c, d) => (BigInt(a), BigInt(b), BigInt(c), BigInt(d)) }
    val ntA = rows.map(_._1).sum
    val nrA = rows.map(_._2).sum
    val tiT = rows.map(_._3).sum
    val tiR = rows.map(_._4).sum
    val bb = BigInt(B)
    val sh = rows.map { case (_, cra, _, nin) => (nin * nrA - cra * tiR).abs }.sum
    val den = BigInt(2) * nrA * tiR
    val st = if (den == 0) None else Some((BigInt(10000) * sh / den).toLong)
    val dw = rows.map { case (cta, cra, cti, nin) =>
      val wOld = (cta + 1) * (nrA + bb) * 10000 / ((cra + 1) * (ntA + bb))
      val wNew = (cta + cti + 1) * (nrA + tiR + bb) * 10000 /
        ((cra + nin + 1) * (ntA + tiT + bb))
      (wNew - wOld).abs
    }.sum
    (st, (dw / rows.size).toLong)
  }

  private def assertSelectorLeg(rows: Seq[(Long, Long, Long, Long, Long)]): Unit = {
    val got = RefreshDecision.selectorLegOf(selectorPer(rows), B).collect().head
    val (wantSt, wantBen) = bigSelectorExpected(rows)
    val gotSt = if (got.isNullAt(0)) None else Some(got.getLong(0))
    assert(gotSt == wantSt, s"staleness: got $gotSt want $wantSt")
    assert(got.getLong(1) == wantBen, s"benefit: got ${got.getLong(1)} want $wantBen")
  }

  test("selector leg: int64 crashes loudly at overflow scale, decimal128 answers") {
    assertInt64Overflows(selectorPer(hugeRows), "n_inc * sum(cr_arch) over ()")
    assertSelectorLeg(hugeRows)
  }

  test("selector leg: decimal128 is bit-identical inside the int64 regime") {
    assertSelectorLeg(smallRows)
  }

  test("cross staleness: overflow-scale masses crash int64, answer in decimal128") {
    val s = spark
    import s.implicits._
    // mi·na = 10¹⁰·10⁹ = 10¹⁹ > int64 even before the 10⁴ factor
    val per = Seq((1000000000L, 500000000L, 7000000000L, 10000000000L))
      .toDF("n_arch", "n_inc", "m_arch", "m_inc")
    assertInt64Overflows(per, "10000 * m_inc * n_arch")
    val got = RefreshDecision
      .crossStalenessBp(per, "n_arch", "n_inc", "m_arch", "m_inc")
      .collect().head.getLong(0)
    val want = (BigInt(10000) * BigInt(10000000000L) * BigInt(1000000000L) /
      (BigInt(7000000000L) * BigInt(500000000L)) - 10000).toLong
    assert(got == want, s"got $got want $want")
  }

  test("benefit: overflow-scale error mass crashes int64, answers in decimal128") {
    val s = spark
    import s.implicits._
    val per = Seq((1000000000000000000L, 100000000000000000L)).toDF("eb", "ea")
    assertInt64Overflows(per, "10000 * (eb - ea)")
    val got = per.select(RefreshDecision.benefitBp("eb", "ea"))
      .collect().head.getLong(0)
    assert(got == 9000L, s"got $got want 9000")
  }

  // (name kept from when decisionOf took a decimal flag: the promoted
  // path is now the only one, so parity is against BigInt recounts)
  test("live decisionOf: decimal flag parity on the monitors' report shapes") {
    val s = spark
    import s.implicits._
    val ivf = Seq((0L, 10L, 3L, 100L, 40L), (1L, 8L, 5L, 90L, 70L))
    val pq = Seq((0L, 18L, 8L, 190L, 110L))
    val sel = Seq((0L, 40L, 30L, 20L), (1L, 10L, 20L, 30L))
    val ben = graft.stream.LiveRefreshDecision.StoredBenefits(500L, 300L, 120L)
    val got = graft.stream.LiveRefreshDecision.decisionOf(
        ivf.toDF("list_id", "n_arch", "n_inc", "d_arch", "d_inc"),
        pq.toDF("m", "n_arch", "n_inc", "err_arch", "err_inc"),
        sel.toDF("b", "ct_arch", "cr_arch", "n_inc"), ben)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(5)))
      .toMap
    // crossStalenessBp's recount: 10⁴·(Σmᵢ·Σnₐ) div (Σmₐ·Σnᵢ) − 10⁴
    def cross(rows: Seq[(Long, Long, Long, Long, Long)]): Long = {
      val Seq(na, ni, ma, mi) = Seq[((Long, Long, Long, Long, Long)) => Long](
        _._2, _._3, _._4, _._5).map(f => BigInt(rows.map(f).sum))
      (BigInt(10000) * mi * na / (ma * ni) - 10000).toLong
    }
    // the live selector leg reads ct_inc = 0
    val (selSt, _) = bigSelectorExpected(sel.map { case (b, ct, cr, n) => (b, ct, cr, 0L, n) })
    def verdict(st: Long, bp: Long): String =
      if (st >= RefreshDecision.DefaultMinStalenessBp && bp >= RefreshDecision.DefaultMinBenefitBp)
        "refresh" else "keep"
    val want = Map(
      "ivf" -> (cross(ivf), ben.ivfBp),
      "pq" -> (cross(pq), ben.pqBp),
      "selector" -> (selSt.get, ben.selectorBp))
      .map { case (f, (st, bp)) => f -> (st, bp, verdict(st, bp)) }
    assert(got == want, s"live decision diverged:\n  got  $got\n  want $want")
  }

  test("default regime survives the planted overflow scale (no conf set)") {
    assert(spark.conf.getOption("spark.graft.decimal128").isEmpty)
    RefreshDecision.rejectInt64Pin(spark) // the unset conf is accepted
    assertSelectorLeg(hugeRows)
  }

  test("decimal128=false is retired") {
    val dir = sf()
    def c13(): Seq[Seq[Any]] =
      graft.SparkEntry.queries("c13_refresh_decision")(spark, dir).collect().map(_.toSeq).toSeq
    val base = c13()
    spark.conf.set("spark.graft.decimal128", "false")
    try {
      val e = intercept[IllegalArgumentException](c13())
      assert(e.getMessage.contains("spark.graft.decimal128") && e.getMessage.contains("false"),
        e.getMessage)
    } finally spark.conf.unset("spark.graft.decimal128")
    // the former default spellings are still accepted and change nothing
    for (v <- Seq("true", "auto")) {
      spark.conf.set("spark.graft.decimal128", v)
      try assert(c13() == base, s"decimal128=$v changed c13")
      finally spark.conf.unset("spark.graft.decimal128")
    }
  }
}
