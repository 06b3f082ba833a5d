package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TaxCompute
import graft.engine.TaxCompute.{Repartition, TaxDef}

/** The tax computation engine pinned to the REFERENCE'S OWN fixture
  * values (etl_account/models/account_tax.py:58-261 `compute_all`; the
  * expected numbers are the journal amounts the account_reports test
  * fixtures book from it):
  *
  *  - the 42%+11% grid chain with the 25/75/−10 repartition
  *    (test_tax_report.py:604-763);
  *  - the include_base_amount chain 20%→10%
  *    (test_tax_report_default_part.py:33-131: 200 then 120 on 1200)
  *    and the 42%→10% repetition chain (:778-844: 42 then 14.2 on 142);
  *  - the caba 25/75 split (test_tax_report.py:926-1023: 5 and 15);
  *  - price-included taxes through the CHECKPOINT arithmetic — two
  *    included taxes on 131.10 must reach the included total exactly
  *    (21.02 + 10.00), where naive per-tax rounding would drift a cent;
  *  - the repartition rounding-error distribution (:203-214): a
  *    33.33/33.33/33.34 split of 10.00 lands 3.34/3.33/3.33;
  *  - negative bases compute on the absolute value and re-sign
  *    (:92-99, the caba negative-line fixture's −100/−20).
  */
class GoldenTaxComputeSpec extends AnyFunSuite with SparkSpec {

  /** Evaluate a compiled chain on one (price_unit, quantity) row:
    * (total_excluded, total_included, line amounts in order). */
  private def eval(chain: Seq[TaxDef], price: Double, qty: Double = 1.0,
                   params: TaxCompute.Params = TaxCompute.Params())
      : (Double, Double, Seq[Double]) = {
    val s = spark; import s.implicits._
    val c = TaxCompute.compile(chain, col("p"), col("q"), params)
    val row = Seq((price, qty)).toDF("p", "q")
      .select((c.totalExcluded +: c.totalIncluded +: c.lines.map(_.amount))
        .zipWithIndex.map { case (e, i) => e.as(s"c$i") }: _*)
      .head()
    val vals = (0 until row.length).map(row.getDouble)
    (vals(0), vals(1), vals.drop(2))
  }

  test("the 42%+11% grid chain with the 25/75/-10 repartition (test_tax_report.py:604-763)") {
    val chain = Seq(
      TaxDef(42, "42%", "percent", 42.0, sequence = 1,
        repartition = Seq(Repartition(25), Repartition(75), Repartition(-10))),
      TaxDef(11, "11%", "percent", 11.0, sequence = 2))
    val (excl, incl, amounts) = eval(chain, 100.0)
    assert(excl == 100.0)
    assert(amounts == Seq(10.5, 31.5, -4.2, 11.0))
    // total = 100 + 42·0.9 + 11
    assert(incl == 148.8)
  }

  test("include_base_amount chains: 20%→10% books 200 then 120; 42%→10% books 42 then 14.2") {
    val c1 = Seq(
      TaxDef(20, "20a", "percent", 20.0, includeBaseAmount = true, sequence = 1),
      TaxDef(10, "10", "percent", 10.0, sequence = 2))
    assert(eval(c1, 1000.0) == ((1000.0, 1320.0, Seq(200.0, 120.0))))
    val c2 = Seq(
      TaxDef(42, "Affecting", "percent", 42.0, includeBaseAmount = true, sequence = 1),
      TaxDef(10, "Affected", "percent", 10.0, sequence = 2))
    assert(eval(c2, 100.0) == ((100.0, 156.2, Seq(42.0, 14.2))))
  }

  test("a tax NOT base-affected ignores the earlier include_base tax") {
    val chain = Seq(
      TaxDef(20, "20a", "percent", 20.0, includeBaseAmount = true, sequence = 1),
      TaxDef(10, "10", "percent", 10.0, isBaseAffected = false, sequence = 2))
    // the 10% computes on total_excluded (1000), not on 1200
    assert(eval(chain, 1000.0)._3 == Seq(200.0, 100.0))
  }

  test("the caba 25/75 repartition splits 20 into 5 and 15 (test_tax_report.py:926-1023)") {
    val chain = Seq(TaxDef(1, "caba", "percent", 20.0,
      repartition = Seq(Repartition(25), Repartition(75))))
    assert(eval(chain, 100.0) == ((100.0, 120.0, Seq(5.0, 15.0))))
  }

  test("price-included taxes reach the included total EXACTLY via the checkpoint") {
    val chain = Seq(
      TaxDef(21, "21incl", "percent", 21.0, priceInclude = true, sequence = 1),
      TaxDef(10, "10incl", "percent", 10.0, priceInclude = true, sequence = 2))
    val (excl, incl, amounts) = eval(chain, 131.10)
    assert(excl == 100.08)
    // naive rounding gives 21.02 + 10.01 = 131.11; the checkpoint books
    // the last tax as the exact remainder instead
    assert(amounts == Seq(21.02, 10.0))
    assert(incl == 131.10)
    assert(excl + amounts.sum == 131.10)
  }

  test("a single price-included tax recovers the excluded base (115 @ 15% → 100 + 15)") {
    val chain = Seq(TaxDef(15, "15incl", "percent", 15.0, priceInclude = true))
    assert(eval(chain, 115.0) == ((100.0, 115.0, Seq(15.0))))
  }

  test("repartition rounding error spreads one cent at a time over the leading lines (:203-214)") {
    val chain = Seq(TaxDef(1, "t", "percent", 10.0,
      repartition = Seq(Repartition(33.33), Repartition(33.33), Repartition(33.34))))
    // tax 10.00; lines round to 3.33/3.33/3.33, factorized 10.00 → one
    // cent lands on the first line
    val (_, _, amounts) = eval(chain, 100.0)
    assert(amounts == Seq(3.34, 3.33, 3.33))
    assert(math.floor(amounts.sum * 100 + 0.5) / 100 == 10.0)
  }

  test("negative bases compute on the absolute value and re-sign (:92-99)") {
    val chain = Seq(TaxDef(1, "t", "percent", 20.0,
      repartition = Seq(Repartition(25), Repartition(75))))
    val (excl, incl, amounts) = eval(chain, 100.0, qty = -1.0)
    assert(excl == -100.0 && incl == -120.0)
    assert(amounts == Seq(-5.0, -15.0))
  }

  test("division-type taxes follow the public semantics (base/(1−r) − base)") {
    val chain = Seq(TaxDef(1, "div30", "division", 30.0))
    val (excl, _, amounts) = eval(chain, 100.0)
    assert(excl == 100.0)
    assert(amounts == Seq(42.86)) // 100/0.7 − 100, rounded
  }

  test("group taxes flatten to their children in sequence order (:65)") {
    val t1 = TaxDef(1, "a", "percent", 10.0, sequence = 2)
    val t2 = TaxDef(2, "b", "percent", 20.0, sequence = 1)
    val flat = TaxCompute.flatten(Seq(
      Right(TaxCompute.TaxGroup(Seq(t1), sequence = 5)), Left(t2)))
    assert(flat.map(_.id) == Seq(2L, 1L))
  }

  test("flatten sorts ONLY the top level: a group's children stay contiguous " +
      "at the group's position even when their sequences interleave") {
    // group (seq 1) holds children with sequences 5 and 30; outer tax has
    // sequence 10. flatten_taxes_hierarchy expands the group AT its own
    // position — a global re-sort would interleave the outer tax between
    // the children ([5, 10, 30]) and rewire include_base_amount chaining
    val c1 = TaxDef(1, "child-a", "percent", 10.0, sequence = 30)
    val c2 = TaxDef(2, "child-b", "percent", 20.0, sequence = 5)
    val outer = TaxDef(3, "outer", "percent", 5.0, sequence = 10)
    val flat = TaxCompute.flatten(Seq(
      Right(TaxCompute.TaxGroup(Seq(c1, c2), sequence = 1)), Left(outer)))
    // group first (top-level seq 1 < 10), children sorted among themselves
    assert(flat.map(_.id) == Seq(2L, 1L, 3L))
  }

  test("partner 3-decimal precision rounds tax amounts at 0.001 (dp_dic, :70-74)") {
    // currency still rounds the base at 2 decimals (:89); only the tax
    // float_round precision changes
    val chain = Seq(TaxDef(1, "t", "percent", 10.0))
    val p3 = TaxCompute.Params(taxDecimals = Some(3))
    assert(eval(chain, 5.13, params = p3) == ((5.13, 5.643, Seq(0.513))))
    // the same chain at the default partner precision books 0.51
    assert(eval(chain, 5.13) == ((5.13, 5.64, Seq(0.51))))
  }

  test("round_globally widens the tax precision by 1e-5 (:79-84)") {
    // 15% of 0.07 = 0.0105: per-line rounding books 0.01; round_globally
    // keeps the sub-cent amount for the caller's global total
    val chain = Seq(TaxDef(1, "t", "percent", 15.0))
    val (_, _, global) = eval(chain, 0.07,
      params = TaxCompute.Params(roundGlobally = true))
    assert(global == Seq(0.0105))
    assert(eval(chain, 0.07)._3 == Seq(0.01))
  }

  test("fixed_multiplicator scales fixed amounts by |mult| and signs a zero base (:94-95, :127)") {
    val chain = Seq(TaxDef(1, "f5", "fixed", 5.0))
    // nonzero base: |quantity| · amount · |mult|, sign from the base
    assert(eval(chain, 100.0, qty = 2.0,
      params = TaxCompute.Params(fixedMultiplicator = -2.0))._3 == Seq(20.0))
    // zero base: the multiplicator's sign drives the re-sign, and the
    // amount falls back to the SIGNED quantity branch (_compute_amount)
    val (excl, incl, amounts) = eval(chain, 0.0, qty = 1.0,
      params = TaxCompute.Params(fixedMultiplicator = -2.0))
    assert(excl == 0.0 && amounts == Seq(-10.0) && incl == -10.0)
  }

  test("a negative fixed amount keeps its sign (copysign(quantity, base) on the abs path)") {
    // the reference's _compute_amount (Odoo core, public) multiplies the
    // RAW amount by copysign(quantity, base) — on the abs path that is
    // |quantity| · amount, so a −5 rebate stays −5; stripping the sign
    // would also diverge from the backward pass's raw-amount accumulation
    // (:127), which is what makes the price-included round-trip exact
    val chain = Seq(TaxDef(1, "rebate", "fixed", -5.0))
    assert(eval(chain, 100.0) == ((100.0, 95.0, Seq(-5.0))))
    // price-included negative fixed: the included total IS the price
    val incl = Seq(TaxDef(1, "rebate", "fixed", -5.0, priceInclude = true))
    assert(eval(incl, 95.0) == ((100.0, 95.0, Seq(-5.0))))
  }

  test("the 'python' amount_type is rejected at compile time (documented scope cut)") {
    val ex = intercept[IllegalArgumentException] {
      TaxCompute.compile(Seq(TaxDef(1, "py", "code", 0.0)),
        org.apache.spark.sql.functions.col("p"),
        org.apache.spark.sql.functions.col("q"))
    }
    assert(ex.getMessage.contains("unsupported"))
  }

  test("differential: the compiled columns match an independent direct interpreter on seeded random chains") {
    // the compiler unrolls accumulators symbolically; this re-derives the
    // same algorithm with plain Doubles (written independently of the
    // Column code) and compares on random chains, inputs AND params — a
    // net for expression-unrolling mistakes the fixture points cannot see
    def direct(taxes: Seq[TaxDef], price: Double, qty: Double,
               p: TaxCompute.Params): (Double, Double, Seq[Double]) = {
      def rAt(v: Double, dec: Int): Double = BigDecimal(v)
        .setScale(dec, BigDecimal.RoundingMode.HALF_UP).toDouble
      def rC(v: Double): Double = rAt(v, p.precision)
      val precDec = p.taxDecimals.getOrElse(p.precision) +
        (if (p.roundGlobally) 5 else 0)
      def rP(v: Double): Double = rAt(v, precDec)
      val unit = math.pow(10.0, -p.precision)
      val absMult = math.abs(p.fixedMultiplicator)
      val raw = rC(price * qty)
      val sign =
        if (raw == 0.0) { if (p.fixedMultiplicator < 0) -1.0 else 1.0 }
        else if (raw < 0) -1.0 else 1.0
      var b = math.abs(raw)
      var inclFixed = 0.0; var inclPct = 0.0; var inclDiv = 0.0
      var store = true
      val cps = scala.collection.mutable.Map[Int, Double]()
      def peel(x: Double) = (x - inclFixed) / (1.0 + inclPct / 100.0) * ((100.0 - inclDiv) / 100.0)
      for ((t, i) <- taxes.zipWithIndex.reverse) {
        val f = t.repartition.map(_.factor).sum / 100.0
        if (t.includeBaseAmount) { b = peel(b); inclFixed = 0; inclPct = 0; inclDiv = 0; store = true }
        if (t.priceInclude) {
          t.amountType match {
            case "percent" => inclPct += t.amount * f
            case "division" => inclDiv += t.amount * f
            case "fixed" => inclFixed += math.abs(qty) * t.amount * f * absMult
          }
          if (store && t.amount != 0.0) { cps(i) = b; store = false }
        }
      }
      val excl = rP(rC(peel(b)))
      var base = excl; var incl = excl; var cum = 0.0; var skip = false
      val amounts = scala.collection.mutable.ArrayBuffer[Double]()
      for ((t, i) <- taxes.zipWithIndex) {
        val f = t.repartition.map(_.factor).sum / 100.0
        val tb = if (t.priceInclude || t.isBaseAffected) base else excl
        val a0 =
          if (!skip && t.priceInclude && cps.contains(i) && f != 0.0) {
            val a = cps(i) - (base + cum); cum = 0.0; a
          } else t.amountType match {
            case "fixed" =>
              if (tb != 0.0) math.abs(qty) * t.amount * absMult
              else qty * t.amount * absMult
            case "percent" => tb * t.amount / 100.0
            case "division" =>
              if (1.0 - t.amount / 100.0 == 0.0) 0.0
              else tb / (1.0 - t.amount / 100.0) - tb
          }
        val ta = rP(a0)
        val fact = rP(ta * f)
        if (t.priceInclude && !cps.contains(i)) cum += fact
        val lineAmts = t.repartition.map(r => rP(ta * r.factor / 100.0))
        val err = rP(fact - lineAmts.sum)
        val steps = math.floor(math.abs(err) / unit + 1e-7).toInt
        val per = if (steps > 0) rP(err / steps) else 0.0
        for ((la, j) <- lineAmts.zipWithIndex)
          amounts += sign * (la + (if (j < steps) per else 0.0))
        if (t.includeBaseAmount) { base += fact; if (!t.priceInclude) skip = true }
        incl += fact
      }
      (sign * excl, rP(sign * incl), amounts.toSeq)
    }

    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 24) {
      val n = rnd.nextInt(3) + 1
      val chain = (1 to n).map { i =>
        TaxDef(i, s"t$i", Seq("percent", "division", "fixed")(rnd.nextInt(3)),
          rnd.nextInt(40) + 1,
          priceInclude = rnd.nextBoolean(),
          includeBaseAmount = rnd.nextBoolean(),
          isBaseAffected = rnd.nextBoolean(),
          sequence = i,
          repartition =
            if (rnd.nextBoolean()) Seq(Repartition(100))
            else Seq(Repartition(40), Repartition(60)))
      }
      val price = (rnd.nextInt(20000) - 5000) / 100.0
      val qty = Seq(1.0, 2.0, -1.0)(rnd.nextInt(3))
      val params = TaxCompute.Params(
        taxDecimals = Seq(None, Some(2), Some(3))(rnd.nextInt(3)),
        roundGlobally = rnd.nextInt(4) == 0,
        fixedMultiplicator = Seq(1.0, -1.0, 2.0, -2.0)(rnd.nextInt(4)))
      val (ce, ci, ca) = eval(chain, price, qty, params)
      val (de, di, da) = direct(chain, price, qty, params)
      assert(math.abs(ce - de) < 1e-9, s"trial $trial excl: $ce vs $de chain $chain price $price qty $qty params $params")
      assert(math.abs(ci - di) < 1e-9, s"trial $trial incl: $ci vs $di chain $chain price $price qty $qty params $params")
      assert(ca.zip(da).forall { case (a, b) => math.abs(a - b) < 1e-9 },
        s"trial $trial amounts: $ca vs $da chain $chain price $price qty $qty params $params")
    }
  }

  test("the compiled plan is pure expressions — no UDF, whole-stage codegen") {
    val s = spark
    val chain = Seq(
      TaxDef(20, "20a", "percent", 20.0, includeBaseAmount = true, sequence = 1),
      TaxDef(10, "10i", "percent", 10.0, priceInclude = true, sequence = 2))
    val c = TaxCompute.compile(chain, col("p"), col("q"))
    val df = Tables.orders(s, "/root/testdata/sf0.001")
      .select(col("o_totalprice").as("p"), lit(1.0).as("q"))
      .select(c.totalExcluded.as("e"), c.totalIncluded.as("t"),
        c.lines.head.amount.as("a"))
    assert(df.count() > 0)
    // read the plan AFTER execution so AQE's final stages are visible;
    // "*(1)" is the whole-stage-codegen marker in the tree rendering
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF("))
    assert(plan.contains("*(1) Project"),
      s"tax columns must stay inside whole-stage codegen:\n$plan")
  }
}
