package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TaxCompute.TaxDef
import graft.report.LineTotals

/** The invoice-line totals projection pinned to the reference's
  * `_compute_totals` arithmetic (etl_account/models/account_move_line
  * .py:316-362): the percent-then-flat discount order with the
  * intermediate round, the partner-decimal (dp_dic) selection, the
  * taxed/untaxed branch, and the refund sign. The expected values are
  * hand-walked through the reference code path (the reference ships no
  * test for this model file; the walk is cited per line).
  */
class GoldenLineTotalsSpec extends AnyFunSuite with SparkSpec {

  private val t20 = Seq(TaxDef(1, "t20", "percent", 20.0))

  /** One (price_unit, quantity, pct, flat, taxed) row at `dec`. */
  private def eval(chain: Seq[TaxDef], pu: Double, qty: Double,
                   pct: Double, flat: Double, taxed: Boolean,
                   dec: Int): (Double, Double) = {
    val s = spark; import s.implicits._
    val t = LineTotals.compute(chain, col("pu"), col("q"), col("pct"),
      col("dv"), col("tx"), dec)
    val row = Seq((pu, qty, pct, flat, taxed))
      .toDF("pu", "q", "pct", "dv", "tx")
      .select(t.priceSubtotal.as("s"), t.priceTotal.as("t")).head()
    (row.getDouble(0), row.getDouble(1))
  }

  test("percent discount, then the FLAT discount_value, each rounded (:327-331)") {
    // 100 · (1−10%) = 90.00; 90.00 − 0.25 = 89.75; ×2 = 179.50 untaxed
    assert(eval(t20, 100.0, 2.0, 10.0, 0.25, taxed = false, dec = 2)
      == ((179.5, 179.5)))
    // taxed: base 179.50, 20% → 35.90; total 215.40 (:337-348)
    assert(eval(t20, 100.0, 2.0, 10.0, 0.25, taxed = true, dec = 2)
      == ((179.5, 215.4)))
  }

  test("flat discount subtracts AFTER the percent round, not before (:328-331)") {
    // 99.99 · 90% = 89.991 → rounds to 89.99 at dec=2 BEFORE the flat
    // subtraction: 89.99 − 0.25 = 89.74 (pre-round ordering would give
    // 89.991 − 0.25 = 89.741 → 89.74 here, but diverges at dec=3 below)
    assert(eval(t20, 99.99, 1.0, 10.0, 0.25, taxed = false, dec = 2)
      == ((89.74, 89.74)))
    // at dec=3 the intermediate keeps 3 decimals: 89.991 − 0.25 = 89.741
    assert(eval(t20, 99.99, 1.0, 10.0, 0.25, taxed = false, dec = 3)
      == ((89.741, 89.741)))
  }

  test("partner decimals select the tax rounding (dp_dic :317-322)") {
    val t17 = Seq(TaxDef(1, "t17", "percent", 17.0))
    // base 1.23: 17% = 0.2091 → dec=2: 0.21 (total 1.44); dec=3: 0.209
    assert(eval(t17, 1.23, 1.0, 0.0, 0.0, taxed = true, dec = 2)
      == ((1.23, 1.44)))
    assert(eval(t17, 1.23, 1.0, 0.0, 0.0, taxed = true, dec = 3)
      == ((1.23, 1.439)))
  }

  test("refund lines (negative quantity) re-sign both totals (:337-348 via compute_all :92-99)") {
    assert(eval(t20, 100.0, -2.0, 10.0, 0.25, taxed = true, dec = 2)
      == ((-179.5, -215.4)))
  }

  test("decimals outside dp_dic {2,3} reject loudly (:317); the reference " +
      "coerces a FALSY 0 to 2 (:318-321), so dp=0 partners pass 2") {
    val ex = intercept[IllegalArgumentException] {
      eval(t20, 100.0, 1.0, 0.0, 0.0, taxed = true, dec = 0)
    }
    assert(ex.getMessage.contains("dp_dic"))
    intercept[IllegalArgumentException] {
      eval(t20, 100.0, 1.0, 0.0, 0.0, taxed = true, dec = 4)
    }
    // the coercion target is the plain dec=2 computation
    assert(eval(t20, 100.0, 1.0, 0.0, 0.0, taxed = true, dec = 2)
      == ((100.0, 120.0)))
  }

  test("per-partner selection compiles both decimals into one projection") {
    val s = spark; import s.implicits._
    val t = LineTotals.computePerPartner(t20, col("pu"), col("q"),
      col("pct"), col("dv"), col("tx"), col("d3"))
    val rows = Seq((10.1, 1.0, 0.0, 0.044, true, false),
      (10.1, 1.0, 0.0, 0.044, true, true))
      .toDF("pu", "q", "pct", "dv", "tx", "d3")
      .select(t.priceSubtotal.as("s"), t.priceTotal.as("t"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    // dec=2: unit = round(10.1−0.044, 2) = 10.06, 20% = 2.012 → 2.01
    // dec=3: unit = 10.056, base rounds at CURRENCY 2 → 10.06, tax 2.012
    assert(rows == Seq((10.06, 12.07), (10.06, 12.072)))
  }
}
