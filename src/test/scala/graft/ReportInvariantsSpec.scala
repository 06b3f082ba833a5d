package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.report.{CashBasis, GenericTaxReport, LoadMore, VatClosing}

/** Seeded-random invariants for the round-14 operators — properties the
  * golden matrices imply but only check at their fixture points:
  *
  *  - a VAT closing move BALANCES (debits = credits) per fiscal
  *    position, by construction of the payable/receivable net line;
  *  - the generic tax report's three groupings agree on every section
  *    total, and the flat section total is the sum of its leaf tax
  *    cells;
  *  - load-more pages concatenate to exactly the ordered detail with a
  *    strictly threaded running balance;
  *  - cash-basis exigibility at full payment reproduces the original
  *    amounts, and with no partials only the immediate slice survives.
  *
  * Deterministic seeds (no wall-clock randomness — resume-safe). */
class ReportInvariantsSpec extends AnyFunSuite with SparkSpec {

  test("every VAT closing move balances per fiscal position (seeded random fixtures)") {
    val s = spark; import s.implicits._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val fposes = Seq(null, "FP1", "FP2")
      val taxLines = Seq.tabulate(120) { i =>
        val g = s"g${rnd.nextInt(3)}"
        (fposes(rnd.nextInt(3)), g, (rnd.nextInt(4) + 1).toLong, s"tax$i",
          s"acct${rnd.nextInt(4)}", (rnd.nextInt(2001) - 1000) / 10.0,
          f"2021-0${rnd.nextInt(6) + 1}%s-15", rnd.nextBoolean(), rnd.nextBoolean())
      }.toDF("fpos", "tax_group", "tax_id", "tax_name", "account",
          "balance", "ds", "closing", "posted")
        .withColumn("d", to_timestamp(col("ds"))).drop("ds")
      val history = Seq.tabulate(40) { _ =>
        (Seq("adv1", "recv0", "pay2", "other")(rnd.nextInt(4)),
          (rnd.nextInt(2001) - 1000) / 10.0,
          f"2020-1${rnd.nextInt(2)}%s-01", rnd.nextBoolean())
      }.toDF("account", "balance", "ds", "posted")
        .withColumn("d", to_timestamp(col("ds"))).drop("ds")
      val groups = Seq(
        VatClosing.GroupAccounts("g0", None, "recv0", "pay0"),
        VatClosing.GroupAccounts("g1", Some("adv1"), "recv1", "pay1"),
        VatClosing.GroupAccounts("g2", None, "recv2", "pay2"))
      val res = VatClosing.compute(taxLines, history, groups,
        java.time.LocalDate.of(2021, 1, 1), java.time.LocalDate.of(2021, 6, 30),
        java.time.LocalDate.of(2021, 6, 30),
        Seq(None, Some("FP1"), Some("FP2")))
      for ((fpos, lines) <- res) {
        val net = lines.map(l => l.debit - l.credit).sum
        assert(math.abs(net) < 0.02,
          s"seed $seed fpos $fpos: closing move off by $net\n$lines")
      }
    }
  }

  test("the three tax-report groupings agree on section totals (seeded random fixtures)") {
    val s = spark; import s.implicits._
    import GenericTaxReport._
    val taxes = Seq(
      Tax(1, "t1", "sale", sequence = 1), Tax(2, "t2", "purchase", sequence = 2),
      Tax(3, "t3", "none", sequence = 3), Tax(4, "t4", "none", sequence = 4),
      Tax(9, "g9", "sale", isGroup = true, children = Seq(3, 4), sequence = 9))
    val noL = lit(null).cast("long")
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(100 + seed)
      val periods = Seq("p0", "p1")
      val base = Seq.tabulate(80) { _ =>
        (periods(rnd.nextInt(2)), s"a${rnd.nextInt(3)}",
          Seq(1L, 2L, 9L)(rnd.nextInt(3)), (rnd.nextInt(2001) - 1000) / 10.0)
      }.toDF("period", "account", "tax_id", "balance")
        .withColumn("src_tax_id", noL).withColumn("src_group_tax_id", noL)
        .select("period", "account", "tax_id", "src_tax_id", "src_group_tax_id", "balance")
      val tax = Seq.tabulate(60) { _ =>
        val t = Seq(1L, 2L, 3L, 4L)(rnd.nextInt(4))
        (periods(rnd.nextInt(2)), s"a${rnd.nextInt(3)}", t,
          if (t >= 3L) Some(9L) else None, (rnd.nextInt(2001) - 1000) / 10.0)
      }.map(r => (r._1, r._2, r._3, r._4.map(Long.box).orNull, r._5))
        .toDF("period", "account", "tax_id", "group_tax_id", "balance")
      def sections(g: Grouping): Seq[(String, Seq[Option[Double]])] =
        compute(base, tax, taxes, periods, g)
          .filter(l => l.level == 0 && !l.name.startsWith("Total "))
          .map(l => (l.name, l.cells))
      val flat = sections(Flat)
      assert(flat == sections(AccountTax), s"seed $seed: AccountTax section totals diverge")
      assert(flat == sections(TaxAccount), s"seed $seed: TaxAccount section totals diverge")
      // flat section total = sum of its leaf tax cells per period
      val lines = compute(base, tax, taxes, periods, Flat)
      var section = ""
      val leavesBySection = scala.collection.mutable.Map[String, List[Seq[Option[Double]]]]()
      lines.foreach { l =>
        if (l.level == 0 && !l.name.startsWith("Total ")) section = l.name
        else if (l.level == 1)
          leavesBySection(section) = l.cells :: leavesBySection.getOrElse(section, Nil)
      }
      for ((name, cells) <- flat; pi <- periods.indices) {
        val taxCol = 2 * pi + 1
        val leafSum = leavesBySection(name).flatMap(_(taxCol)).sum
        val total = cells(taxCol).getOrElse(0.0)
        assert(math.abs(total - leafSum) < 0.02,
          s"seed $seed section $name period $pi: $total vs leaf sum $leafSum")
      }
    }
  }

  test("load-more pages concatenate to the ordered detail with a threaded balance") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val detail = Seq.tabulate(23)(i => (i.toLong, (rnd.nextInt(999) + 1) / 10.0))
      .toDF("line_id", "debit")
    val expected = detail.orderBy("line_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    for (limit <- Seq(1, 4, 7, 23, 50)) {
      var offset = 0
      var progress = 0.0
      var pages = 0
      val got = scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
      var more = true
      while (more && pages < 100) {
        val p = LoadMore.page(detail, Seq(col("line_id")), col("debit"),
          offset, limit, progress)
        assert(p.rows.length <= limit)
        got ++= p.rows.map(r => (r._1.getLong(0), r._1.getDouble(1), r._2))
        offset = p.nextOffset; progress = p.progress; more = p.hasMore; pages += 1
      }
      assert(got.map(t => (t._1, t._2)).toSeq == expected.toSeq, s"limit $limit")
      // the threaded balance is the exact prefix sum
      var acc = 0.0
      for ((_, amt, bal) <- got) {
        acc += amt
        assert(math.abs(bal - acc) < 1e-9, s"limit $limit: balance thread broke")
      }
    }
  }

  test("cash-basis at full payment reproduces the journal; without partials only the immediate slice") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val lines = Seq.tabulate(50) { i =>
      (s"doc${i % 7}", (rnd.nextInt(2001) - 1000) / 10.0,
        rnd.nextBoolean(), i % 11 == 0, s"tag$i")
    }.toDF("doc_id", "amount", "on_payment", "always_exigible", "tag")
    val full = Seq.tabulate(7)(i => (s"doc$i", 1.0, "2021-06-01"))
      .toDF("doc_id", "fraction", "pd")
    val none = Seq.empty[(String, Double, String)].toDF("doc_id", "fraction", "pd")
    def total(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(sum("amount")).head().getDouble(0)
    val all = total(lines)
    assert(math.abs(total(CashBasis.exigible(lines, full)) - all) < 1e-6,
      "full payment must surface every amount exactly once")
    val immediate = total(lines.filter(!col("on_payment") || col("always_exigible")))
    assert(math.abs(total(CashBasis.exigible(lines, none)) - immediate) < 1e-6,
      "with no partials only the immediate slice is exigible")
  }

  // ---- round-15 operators ---------------------------------------------

  /** Seeded random percent chain: some include_base_amount, split
    * repartitions — the shapes the tax-totals/line-totals wrappers must
    * hold their identities under. `split`: allow 40/60 repartitions
    * (keep OFF for identities over the factorized total — the
    * rounding-error distribution steps in CURRENCY units, so at 3 tax
    * decimals a 0.001 residue faithfully stays undistributed and line
    * sums differ from the factorized total, account_tax.py:203-214). */
  private def randomChain(rnd: scala.util.Random, n: Int,
                          split: Boolean = true) = {
    import graft.engine.TaxCompute.{Repartition, TaxDef}
    Seq.tabulate(n) { i =>
      val rep =
        if (!split || rnd.nextBoolean()) Seq(Repartition(100.0))
        else Seq(Repartition(40.0), Repartition(60.0))
      TaxDef(i + 1L, s"t$i", "percent", (rnd.nextInt(40) + 1).toDouble,
        includeBaseAmount = rnd.nextBoolean(), sequence = i, repartition = rep)
    }
  }

  test("tax-totals subtotals telescope: each shows untaxed + taxes booked before it") {
    val s = spark; import s.implicits._
    import graft.report.TaxTotals
    import graft.report.TaxTotals.GroupDef
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val chain = randomChain(rnd, 3)
      val groups = Map(1L -> GroupDef(1, "G1", sequence = 1),
        2L -> GroupDef(2, "G2", sequence = 2,
          precedingSubtotal = Some("Mid subtotal")),
        3L -> GroupDef(3, "G3", sequence = 3,
          precedingSubtotal = Some("Mid subtotal")))
      val lines = Seq.tabulate(30) { i =>
        (i.toLong, (rnd.nextInt(20000) - 5000) / 100.0,
          (rnd.nextInt(9) + 1).toDouble, (rnd.nextInt(4) * 10).toDouble,
          rnd.nextInt(5) != 0)
      }.toDF("rec", "price", "qty", "disc", "taxed")
      val t = TaxTotals.footer(lines, lit(0L), col("rec"), col("price"),
        col("qty"), col("disc"), when(col("taxed"), 1).otherwise(0),
        Seq(1 -> chain), groups).collectTotals()(0L)
      // total = untaxed + every group's tax, at dp
      def r2(v: Double) = math.floor(v * 100 + 0.5) / 100
      assert(math.abs(t.amountTotal -
        r2(t.amountUntaxed + t.groups.map(_.taxAmount).sum)) < 1e-6)
      // each subtotal = untaxed + the taxes of groups under EARLIER
      // subtotals (the reference's running amount_tax, :481-513)
      var acc = 0.0
      for (st <- t.subtotals) {
        assert(math.abs(st.amount - r2(t.amountUntaxed + acc)) < 1e-6,
          s"seed $seed subtotal ${st.name}")
        acc += t.groups.filter(g =>
          g.group.precedingSubtotal.getOrElse("Untaxed Amount") == st.name)
          .map(_.taxAmount).sum
      }
    }
  }

  test("line totals: total minus subtotal equals the compiled tax lines' sum per row") {
    val s = spark; import s.implicits._
    import graft.engine.TaxCompute
    import graft.report.LineTotals
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val chain = randomChain(rnd, 2, split = false)
      val rows = Seq.tabulate(40) { i =>
        (i.toLong, (rnd.nextInt(20000) - 5000) / 100.0,
          (rnd.nextInt(9) + 1) * (if (rnd.nextBoolean()) 1.0 else -1.0),
          (rnd.nextInt(4) * 10).toDouble, (rnd.nextInt(400)) / 100.0,
          rnd.nextInt(5) != 0)
      }.toDF("rec", "pu", "q", "pct", "dv", "tx")
      for (dec <- Seq(2, 3)) {
        val t = LineTotals.compute(chain, col("pu"), col("q"), col("pct"),
          col("dv"), col("tx"), dec)
        val unit = LineTotals.discountedUnit(col("pu"), col("pct"), col("dv"), dec)
        val c = TaxCompute.compile(chain, unit, col("q"),
          TaxCompute.Params(taxDecimals = Some(dec)))
        val bad = rows
          .select((t.priceTotal - t.priceSubtotal).as("gap"),
            when(col("tx"), c.lines.map(_.amount).reduce(_ + _))
              .otherwise(lit(0.0)).as("linesum"))
          .filter(abs(col("gap") - col("linesum")) > 1e-6)
          .count()
        assert(bad == 0L, s"seed $seed dec $dec")
      }
    }
  }

  // ---- round-16 operators ---------------------------------------------

  test("mixed-chain tax aggregate equals the per-chain aggregates merged " +
      "(random chains, random rates, both currency legs)") {
    // the per-row chain selection (the explode shared with the footer) must
    // agree with running each chain alone on its own slice — including
    // the untaxed slice's sentinel contributions and the company leg
    val s = spark; import s.implicits._
    import graft.report.TaxTotals
    import graft.report.TaxTotals.GroupDef
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val chainA = randomChain(rnd, 2, split = false)
      val chainB = randomChain(rnd, 2, split = false)
        .map(t => t.copy(id = t.id + 10))
      val groups =
        chainA.map(t => t.id -> GroupDef(1 + t.id % 2, s"G${1 + t.id % 2}",
          sequence = (1 + t.id % 2).toInt)).toMap ++
        chainB.map(t => t.id -> GroupDef(3 + t.id % 2, s"G${3 + t.id % 2}",
          sequence = (3 + t.id % 2).toInt)).toMap
      val corpus = Seq.tabulate(40) { i =>
        (i.toLong, (rnd.nextInt(20000) - 5000) / 100.0,
          (rnd.nextInt(9) + 1).toDouble, (rnd.nextInt(4) * 10).toDouble,
          i % 3, 1.0 + (i % 3) * 1.5)
      }.toDF("rec", "price", "qty", "disc", "k", "rate")
      def collect(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
        df.collect().map(r => r.getLong(0) ->
          (1 to 4).map(r.getDouble).toSeq).toMap
      val multi = collect(TaxTotals.aggregateTaxes(corpus, col("rec"),
        col("price"), col("qty"), col("disc"), col("k"),
        Seq(1 -> chainA, 2 -> chainB), groups, rate = Some(col("rate"))))
      def part(k: Int, chains: Seq[(Int, Seq[graft.engine.TaxCompute.TaxDef])]) =
        collect(TaxTotals.aggregateTaxes(corpus.filter(col("k") === k),
          col("rec"), col("price"), col("qty"), col("disc"), col("k"),
          chains, groups, rate = Some(col("rate"))))
      val parts = Seq(part(0, Seq(1 -> chainA)), part(1, Seq(1 -> chainA)),
        part(2, Seq(2 -> chainB)))
      val gids = multi.keySet
      assert(gids == parts.flatMap(_.keySet).toSet, s"seed $seed gid sets")
      for (g <- gids; m <- 0 to 3) {
        val merged = parts.flatMap(_.get(g).map(_(m))).sum
        assert(math.abs(multi(g)(m) - merged) < 1e-6,
          s"seed $seed gid $g measure $m: ${multi(g)(m)} vs $merged")
      }
    }
  }

  test("line totals ignore the chain entirely on untaxed rows") {
    val s = spark; import s.implicits._
    import graft.engine.TaxCompute.TaxDef
    import graft.report.LineTotals
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(25) { i =>
      (i.toLong, (rnd.nextInt(20000) - 5000) / 100.0,
        (rnd.nextInt(9) + 1).toDouble, (rnd.nextInt(4) * 10).toDouble,
        (rnd.nextInt(400)) / 100.0, false)
    }.toDF("rec", "pu", "q", "pct", "dv", "tx")
    val a = LineTotals.compute(Seq(TaxDef(1, "a", "percent", 21.0)),
      col("pu"), col("q"), col("pct"), col("dv"), col("tx"), 2)
    val b = LineTotals.compute(
      Seq(TaxDef(1, "b", "percent", 5.0, priceInclude = true)),
      col("pu"), col("q"), col("pct"), col("dv"), col("tx"), 2)
    val diff = rows.select(
        (a.priceSubtotal - b.priceSubtotal).as("ds"),
        (a.priceTotal - b.priceTotal).as("dt"))
      .filter(abs(col("ds")) > 1e-9 || abs(col("dt")) > 1e-9).count()
    assert(diff == 0L)
  }
}
