package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.AuditRender
import graft.registers.{DocumentSummary, StockRegisters}
import graft.sources.StatementImport

/** Specs for the round-4 wizard registers: document summary, stock serial /
  * reconcile registers, bank-statement import, auditlog value rendering. */
class WizardRegistersSpec extends AnyFunSuite with SparkSpec {

  test("document summary: serial range, counts, debit-note column swap, " +
    "empty section pinned with zero counts") {
    val s = spark; import s.implicits._
    val mv = Seq(
      // (name, date, cancelled, kind)
      ("INV/002", "2024-01-02", false, "inv"),
      ("INV/001", "2024-01-01", true, "inv"),
      ("INV/003", "2024-01-03", false, "inv"),
      ("DN/001", "2024-01-01", true, "dn"),
      ("DN/002", "2024-01-02", false, "dn"))
      .toDF("nm", "dt", "cancelled", "kind")
      .withColumn("dt", to_date(col("dt")))
    val out = DocumentSummary.compute(mv, col("nm"), col("dt"),
      col("cancelled"), Seq(
        DocumentSummary.Section(1L, "Invoices", col("kind") === "inv"),
        DocumentSummary.Section(2L, "Debit Note", col("kind") === "dn",
          netInTotalCol = true),
        DocumentSummary.Section(3L, "Credit Note", col("kind") === "cn")))
      .collect()
    val inv = out(0)
    assert(inv.getString(2) == "INV/001" && inv.getString(3) == "INV/003")
    assert(inv.getLong(4) == 3L && inv.getLong(5) == 1L && inv.getLong(6) == 2L)
    // debit-note quirk: Total No. holds net, Nett. Issued holds gross
    val dn = out(1)
    assert(dn.getLong(4) == 1L && dn.getLong(5) == 1L && dn.getLong(6) == 2L)
    // declared-but-empty section still present, zero counts, null serials
    val cn = out(2)
    assert(cn.isNullAt(2) && cn.getLong(4) == 0L && cn.getLong(6) == 0L)
  }

  test("statement import: prologue parse, structural line split, " +
    "normalization, and balance-chain validation") {
    val dir = Files.createTempDirectory("graft_stmt").toFile
    val f = new java.io.File(dir, "st.csv")
    val w = new java.io.PrintWriter(f)
    w.write("start,end,narration\n")
    w.write("500.00,750.25,FEB STATEMENT\n")
    w.write("Date,Label,Amount\n")
    w.write("05-02-2024,UPI/1,\"1,250.75\"\n")
    w.write("01-02-2024,NEFT/2,-300.50\n")
    w.close()
    val st = StatementImport.read(spark, f.getPath, previousEnding = Some(500.0))
    assert(st.balanceStart == 500.0 && st.balanceEnd == 750.25 &&
      st.narration == "FEB STATEMENT")
    assert(st.rejects.count() == 0L, "well-formed file has no rejects")
    val lines = st.lines.orderBy("date").collect()
    assert(lines.length == 2)
    assert(lines(0).getString(0) == "2024-02-01" &&
      lines(0).getDouble(2) == -300.50)
    assert(lines(1).getString(0) == "2024-02-05" &&
      lines(1).getString(1) == "UPI/1" && lines(1).getDouble(2) == 1250.75)
    val err = intercept[StatementImport.BalanceMismatch] {
      StatementImport.read(spark, f.getPath, previousEnding = Some(123.0))
    }
    assert(err.expected == 123.0 && err.got == 500.0)
    // quoted narration with commas and escaped quotes parses intact
    val f2 = new java.io.File(dir, "st2.csv")
    val w2 = new java.io.PrintWriter(f2)
    w2.write("start,end,narration\n")
    w2.write("1.00,2.00,\"FEB, \"\"final\"\" statement\"\n")
    w2.write("Date,Label,Amount\n")
    w2.close()
    val st2 = StatementImport.read(spark, f2.getPath)
    assert(st2.narration == "FEB, \"final\" statement")
    assert(st2.lines.count() == 0)
    // a malformed DATA row (bad date format / impossible date) must be
    // surfaced as a reject, not silently dropped with the prologue
    val f3 = new java.io.File(dir, "st3.csv")
    val w3 = new java.io.PrintWriter(f3)
    w3.write("start,end,narration\n")
    w3.write("1.00,2.00,MAR\n")
    w3.write("Date,Label,Amount\n")
    w3.write("05-03-2024,OK/1,10.00\n")
    w3.write("2024-03-06,WRONGFMT/2,20.00\n")
    w3.write("32-13-2024,IMPOSSIBLE/3,30.00\n")
    w3.close()
    val st3 = StatementImport.read(spark, f3.getPath)
    assert(st3.lines.count() == 1L)
    val rej = st3.rejects.collect().map(_.getString(1)).toSet
    assert(rej == Set("WRONGFMT/2", "IMPOSSIBLE/3"),
      s"malformed data rows must be quarantined, got $rej")
  }

  test("serial register: as-of fixed-point sums, zero-qty serials dropped") {
    val s = spark; import s.implicits._
    val moves = Seq(
      ("L1", 1L, "SN1", 5.0, "2024-01-01"),
      ("L1", 1L, "SN1", -5.0, "2024-01-05"), // nets to zero -> dropped
      ("L1", 1L, "SN2", 2.5, "2024-01-02"),
      ("L1", 1L, "SN2", 1.5, "2024-06-01"), // after as-of -> excluded
      ("L2", 2L, "SN3", 1.0, "2024-01-03"))
      .toDF("location", "product_key", "serial", "qty", "mv_date")
      .withColumn("mv_date", to_date(col("mv_date")))
    val products = Seq((1L, "P1", "widget", "cat"), (2L, "P2", "gadget", "cat"))
      .toDF("product_key", "product_code", "product_name", "category")
    val out = StockRegisters.serialRegister(moves, products,
      to_date(lit("2024-03-31"))).collect()
    assert(out.map(r => (r.getString(0), r.getString(5), r.getDouble(6))).toSeq
      == Seq(("L1", "SN2", 2.5), ("L2", "SN3", 1.0)))
  }

  test("reconcile register: ob/in/out windows, abs issues, unit price, " +
    "all-zero products dropped") {
    val s = spark; import s.implicits._
    val moves = Seq(
      (1L, 10.0, 100.0, "2023-12-01"), // opening
      (1L, 4.0, 48.0, "2024-01-10"),   // receipt
      (1L, -6.0, -54.0, "2024-02-01"), // issue
      (2L, 3.0, 30.0, "2023-11-01"),
      (2L, -3.0, -30.0, "2023-12-15"), // product 2 all-zero by start
      (1L, 99.0, 990.0, "2025-01-01")) // after end -> excluded entirely
      .toDF("product_key", "qty", "value", "mv_date")
      .withColumn("mv_date", to_date(col("mv_date")))
    val products = Seq((1L, "P1", "widget", "cat"), (2L, "P2", "gadget", "cat"))
      .toDF("product_key", "product_code", "product_name", "category")
    val out = StockRegisters.reconcileRegister(moves, products,
      to_date(lit("2024-01-01")), to_date(lit("2024-12-31"))).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getDouble(4) == 10.0 && r.getDouble(5) == 4.0 &&
      r.getDouble(6) == 6.0 && r.getDouble(7) == 8.0)
    // balance = 100 + 48 - 54 = 94; unit price = 94 / 8 = 11.75
    assert(r.getDouble(8) == 11.75 && r.getDouble(11) == 94.0)
  }

  test("audit render: ordered (id,name) pairs with DELETED fallback") {
    val s = spark; import s.implicits._
    val log = Seq((7L, "tag_ids", Seq(2L, 99L), Seq(1L)))
      .toDF("log_id", "field", "old_value", "new_value")
    val dim = Seq((1L, "Alpha"), (2L, "Beta")).toDF("id", "display_name")
    val out = AuditRender.renderPairs(log, dim).collect()
    assert(out.length == 1)
    assert(out(0).getString(2) == "(2,Beta); (99,DELETED)")
    assert(out(0).getString(3) == "(1,Alpha)")
  }

  test("resequence conserves each journal's number set, reassigns by date") {
    val s = spark; import s.implicits._
    val mv = Seq(
      // journal A: numbers 5,2,9 on out-of-order dates
      ("A", "N5", 5L, "2024-01-03"), ("A", "N2", 2L, "2024-01-01"),
      ("A", "N9", 9L, "2024-01-02"),
      // journal B untouched by A's numbers
      ("B", "N7", 7L, "2024-02-01"), ("B", "N1", 1L, "2024-01-15"))
      .toDF("journal", "name", "seq", "dt")
      .withColumn("dt", to_date(col("dt")))
    val out = graft.operators.Resequence.byDate(mv)
      .orderBy("journal", "dt").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3)))
    // A by date: N2(01-01)->2, N9(01-02)->5, N5(01-03)->9
    assert(out.toSeq == Seq(
      ("A", "N2", 2L), ("A", "N9", 5L), ("A", "N5", 9L),
      ("B", "N1", 1L), ("B", "N7", 7L)))
  }
}
