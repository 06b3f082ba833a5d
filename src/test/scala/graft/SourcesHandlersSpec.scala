package graft

import java.nio.file.Files
import java.time.LocalDate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{BranchContext, ExternalValues}
import graft.report.Handlers
import graft.sources.CsvSource

/** Specs for the source/security/external-value layers and the composed
  * report handlers. */
class SourcesHandlersSpec extends AnyFunSuite with SparkSpec {

  test("csv ingestion: schema-enforced read splits valid and corrupt rows") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val src = new java.io.File(dir, "in.csv")
    val w = new java.io.PrintWriter(src)
    w.write("id,qty,name\n1,10,alpha\n2,notanumber,beta\n3,30,gamma\n")
    w.close()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType),
      StructField("name", StringType)))
    val dest = new java.io.File(dir, "out").getPath
    val (valid, corrupt) = CsvSource.ingest(spark, src.getPath, schema, dest)
    assert(valid == 2 && corrupt == 1)
    assert(spark.read.parquet(dest).count() == 2)
  }

  test("branch context filters only branch-carrying frames") {
    val s = spark; import s.implicits._
    val facts = Seq((1L, 1L, 10.0), (2L, 2L, 20.0), (3L, 3L, 30.0))
      .toDF("id", "branch_id", "v")
    val ctx = BranchContext(Seq(1L, 3L))
    assert(ctx(facts).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val noBranch = Seq((1L, 5.0)).toDF("id", "v")
    assert(ctx(noBranch).count() == 1) // pass-through
  }

  test("branch context: NULL-branch rows stay visible even with no branches") {
    val s = spark; import s.implicits._
    // reference always ORs (branch_id, '=', False) into the injected domain
    // (branch/models/account_move.py:38-39) — branch-less rows never hide
    val facts = Seq((1L, Option(1L), 10.0), (2L, Option.empty[Long], 20.0))
      .toDF("id", "branch_id", "v")
    assert(BranchContext(Seq.empty)(facts)
      .select("id").as[Long].collect().toSeq == Seq(2L))
    assert(BranchContext(Seq(1L))(facts)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("external values: sum and most_recent modes + carryover round-trip") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_ext").toFile.getPath + "/ext"
    ExternalValues.carryover(spark, Map("T1.bal" -> 5.0, "T2.bal" -> 7.0), "2024-01-31", dir)
    ExternalValues.carryover(spark, Map("T1.bal" -> 9.0), "2024-02-28", dir)
    // two same-dated values for one expression (a tax unit writes one
    // carryover per member company): most_recent must NET them, not pick
    // one row (account_report.py:2907-2912 sums within the latest date)
    ExternalValues.carryover(spark, Map("T3.bal" -> -100.0), "2024-03-31", dir)
    ExternalValues.carryover(spark, Map("T3.bal" -> 40.0), "2024-03-31", dir)
    val ext = ExternalValues.load(spark, dir)
    val summed = ExternalValues.sumMode(ext, "2024-01-01", "2024-12-31")
      .as[(String, Double)].collect().toMap
    assert(summed == Map("T1.bal" -> 14.0, "T2.bal" -> 7.0, "T3.bal" -> -60.0))
    val latest = ExternalValues.mostRecent(ext, "2024-01-01", "2024-12-31")
      .as[(String, Double)].collect().toMap
    assert(latest == Map("T1.bal" -> 9.0, "T2.bal" -> 7.0, "T3.bal" -> -60.0))
  }

  test("xlsx sink writes a valid OOXML package; html render escapes") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "alpha <&>", 10.5), (2L, "beta", -3.0))
      .toDF("id", "name", "bal")
    val path = Files.createTempDirectory("graft_xlsx").toFile.getPath + "/report.xlsx"
    graft.sinks.ResultSink.writeXlsx(df, path, sheetName = "GL")
    val zf = new java.util.zip.ZipFile(path)
    try {
      val names = {
        val e = zf.entries(); val b = Seq.newBuilder[String]
        while (e.hasMoreElements) b += e.nextElement().getName
        b.result()
      }
      assert(names.contains("[Content_Types].xml") &&
        names.contains("xl/workbook.xml") &&
        names.contains("xl/worksheets/sheet1.xml"))
      val sheet = new String(
        zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      // header row + numeric cell + escaped inline string
      assert(sheet.contains("""<c r="A1" t="inlineStr"><is><t xml:space="preserve">id</t></is></c>"""))
      assert(sheet.contains("""<c r="C2"><v>10.5</v></c>"""))
      assert(sheet.contains("alpha &lt;&amp;&gt;"))
      val wb = new String(
        zf.getInputStream(zf.getEntry("xl/workbook.xml")).readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(wb.contains("""<sheet name="GL""""))
    } finally zf.close()
    val html = graft.sinks.ResultSink.toHtml(df.orderBy("id"), caption = "x<y")
    assert(html.contains("<th>name</th>") && html.contains("<td>alpha &lt;&amp;&gt;</td>")
      && html.contains("<caption>x&lt;y</caption>"))
  }

  test("compaction: fewer files, identical rows, atomic layout swap") {
    val s = spark; import s.implicits._
    import graft.sinks.PartitionedSink
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toFile
    val data = (1 to 500).map(i => (i.toLong, s"row_$i"))
    data.toDF("id", "v").repartition(25).write.mode("overwrite")
      .parquet(dir.getPath)
    val st = PartitionedSink.compact(s, dir.getPath, targetBytes = 64L << 20)
    assert(st.filesBefore == 25 && st.filesAfter == 1 && st.rows == 500)
    val back = s.read.parquet(dir.getPath).as[(Long, String)].collect().toSet
    assert(back == data.toSet)
    // no leftover tmp/bak directories from the swap
    assert(Option(dir.getParentFile.listFiles()).get
      .forall(f => !f.getName.contains(".compact-")))
  }

  test("sorted write: files carry disjoint key ranges, rows sorted within") {
    val s = spark; import s.implicits._
    import graft.sinks.PartitionedSink
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted").toFile
    val rnd = new scala.util.Random(5)
    val data = (1 to 1000).map(_ => rnd.nextInt(100000).toLong)
    PartitionedSink.writeSorted(data.map(Tuple1(_)).toDF("k"),
      dir.getPath, files = 4, "k")
    val files = Option(dir.listFiles()).get
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == 4)
    val perFile = files.map(f => s.read.parquet(f.getPath).as[Long].collect().toSeq)
    perFile.foreach(xs => assert(xs == xs.sorted, "rows sorted within file"))
    val ranges = perFile.map(xs => (xs.min, xs.max)).sortBy(_._1).toSeq
    ranges.sliding(2).foreach { w =>
      if (w.size == 2) assert(w(0)._2 <= w(1)._1, "file ranges disjoint")
    }
    assert(perFile.map(_.size).sum == 1000)
  }

  test("general ledger handler: initial/period/closing in one pass") {
    val s = spark; import s.implicits._
    val j = Seq(
      ("2023-12-30", 1L, 100.0), // initial
      ("2024-01-05", 1L, 10.0),  // period
      ("2024-02-01", 1L, 5.0),   // period
      ("2025-01-01", 1L, 999.0), // after `to` — excluded entirely
      ("2024-01-02", 2L, 50.0))  // period only
      .toDF("d", "acct", "v")
      .withColumn("d", col("d").cast("timestamp"))
    val out = Handlers.GeneralLedger.accountSummary(j, col("d"), Seq(col("acct")),
        col("v"), LocalDate.of(2024, 1, 1), LocalDate.of(2024, 12, 31))
      .orderBy("acct")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(out == Seq((1L, 100.0, 15.0, 115.0), (2L, 0.0, 50.0, 50.0)))
  }

  test("aged bucket column covers bounds inclusively with overflow bucket") {
    val s = spark; import s.implicits._
    val df = Seq(("2024-01-01", 10.0), ("2023-06-01", 20.0), ("2020-01-01", 40.0))
      .toDF("due", "v").withColumn("due", col("due").cast("timestamp"))
    val bucket = Handlers.AgedBalance.bucketCol(
      lit("2024-01-31").cast("timestamp"), col("due"), Seq(30, 365))
    val out = df.withColumn("b", bucket).select("b").as[String].collect().sorted.toSeq
    assert(out == Seq("b0_le_30", "b1_le_365", "b2_gt_365"))
  }

  test("amount-in-words matches the cheque assembly golden values") {
    import graft.functions.AmountInWordsExpr._
    assert(toWords(0) == "zero")
    assert(toWords(7) == "seven")
    assert(toWords(42) == "forty-two")
    assert(toWords(105) == "one hundred and five")
    assert(toWords(1000) == "one thousand")
    assert(toWords(1234567) ==
      "one million two hundred and thirty-four thousand five hundred and sixty-seven")
    assert(toWords(2000000001L) == "two billion one")
    assert(phrase(0.0) == "zero only")
    assert(phrase(118.0) == "one hundred and eighteen only")
    assert(phrase(118.05) == "one hundred and eighteen and 05 / 100 only")
    assert(phrase(99.999) == "one hundred only") // cents round half-up
    // Column path: split into cheque lines like q118
    val s = spark; import s.implicits._
    val out = Seq(1234.56).toDF("amt")
      .select(graft.functions.AmountInWords.of(org.apache.spark.sql.functions.col("amt")))
      .as[String].head()
    assert(out == "one thousand two hundred and thirty-four and 56 / 100 only")
  }
}
