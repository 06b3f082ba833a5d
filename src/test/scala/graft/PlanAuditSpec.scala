package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the properties that make these queries
  * survive 100 TB are PLAN properties (broadcasts, pushdown, no nested
  * loops), invisible to result-correctness gates — a refactor could keep
  * every oracle green while silently degrading q3 to a shuffle join or
  * q58 to a BNLJ. These specs pin the executed plan text at sf0.001.
  *
  * The registry-wide audit is not here: [[CacheHygieneSpec]]'s one
  * registry loop builds each gate once and runs [[PlanAudit.audit]] on it
  * there. This spec keeps the detectors' positive controls, which that
  * sweep relies on, and the per-gate shape pins. */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def qe(q: String) = Queries.all(q)(spark, sf).queryExecution

  private def plan(q: String): String = qe(q).executedPlan.toString

  test("the sweep DETECTS each killer it exists to catch (positive control)") {
    // CacheHygieneSpec's registry sweep proves every gate is clean; this proves the
    // detector itself still fires — a broken regex or a Spark plan-text
    // rename would otherwise silently green every future sweep
    import org.apache.spark.sql.functions._
    val n = Tables.nation(spark, sf)
    // 1. cartesian: an inequality join of two un-hinted sides that the
    //    planner may not broadcast (threshold off = both sides fact-shaped)
    // planning is lazy: offenses() must force the plan while the
    // threshold override is still in effect
    val cartOffenses =
      SessionConf.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        PlanAudit.offenses("synthetic_cartesian",
          n.as("a").join(n.as("b"),
            col("a.n_nationkey") < col("b.n_nationkey")).queryExecution)
      }
    assert(cartOffenses.contains("cartesian"))
    //    ...labeled by the cartesian detector ALONE (r8 ADVICE: a
    //    cartesian-only plan with zero BNLJs was double-labeled)
    assert(!cartOffenses.contains("non-scalar BNLJ"))
    // 2. non-scalar BNLJ: broadcast-hinted inequality join whose build
    //    side is NOT a grand-total aggregate (and name not waived)
    val bnlj = n.as("a").join(broadcast(n.as("b")),
      col("a.n_nationkey") < col("b.n_nationkey")).queryExecution
    assert(PlanAudit.offenses("synthetic_bnlj", bnlj)
      .contains("non-scalar BNLJ"))
    //    ...and the waiver map suppresses exactly that offense by name
    assert(!PlanAudit.offenses("q99_edit_distance", bnlj)
      .contains("non-scalar BNLJ"))
    // 3. partition-less window: a global row_number orders ALL input on
    //    one task — the single-partition state the regex must catch
    val win = n.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("n_name"))))
      .queryExecution
    assert(PlanAudit.offenses("synthetic_window", win)
      .contains("partition-less window"))
    // 4. the scalar-aggregate broadcast pattern stays tolerated
    val cap = n.agg(max(col("n_nationkey")).as("cap"))
    val scalarOk = n.crossJoin(broadcast(cap)).queryExecution
    assert(PlanAudit.offenses("synthetic_scalar_bc", scalarOk).isEmpty)
  }

  test("star join broadcasts its dimensions, never shuffles them") {
    val p = plan("q3_star_join")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("scans are pruned and filters pushed (percentile query reads 2 cols)") {
    val p = plan("q86_percentiles")
    assert(p.contains("PushedFilters"))
    assert(!p.contains("o_orderdate"), "order scan must prune unused columns")
    assert(!p.contains("c_name"), "customer scan must prune unused columns")
  }

  test("journal-filter selection reaches the fact scan as a pushed IN (q175)") {
    val p = plan("q175_journal_scoped_report")
    assert(p.contains("PushedFilters: [In(l_linenumber"),
      "the resolved journal ids must push into the parquet scan:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"),
      "the composition is one pruned scan into one aggregate, no join")
  }

  test("range join is a bucketized equi join, not a nested loop") {
    assert(!plan("q58_range_join").contains("NestedLoop"))
  }

  test("as-of join is union+window, no nested loop or cartesian fact join") {
    val p = plan("q57_asof_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("fifo allocation joins on (key, bucket), not an inequality loop") {
    assert(!plan("q79_fifo_allocation").contains("NestedLoop"))
  }

  test("minhash pipeline has no partition-less window (the r1 scale-killer)") {
    // a global Window.orderBy sorts the corpus on ONE partition; its plan
    // signature is a windowspecdefinition whose spec starts with the
    // order column list only. Pinned on the BUILDER, not the q33 gate:
    // the gate reads the PairMemo minhash artifact, so the sketch's
    // operator shape only exists in the builder's plan.
    // The signatures sit upstream of a pin, so read the pinned plans too.
    val p = PlanAudit.planned(queries.DedupOps
      .minhashCandidates(Tables.documents(spark, sf)))._2
      .map(_.executedPlan.toString).mkString("\n")
    assert(!p.contains("Window ["), // the sketch must not window at all
      "minhash builder reintroduced a window operator")
  }

  test("multi-period column groups run in ONE fact scan") {
    val p = plan("q17_multi_period")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "q17 must evaluate all period groups from a single lineitem scan")
  }

  test("winnowing runs in the native kernel — no window, no gram explode") {
    val p = plan("q40_winnow_fingerprint")
    assert(!p.contains("windowspecdefinition"))
    assert(p.contains("winnow_fingerprints"))
  }

  test("seq packing windows are shard-partitioned, never global") {
    val p = plan("q101_seq_packing")
    // every windowspecdefinition must carry the (lang, source) partition
    val specs = "windowspecdefinition\\(([^)]*)".r.findAllMatchIn(p).toSeq
    assert(specs.nonEmpty)
    specs.foreach(m => assert(m.group(1).contains("lang"),
      s"partition-less window in q101: ${m.group(1)}"))
  }

  test("contamination screen joins on the shingle hash, no nested loop") {
    val p = plan("q102_contamination")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("incremental dedup stays hash-keyed (no non-scalar nested loop)") {
    assert(PlanAudit.onlyScalarBnlj(qe("q108_incremental_dedup")))
  }

  test("prefix regroup is one declarative plan: no loop joins, no windows") {
    assert(PlanAudit.onlyScalarBnlj(qe("q73_prefix_regroup")))
    assert(!plan("q73_prefix_regroup").contains("windowspecdefinition"))
  }

  test("curation v2 pipeline: pure map/agg/join — no windows, no loop joins") {
    assert(PlanAudit.onlyScalarBnlj(qe("q126_curation_v2")))
    assert(!plan("q126_curation_v2").contains("windowspecdefinition"))
  }

  test("quality audit runs row+unique rules in one scan of the fact") {
    val p = plan("q122_quality_audit")
    // the events scan appears once for the row/unique aggregate and once
    // per FK branch (count + anti-join probe): 3 scans for 4 rules, and
    // never a nested loop
    assert(PlanAudit.onlyScalarBnlj(qe("q122_quality_audit")))
    assert("Scan parquet .*events".r.findAllIn(p).size <= 3, p)
  }

  test("a killer hidden behind a FramePin boundary is still detected " +
      "(positive control for the pin-collecting sweep)") {
    // r11: frame-scoped pins truncate the visible plan at a Scan
    // ExistingRDD leaf. This proves both halves of the collection design:
    // the child plan alone IS blind to an upstream cartesian (so a
    // non-collecting sweep would green it), and the collected pinned
    // upstream plan flags it.
    import org.apache.spark.sql.functions._
    val n = Tables.nation(spark, sf)
    SessionConf.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (child, pinned) = FramePin.collecting {
        val bad = n.as("a")
          .join(n.as("b"), col("a.n_nationkey") < col("b.n_nationkey"))
          .select(col("a.n_nationkey").as("k"))
        FramePin.pin(bad).groupBy(col("k")).agg(count(lit(1)).as("c"))
      }
      assert(pinned.size == 1)
      val childOff = PlanAudit.offenses("syn_pinned_cart", child.queryExecution)
      val pinnedOff = pinned.flatMap(qe =>
        PlanAudit.offenses("syn_pinned_cart", qe))
      assert(childOff.isEmpty,
        s"the child plan was expected to be blind to the pinned cartesian: $childOff")
      assert(pinnedOff.contains("cartesian"),
        s"the pinned upstream plan must carry the cartesian: $pinnedOff")
    }
  }

  test("jaccard pairs dedup shingles at the scan, not via a distinct shuffle") {
    // the per-document set semantics live in the shingle_hashes_distinct
    // kernel; a revert to explode+distinct() would re-add a cluster-wide
    // shuffle of the raw exploded shingles (the biggest movement of the
    // dedup pipeline at scale). Pinned on the BUILDER, not the q32 gate:
    // the gate now reads the PairMemo parquet artifact, so the operator
    // shape only exists in the builder's plan.
    // the kernel runs upstream of the index pin — read the pinned plans
    // (the df-cap's crossJoin(broadcast(cap)) is the tolerated 1-row
    // scalar BNLJ, so the loop check is onlyScalarBnlj, not plan text)
    val plans = PlanAudit.planned(
      queries.DedupOps.jaccardPairs(Tables.documents(spark, sf), 0.5))._2
    val p = plans.map(_.executedPlan.toString).mkString("\n")
    assert(p.contains("shingle_hashes_distinct"),
      "jaccardPairs must use the kernel-level distinct shingle hasher")
    assert(!p.contains("CartesianProduct"))
    assert(plans.forall(PlanAudit.onlyScalarBnlj))
  }

  test("df-cap bounds the pair join under a pathological hot key (q166)") {
    import org.apache.spark.sql.functions._
    // sf0.01 (500 docs): the q166 fixture plants 5 shingles in 10 % of the
    // corpus — far past the cap max(5, n/100) = 5 — so this is the
    // one-hot-key-shared-by-10%-of-docs scenario the 100× scale-up fears
    val d = "/root/testdata/sf0.01"
    val skewed = Tables.documents(spark, d).select(col("doc_id"),
      when(col("doc_id") % 10 === 0,
        concat(lit("common portal header shared across every page "), col("text")))
        .otherwise(col("text")).as("text"))
    val cap = 5L
    val df = skewed.select(col("doc_id"),
        explode(graft.functions.ShingleHash.distinctOf(col("text"))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    // per-shuffle-partition candidate-pair mass under the SAME partitioning
    // the join uses (HashPartitioning on s, here projected to 32 buckets):
    // Σ df·(df−1)/2 per partition, with and without the cap
    val byPart = df
      .withColumn("m", (col("df") * (col("df") - 1) / 2).cast("long"))
      .groupBy(pmod(hash(col("s")), lit(32)).as("p"))
      .agg(sum(when(col("df") <= cap, col("m")).otherwise(0L)).as("kept"),
        sum(col("m")).as("uncapped"),
        max(when(col("df") <= cap, col("df"))).as("kept_df"))
    val r = byPart.agg(max(col("kept")), max(col("uncapped")),
      max(col("kept_df"))).head()
    val (maxKept, maxUncapped, maxKeptDf) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    // (a) the surviving index obeys the bucket bound: no kept shingle can
    // enumerate more than cap·(cap−1)/2 = 10 pairs
    assert(maxKeptDf <= cap, s"kept df $maxKeptDf breaks the cap $cap")
    // (b) the hot partition's candidate mass is bounded — the uncapped
    // index concentrates the 5×(50·49/2) hot-pair mass on single
    // partitions; the cap must cut the worst partition by >3×
    assert(maxKept * 3 < maxUncapped,
      s"cap failed to defuse the hot partition: kept $maxKept vs uncapped $maxUncapped")
    // (c) the REAL pair join over the skewed corpus stays a shuffled
    // equi-join on the shingle key — no cartesian/BNLJ fallback; the
    // kernel shape sits upstream of the index pin (r11)
    val (df2, pinned) = FramePin.collecting(
      queries.DedupOps.jaccardPairs(skewed, 0.5))
    assert((df2.queryExecution +: pinned).forall(PlanAudit.onlyScalarBnlj))
    assert(pinned.map(_.sparkPlan.toString)
      .exists(_.contains("shingle_hashes_distinct")))
  }

  test("langid explodes native trigram hashes, not per-trigram substrings") {
    val p = plan("q37_langid")
    assert(p.contains("chargram3_hashes"),
      "q37 must use the native chargram kernel (8-byte join key, no " +
        "per-trigram string allocation)")
    assert(!p.contains("substring("),
      "q37 must not extract trigram substrings in the plan")
  }

  test("wizard registers broadcast their dims and push their filters") {
    val p128 = plan("q128_serial_register")
    assert(p128.contains("BroadcastHashJoin"))
    assert(p128.contains("PushedFilters"))
    assert(!p128.contains("SortMergeJoin"),
      "the product dim must broadcast, not shuffle the serial ledger")
    val p130 = plan("q130_stock_reconcile")
    assert(p130.contains("BroadcastHashJoin") && !p130.contains("NestedLoop"))
  }

  test("span overlap fingerprints in the kernel: no windows, no loop joins") {
    // the ORACLE needs windows to replicate winnowing; the Spark side must
    // not — the kernel does the per-doc window-min in one pass
    // the kernel explode runs upstream of the fingerprint pin (r11)
    val p = PlanAudit.planned(Queries.all("q135_span_overlap")(spark, sf))._2
      .map(_.executedPlan.toString).mkString("\n")
    assert(p.contains("winnow_fingerprints"),
      "q135 must fingerprint via the native winnow kernel")
    assert(!p.contains("Window ["), "q135 must not window")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("data card computes all cube levels in ONE corpus scan") {
    val p = plan("q136_data_card")
    assert(p.contains("Expand"), "q136 must cube via Expand, not UNION ALL")
    assert(p.sliding("documents.parquet".length).count(
      _ == "documents.parquet") <= 1, "q136 must scan the corpus once")
  }

  test("token budget selection windows per language, never globally") {
    val p = plan("q137_token_budget")
    assert(p.contains("windowspecdefinition(lang#"),
      "the cumulative-token window must be partitioned by lang")
  }

  test("bigram LM: map-side explode + keyed aggs, no loop joins") {
    val p = plan("q138_bigram_lm")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
    assert(!p.contains("Window ["), "q138 must not window")
  }

  test("range sharding broadcasts cuts; never sorts or windows the corpus") {
    // the whole point: global ORDER comes from percentile cuts + local
    // sorts, so a global Sort or window in the PLAN defeats the operator
    val p = plan("q139_range_shards")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row cut array must broadcast")
    assert(!p.contains("Window ["), "q139 must not window")
  }

  test("leakage-safe split joins the bounded pair set, never the corpus²") {
    assert(PlanAudit.onlyScalarBnlj(qe("q140_leakage_split")))
    assert(!plan("q140_leakage_split").contains("Window ["), "q140 must not window")
  }

  test("release report: lang-partitioned budget window into one cube pass") {
    val p = plan("q141_release_report")
    assert(p.contains("windowspecdefinition(lang#"),
      "the budget window must stay partitioned by lang")
    assert(p.contains("Expand"), "the card must cube via Expand")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("cash-flow (move, account) balances: ONE semi-join-pruned scan, rolled up — never a second journal read") {
    // r13 verdict: the balance frame aggregated the FULL journal, then
    // left-joined into the bounded recon set — a full-fact shuffle paid
    // for rows that are discarded. r14 verdict: reconAmt must be a ROLLUP
    // of mv's scan, not a second semi-joined scan. Pin both on the real
    // compute path: every aggregate sits ABOVE the LeftSemi prune, and
    // the whole two-level plan carries exactly ONE semi-join (= one
    // journal read feeding both balance frames).
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import spark.implicits._
    val lines = Seq((1L, 10L, "a1", "rec", "operating", 5.0),
        (2L, 11L, "a2", "pay", "investing", -5.0))
      .toDF("line_id", "move_id", "account", "atype", "tag", "balance")
    val reconMoves = Seq(10L).toDF("o_move")
    val mv = graft.report.CashFlowStatement.reconciledMoveLines(lines, reconMoves)
    val qe = graft.report.CashFlowStatement.reconciledMoveBalances(mv)
      .queryExecution
    val aggs = qe.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.size == 2, s"expected the two-level rollup:\n${qe.optimizedPlan}")
    aggs.foreach { a =>
      val semisBelow = a.child.collect { case j: Join if j.joinType == LeftSemi => j }
      assert(semisBelow.nonEmpty,
        s"a balance aggregate lost its pre-aggregate semi-join prune:\n${qe.optimizedPlan}")
    }
    val semis = qe.optimizedPlan.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semis.size == 1,
      s"the rollup must share mv's scan — one semi-join, not ${semis.size}:\n${qe.optimizedPlan}")
  }

  test("line totals (q176) is one codegen'd projection into one aggregate — no join, no UDF") {
    // both partner-decimal compilations ride the SAME projection
    // (LineTotals.computePerPartner): a per-decimal split would double
    // the corpus read at scale
    val p = plan("q176_line_totals")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "the per-decimal selection must not become a join or union of scans")
    assert(!p.toLowerCase.contains("udf"), "the chain must stay codegen'd")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "exactly one lineitem scan feeds both decimal branches")
  }

  test("tax-totals footer aggregates groups AND the untaxed sum in ONE fact scan") {
    // the sentinel-group design (TaxTotals.footer): a second scan for the
    // untaxed subtotal would double the corpus read at scale
    import org.apache.spark.sql.functions._
    import graft.engine.TaxCompute.{Params, TaxDef}
    import graft.report.TaxTotals
    import graft.report.TaxTotals.GroupDef
    val li = Tables.lineitem(spark, sf)
      .select(monotonically_increasing_id().as("rec"),
        col("l_quantity").cast("double").as("p"), lit(1.0).as("q"),
        lit(0.0).as("disc"), (col("l_orderkey") % 7 =!= 0).as("taxed"))
    val footer = TaxTotals.footer(li, lit(0L), col("rec"), col("p"), col("q"),
      col("disc"), when(col("taxed"), lit(1)).otherwise(lit(0)),
      Seq(1 -> Seq(TaxDef(1, "t10", "percent", 10.0),
        TaxDef(2, "t20", "percent", 20.0))),
      Map(1L -> GroupDef(1, "G1"), 2L -> GroupDef(2, "G2")), 2, Params(),
      None).plan
    assert(footer.count() > 0)
    val p = footer.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"the footer must read the fact exactly once:\n$p")
    assert(!p.contains("UDF("))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    // the whole gate, layout included, is one clean plan over the fact,
    // not a sort of a local relation built from a collect
    val q174 = qe("q174_tax_totals")
    assert(PlanAudit.offenses("q174_tax_totals", q174).isEmpty)
    val p174 = q174.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p174).length == 1 &&
      !p174.contains("LocalTableScan"), s"q174 must lay its footer out in the plan:\n$p174")
  }

  test("q180 register rollup: the grand-total row reuses the detail's " +
      "exchange — the tax-totals explode is not re-scanned") {
    // pivotRegisterRollup derives '(total)' FROM the pivoted detail; at
    // runtime the shared aggregate exchange must be computed once (AQE
    // reuses the stage), not re-run from a second parquet pass
    val df = Queries.all("q180_register_tax_totals")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage")
        || "Scan parquet".r.findAllIn(p).length == 1,
      s"the total row must not trigger a second fact pass:\n$p")
  }

  test("MIXED-chain tax footer: per-row chain selection stays ONE fact scan, " +
      "no join/union of per-chain branches") {
    // the compile-per-variant/select-per-row mechanism (r15 verdict #3):
    // three chains over one corpus must not fork the scan per chain —
    // each chain's exploded entry array rides the same projection
    import org.apache.spark.sql.functions._
    import graft.engine.TaxCompute.{Params, TaxDef}
    import graft.report.TaxTotals
    import graft.report.TaxTotals.GroupDef
    val li = Tables.lineitem(spark, sf)
      .select(monotonically_increasing_id().as("rec"),
        col("l_quantity").cast("double").as("p"), lit(1.0).as("q"),
        lit(0.0).as("disc"), (col("l_orderkey") % 3).cast("int").as("k"))
    val chains = Seq(
      1 -> Seq(TaxDef(1, "t10", "percent", 10.0, sequence = 1),
        TaxDef(2, "t20", "percent", 20.0, sequence = 2)),
      2 -> Seq(TaxDef(3, "t5", "percent", 5.0)))
    val groups = Map(1L -> GroupDef(1, "G1"), 2L -> GroupDef(1, "G1"),
      3L -> GroupDef(2, "G2"))
    for (frame <- Seq(
        TaxTotals.footer(li, lit(0L), col("rec"), col("p"), col("q"),
          col("disc"), col("k"), chains, groups, 2, Params(), None).plan,
        TaxTotals.taxDetailsPerRecord(li, col("rec"), col("p"), col("q"),
          col("disc"), col("k"), chains, groups),
        // the by-TAX generator (r17) rides the identical plan shape
        TaxTotals.aggregateTaxes(li, col("rec"), col("p"), col("q"),
          col("disc"), col("k"), chains, groups,
          groupingKey = Some(TaxTotals.byTax)),
        // the sliced footer (r17): N batches' footers, still ONE scan
        TaxTotals.footer(li, col("rec") % 4, col("rec"), col("p"), col("q"),
          col("disc"), col("k"), chains, groups, 2, Params(), None).plan)) {
      assert(frame.count() > 0)
      val p = frame.queryExecution.executedPlan.toString
      assert("Scan parquet".r.findAllIn(p).length == 1,
        s"a mixed-chain corpus must read the fact exactly once:\n$p")
      assert(!p.contains("UDF("))
      assert(!p.contains("Join") && !p.contains("Union"),
        "chain selection must be a projection, not a plan fork")
    }
  }
}
