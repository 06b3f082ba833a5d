package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Registry assembling every gate query (SURVEY §2 inventory + training-data
  * ops) with its DuckDB oracle. Conventions: see queries/Parity.scala.
  *
  * Gate-runner contract: `all(name)(spark, dir)` normally returns a LAZY
  * DataFrame (no jobs until an action), but a few gates execute bounded
  * Spark work at CONSTRUCTION time, by documented design:
  *   - q142/q144/q146/q147/q148/q151 (SelectionOps) collect driver-bounded
  *     artifacts (Bloom positions ≤ m, ≤k coreset centers, PQ codebooks)
  *     or write a scratch fixture before returning the plan;
  *   - q106/q129 write ≤25-row scratch fixtures under `Scratch.fresh`;
  *   - q157/q159/q160/q161/q163/q164/q167/q168 run bounded Structured
  *     Streaming queries (4–6 micro-batches over bounded samples) and
  *     return the persisted sink; q165 runs the q159 query TWICE (stop
  *     after 2 batches, resume from the checkpoint) to gate recovery;
  *   - q166 runs bounded scalar aggregates plus one capped pair join over
  *     the skewed fixture (caches released via the builder's thunk);
  *   - q170 collects the cash-flow statement's 17 section totals
  *     driver-side (the layout roll-up contract of
  *     [[graft.report.CashFlowStatement]]);
  *   - gates that consume the suite-level dedup-index memos — exact
  *     pairs, CC clusters, MinHash candidates ([[graft.queries.PairMemo]])
  *     — materialize the shared artifact on FIRST construction per
  *     (JVM, data dir).
  * Callers that only want the plan (e.g. plan audits) therefore run real
  * (bounded) jobs for these names — acceptable at test scale, and the
  * artifacts are keyed so repeated construction reuses them. */
object Queries {
  type Q = (SparkSession, String) => DataFrame

  /** One gate: its name, the plan it builds, and the DuckDB SQL that
    * checks it. Each `queries/` module declares its gates in one table. */
  final case class Gate(name: String, build: Q, oracle: String)

  /** The gates by name; fails naming the gate if a name is declared twice
    * or an oracle is null or empty. */
  private[graft] def index(gates: Seq[Gate]): Map[String, Gate] =
    gates.foldLeft(Map.empty[String, Gate]) { (m, g) =>
      require(!m.contains(g.name), s"gate ${g.name} is declared twice")
      require(g.oracle != null && g.oracle.nonEmpty, s"gate ${g.name} has no oracle")
      m.updated(g.name, g)
    }

  private lazy val gates: Map[String, Gate] = index(
    RelationalA.gates ++ RelationalB.gates ++ DedupOps.gates ++ TextOps.gates ++
      SimilarityOps.gates ++ EngineOps.gates ++ ReportOps.gates ++ GateOps.gates ++
      StockOps.gates ++ SketchOps.gates ++ CurationOps.gates ++ WizardOps.gates ++
      SelectionOps.gates)

  lazy val all: Map[String, Q] = gates.map { case (n, g) => n -> g.build }

  lazy val oracle: Map[String, String] = gates.map { case (n, g) => n -> g.oracle }
}
