package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.gates._

/** The registry of every oracle-gated query.
  *
  * Each gate lives in its family module under `gates/`, with its DuckDB
  * oracle beside its plan. A family missing from this list silently drops
  * out of Verify, Bench and `tools/selfcheck.py`; `RegistrySpec` guards
  * against that. */
object SparkEntry {
  val gates: Seq[Gate] = Seq(
    RelationalGates.gates,
    AggregateGates.gates,
    WindowGates.gates,
    JoinGates.gates,
    StatisticsGates.gates,
    InferenceGates.gates,
    SpatialGates.gates,
    StreamingGates.gates,
    GraphGates.gates,
    TextGates.gates,
    DedupGates.gates,
    SimilarityGates.gates,
    SamplingGates.gates,
    IngestGates.gates,
  ).flatten
  require(gates.map(_.name).distinct.size == gates.size, "duplicate gate names")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  /** DuckDB-equivalent SQL per query (same parquet tables, same column names). */
  val oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
}
