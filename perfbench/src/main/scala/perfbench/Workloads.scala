package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The query lists of the batch workloads and their expected digests. */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  /** The engine's query modules by name, in `graft.SparkEntry` order. */
  val modules: Seq[(String, Map[String, Query])] = Seq(
    "Relational" -> Relational.queries, "Events" -> Events.queries,
    "TextOps" -> TextOps.queries, "VectorOps" -> VectorOps.queries,
    "NearDup" -> NearDup.queries, "MultiModal" -> MultiModal.queries,
    "Functions2" -> Functions2.queries, "Relational2" -> Relational2.queries,
    "Collections" -> Collections.queries, "Conversions" -> Conversions.queries,
    "Functions3" -> Functions3.queries, "TpcH" -> TpcH.queries,
    "ScaleOps" -> ScaleOps.queries, "TextOps2" -> TextOps2.queries,
    "TextOps3" -> TextOps3.queries, "SqlSurface" -> SqlSurface.queries,
    "TpcDs" -> TpcDs.queries, "TpcDs2" -> TpcDs2.queries)

  /** Star-schema joins, shuffles and aggregates whose time is mostly
    * execution: heavy TPC-H and TPC-DS style queries at sf0.1. */
  val Olap: Seq[String] = Seq(
    "h05_local_supplier_volume", "d02_channel_rollup", "d05_margin_rollup_rank",
    "d13_union_brand_total")

  /** One query from each of ten modules on negligible data, so fixed per-query
    * costs dominate: construction with its eager jobs, planning and job
    * scheduling. It covers functions, sources (proto and CDC round-trips),
    * ops, the SQL surface and DDL, and three queries (h15, t54, d11) whose
    * RDDs outlive them. Queries that stage side tables under the fixed
    * /tmp/graft_oracle path (all of MultiModal, the ps/late TPC-H queries,
    * the ANN/LSH/compaction queries) are left out: the benchmark reads and
    * writes only inside its checkout. */
  val Registry: Seq[String] = Seq(
    "q1_pricing_summary", "q22_session_window", "t39_bpe_tokens", "v42_ann_topk",
    "q75_proto_roundtrip", "q82_cdc_decode", "q79_ddl_workflow", "h15_top_supplier",
    "t54_heavy_hitters", "q85_sql_json", "d11_frequent_best")

  /** (data directory under perfbench/data, queries as (module, name, builder)). */
  def of(workload: String): (String, Seq[BatchWorkload.Q]) = {
    val (dir, names) = workload match {
      case "olap-sf0.1" => ("sf0.1", Olap)
      case "registry-sf0.001" => ("sf0.001", Registry)
    }
    val byName = modules.flatMap { case (m, qs) => qs.map { case (n, fn) => n -> (m, n, fn) } }.toMap
    (dir, names.map(byName))
  }

  def expectedFile(root: File, workload: String): File =
    new File(root, s"perfbench/expected/$workload.tsv")

  /** query → "rows:hash" digest, or "rows:<n>" for a query whose values
    * do not reproduce from run to run (its row count is still checked). */
  def expected(root: File, workload: String): Map[String, String] = {
    val f = expectedFile(root, workload)
    scala.io.Source.fromFile(f).getLines().filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
  }
}
