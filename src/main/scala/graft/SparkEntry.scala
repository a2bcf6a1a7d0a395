package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The query registry that Verify, Bench and the correctness gate read.
  *
  * `queries` is the operator inventory (one entry per implemented
  * operator from SURVEY.md §2); `oracleSql` holds the DuckDB-dialect
  * equivalent for the driver's correctness gate. Query bodies live in
  * `graft.queries.*` modules, grouped by the part of the surface they
  * cover; both maps are built once from the module list below, and a
  * name declared by two modules is an error rather than a silent
  * shadowing.
  */
object SparkEntry {
  type Query = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** (module, its queries, its oracles), in registry order. */
  private def modules: Seq[(String, Map[String, Query], Map[String, String])] = Seq(
    ("Relational", Relational.queries, Relational.oracles),
    ("Events", Events.queries, Events.oracles),
    ("TextOps", TextOps.queries, TextOps.oracles),
    ("VectorOps", VectorOps.queries, VectorOps.oracles),
    ("NearDup", NearDup.queries, NearDup.oracles),
    ("MultiModal", MultiModal.queries, MultiModal.oracles),
    ("Functions2", Functions2.queries, Functions2.oracles),
    ("Relational2", Relational2.queries, Relational2.oracles),
    ("Collections", Collections.queries, Collections.oracles),
    ("Conversions", Conversions.queries, Conversions.oracles),
    ("Functions3", Functions3.queries, Functions3.oracles),
    ("TpcH", TpcH.queries, TpcH.oracles),
    ("ScaleOps", ScaleOps.queries, ScaleOps.oracles),
    ("TextOps2", TextOps2.queries, TextOps2.oracles),
    ("TextOps3", TextOps3.queries, TextOps3.oracles),
    ("SqlSurface", SqlSurface.queries, SqlSurface.oracles),
    ("TpcDs", TpcDs.queries, TpcDs.oracles),
    ("TpcDs2", TpcDs2.queries, TpcDs2.oracles))

  lazy val queries: Map[String, Query] = merge(modules.map(m => m._1 -> m._2))

  lazy val oracleSql: Map[String, String] = merge(modules.map(m => m._1 -> m._3))

  /** Union of per-module maps; throws, naming both modules, when a name
    * appears in two of them. */
  private[graft] def merge[V](byModule: Seq[(String, Map[String, V])]): Map[String, V] = {
    val owner = scala.collection.mutable.HashMap.empty[String, String]
    for ((module, entries) <- byModule; name <- entries.keys)
      owner.put(name, module).foreach { first =>
        throw new IllegalStateException(
          s"query '$name' is declared by both $first and $module")
      }
    byModule.flatMap(_._2).toMap
  }
}
