package graft.tools

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Prints the final adaptive physical plan of the headline queries so
  * plan regressions (lost pushdown, surprise shuffles, missed
  * broadcasts) are visible: each query is written once to the noop sink
  * and the plan AQE settled on for that write is printed.
  * Run: sbt "runMain graft.tools.ExplainAudit [queries...]"
  * (SPARK_GRAFT_SF_DIR picks the data, default sf0.001).
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(8)
    // The write plans its own copy of the query, so its final plan is
    // read from the listener that reports the finished write.
    val writes = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.isInstanceOf[V2WriteCommand]) writes.put(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_pricing_summary", "q2_local_revenue", "q3_shipping_priority",
        "q11_topn_per_group", "q33_lookup_join", "v42_ann_topk",
        "v43_ivf_ann", "v44_embedding_lsh_pairs", "v45_pq_ann",
        "h09_product_profit", "h21_suppliers_waiting", "h11_important_stock",
        "q69_bucketed_join", "q70_salted_join", "t37_winnow_fingerprints",
        // round-10 re-planned rows — keep them in the default audit
        "d24_two_supplier_orders", "d25_cross_channel_intersect",
        "d05_margin_rollup_rank", "d06_rollup_topn",
        "t48_line_dedup", "t54_heavy_hitters",
        // round-12 additions: refined/filtered ANN + dynamic session gap
        "v50_pq_refine", "v51_ivfpq_refine", "v52_filtered_ann",
        "q87_dynamic_session_gap",
        // rounds 13-14: SQL-text dynamic session, staged v45/v46, IVF-SQ
        "q88_dynamic_session_sql", "v46_ivfpq_ann",
        "v54_ivfsq_refine",
        // late r14: TIMESTAMP→TIME cast through the Flink dialect
        "q90_time_cast", "q91_time_wrap_sql",
        // r16: TIME through the format roundtrips (map-side casts only)
        "q92_csv_time_roundtrip", "q93_json_time_roundtrip",
        "q94_avro_time_roundtrip",
        // r17: CTAS read-back + ORC numeric TIME wire
        "q95_ctas", "q96_orc_time_roundtrip",
        // r21: re-planned rows — keep the single-pass / pruned shapes
        // (conditional-sum collapses, order-grain partials, dim-first
        // pruning, payload-moves-once t59) visible in the audit
        "d17_cumulative_channels", "d21_yoy_decline", "d23_returns_adjusted",
        "h02_min_cost_supplier", "h05_local_supplier_volume",
        "h18_large_volume", "t59_exact_substr_removal",
        // r22: keep the int-key grain agg (d05), dim-first pruning
        // (d01/h20), single-parse json_tuple (q49) and date-key month
        // grouping (q17) shapes visible in the audit
        "d01_brand_year_revenue", "h20_part_promotion", "q49_json2",
        "q17_monthly_revenue",
        // r22 batch 4: two-phase grouping sets and int-nationkey grain
        "q9_rollup", "q34_cube", "d08_mom_revenue_ratio",
        "d12_qoq_channel_growth", "d20_month_pivot")
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      println(s"\n========== $n ==========")
      println(Option(writes.poll(60, TimeUnit.SECONDS)).fold("(no plan reported)")(
        _.executedPlan.toString))
    }
    spark.stop()
  }
}
