package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated code is compiled once per JVM and then reused: the session's
  * codegen cache (`core.Sessions.local`) holds more classes than one pass
  * of the headline queries compiles, so a repeated pass finds every class
  * it needs. Spark's default cache (100 entries) is smaller than that
  * working set, and the second pass then recompiles most of it.
  */
class CodegenReuseSpec extends SparkSpec {

  /** The perfbench `headline_batch` queries (perfbench/stage.py). */
  private val headline = Seq(
    "q1_pricing_summary", "j1_order_lineitem_join", "j3_interval_join",
    "j4_lookup_dim_join", "a1_tumble_count", "a2_keyed_window_reduce",
    "a4_uv_per_day", "a5_is_new_repair", "k5_upsert_latest_per_key",
    "u1_tokenize_explode", "text_quality", "dedup_exact",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_cdc_chunks", "text_kneser_ney", "sim_topk_bruteforce",
    "sim_lsh_ann", "sim_ivf_ann", "sim_knn_graph", "mm_decode_features",
    "p7_map_projection")

  /** Classes compiled while running every headline query once, in order,
    * releasing each query's barriers after it as perfbench does. */
  private def pass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    headline.foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).queryExecution.toRdd.count()
      core.Barrier.releaseAll(spark)
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a repeated headline pass compiles no generated class") {
    val first = pass()
    val second = pass()
    info(s"compiled classes: first pass $first, second pass $second")
    assert(second === 0L,
      s"second pass compiled $second classes (first pass: $first)")
  }
}
