package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Skew
import graft.SparkEntry

/** Scale-up experiment: materialize k× copies of the fixture tables (ids
  * offset per replica so keys stay distinct and dedup/ANN don't collapse)
  * and time the headline scale paths at increasing k. Near-linear growth
  * here is the evidence behind the 100 TB design claims in PLANS.md.
  *
  * Usage: runMain graft.tools.Scaling <baseSfDir> <factors e.g. 1,2,4,8>
  */
object Scaling {

  val queries = Seq("q1_pricing_summary", "j1_order_lineitem_join",
    "j3_interval_join", "j4_lookup_dim_join", "a2_keyed_window_reduce",
    "a5_is_new_repair", "sim_topk_bruteforce", "mm_decode_features",
    "p7_map_projection",
    "a1_tumble_count", "a4_uv_per_day", "k5_upsert_latest_per_key",
    "u1_tokenize_explode", "dedup_exact", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_embedding_lsh", "sim_lsh_ann", "sim_ivf_ann",
    "text_quality", "sim_sq_ann", "sim_ivfsq_ann",
    "text_contamination_ngram", "corpus_snapshot_diff",
    "q_quantiles_approx", "dedup_cc_clusters", "dedup_cc_keep_best",
    "j7_asof_join", "text_decontam_bloom", "dedup_semantic",
    "text_winnow_fps", "text_salient_terms", "pipeline_clean_corpus",
    "corpus_token_budget", "sim_kmeans_train",
    "pipeline_incremental_corpus", "sample_stratified_exact",
    "text_line_dedup", "dedup_partial_overlap", "corpus_pack_sequences",
    "text_quality_classifier", "sim_range_search", "text_ngram_diversity",
    "text_top_ngrams", "corpus_pack_spans", "text_substring_dedup",
    "pipeline_packed_corpus", "dedup_minhash_estimate", "a7_funnel_steps",
    "a8_cohort_retention", "a9_event_transitions", "sim_pq_ann",
    "mm_phash_dedup", "text_gopher_rules", "a6_session_stats",
    "corpus_health_report", "corpus_dedup_stats", "sim_centroid_outliers",
    "text_unigram_rarity", "corpus_pack_tokens", "corpus_length_batches",
    "corpus_quality_drift", "text_bpe_merges", "dedup_semantic_trained",
    "corpus_pack_manifest", "text_chunk_windows", "pipeline_chunked_corpus",
    "text_dsir_weights", "sample_importance_dsir", "sample_curriculum_order",
    "text_bpe_train", "text_bpe_apply", "text_heavy_hitters_cms",
    "sim_ivfpq_ann", "sim_ivfpq_ann_trained",
    "quality_threshold_sweep", "sample_shuffle_epochs",
    "sim_knn_graph", "text_bm25_topk", "text_bigram_lm", "sim_pagerank",
    "sim_label_prop", "sim_pq_train", "sim_pq_ann_trained",
    "sim_hard_negatives", "sim_dim_stats", "text_collocations",
    "a7_funnel_latency", "a10_rate_anomaly",
    "sim_recall_report", "sim_graph_triangles", "text_code_detect",
    "text_vocab_coverage", "sample_mixture_schedule",
    "pipeline_routed_corpus", "a1_slide_uu", "sim_recall_report_quantized", "text_oov_rate", "mm_phash_neardup", "mm_phash_clusters", "sim_ivf_ann_trained", "q_expectations_report", "sim_matryoshka_recall", "dedup_threshold_sweep", "k8_scd2_history", "q_running_total",
    "sim_pca_power", "sim_pca_project", "sim_pca_variance", "sim_pca_top2",
    "sim_pca_gram", "mm_scene_cuts", "mm_scene_segments", "mm_audio_vad",
    "text_wordpiece_segment", "text_wordpiece_counts", "q_skew_report",
    // dedup_method_matrix deliberately absent: it composes the blocked
    // exhaustive-jaccard families, which are the sample-scale
    // calibration tier by design (see Dedup's module doc) — a tier
    // comparison runs on a sample, not the corpus
    "corpus_source_overlap", "sample_split_leakage_free",
    "sample_split_leakage_report",
    "text_unigram_train", "text_unigram_segment", "sim_pca_topk",
    "mm_audio_features", "sim_kcore", "text_textrank_keywords",
    "sim_kmeans_quality", "sample_kfold", "corpus_ngram_novelty",
    "sample_kcenter_diverse", "dedup_prefix_filter", "corpus_overlap_kmv",
    "corpus_shard_plan", "corpus_vocab_growth", "corpus_source_ablation",
    "sim_graph_search", "text_f2_moment", "corpus_zorder_skipping",
    "q_topk_ta", "q_join_card_estimate", "j9_bloom_semijoin",
    "q_join_size_sketches", "text_rake_keywords", "sample_ess_report",
    "sim_graph_recall_vs_beam", "text_keyword_agreement",
    "sim_graph_search_layered", "sim_graph_layered_recall",
    "dedup_simhash_pairs",
    "dedup_cdc_chunks", "u1_tokenize_cjk", "sample_weighted_ares",
    "text_kneser_ney", "dedup_containment", "dedup_containment_exact",
    "sim_hyperball",
    "sim_jl_recall", "text_longest_dup", "dedup_containment_estimate",
    "text_dup_profile", "privacy_k_anonymity",
    // r14 completion: every remaining query EXCEPT the documented
    // sample-scale calibration tiers (blocked exhaustive jaccard/pair
    // families, the exhaustive stats twins, the S-curve decile truth,
    // dedup_method_matrix) — the sweep list now covers ~93% of the
    // surface so future scale runs can filter any of it
    "a3_global_window", "a4_login_uu_window", "a6_session_window",
    "approx_uv_hll", "dedup_cc_canonical", "dedup_embedding_canonical",
    "dedup_keep_canonical", "f_scalar_suite", "j2_double_left_join",
    "j5_broadcast_config_join", "j8_salted_join", "k6_dim_merge_state",
    // mm_phash_band_coverage left out as of r16: its all-pairs hamming
    // truth over DISTINCT hash classes is the calibration tier by
    // design (its own doc says so), and the r16 content-diversity fix
    // makes distinct classes grow ∝ k — under the old degenerate
    // fixture (~55 classes at every k) it merely LOOKED sweepable.
    // Its scale tier mm_phash_band_coverage_sampled sweeps instead
    // (universe-sampled classes, mod set ∝ k below → constant cost).
    "mm_phash_band_coverage_sampled",
    "mm_binary_features", "mm_frame_sample",
    "mm_resize", "p10_snakecase_json", "p1_cdc_etl", "p2_log_etl",
    "p3_parse_or_drop", "p4_config_pruning", "p6_op_selector",
    "p8_predicate_filter", "p9_cart_delta", "q18_large_volume_customer",
    "q3_shipping_priority", "q5_local_supplier_volume", "q_rollup_sales",
    "q_topn_per_group", "s3_json_source", "sample_exact_k_global",
    "sample_hash_stratified", "sample_mixture_weights",
    "sample_temperature_alpha", "sample_topk_per_source",
    "sample_train_split", "sim_graph_components", "sim_hamming_ann",
    "sim_kmeans_step", "text_contamination", "text_contamination_neardup",
    "text_contamination_report", "text_corpus_stats", "text_fingerprint",
    "text_langid", "text_perplexity_buckets", "text_pii_scrub",
    "text_quality_filter", "text_repetition", "text_repetition_report",
    "text_tokenizer_eval", "text_unigram_counts", "x1_explode_display",
    "x1_split_action", "x1_split_err", "x1_split_page", "x1_split_start",
    "x2_fact_router")

  /** Scale-dir cache path. The `fk2` suffix versions the HARNESS: r14
    * extended the FK offsets below to customer/supplier/part (and froze
    * nation/region at 1×), so pre-r14 cached dirs — whose replicated
    * dims carried k DUPLICATE copies of every key — must never be
    * silently reused by the fixed harness (the r9 two-bases-one-dir
    * lesson, applied to harness semantics). */
  def scaleDir(base: String, k: Int): String =
    s"/tmp/graft_scale_${new java.io.File(base).getName}_${k}x_fk2"

  def scaled(spark: SparkSession, base: String, name: String, k: Int): DataFrame = {
    val df = Tables.load(spark, base, name)
    // geo dims stay CONSTANT under scale (a 16× business has 16× the
    // customers and suppliers, not 16× the nations): replicating them
    // un-offset gave every nation join k duplicate matches — the
    // artifact behind q5's 86 s at 16× (256× row inflation through
    // customer×supplier duplicate keys), found in the r14 list sweep
    if (name == "nation" || name == "region") return df
    // FK columns must offset by the PARENT table's cardinality so
    // replica i of a child still joins exactly replica i of its parent
    // — on EVERY FK edge, not just orders↔lineitem: un-offset
    // customer/supplier/part keys turn the scaled join into an
    // unrealistic k-way many-to-many
    def n(t: String) = Tables.load(spark, base, t).count()
    val offsets: Seq[(String, Long)] = name match {
      case "documents" => Seq("doc_id" -> df.count())
      case "embeddings" => Seq("vec_id" -> df.count())
      case "events" => Seq("event_id" -> df.count())
      case "lineitem" => Seq("l_orderkey" -> n("orders"),
        "l_suppkey" -> n("supplier"), "l_partkey" -> n("part"))
      case "orders" => Seq("o_orderkey" -> n("orders"),
        "o_custkey" -> n("customer"))
      case "customer" => Seq("c_custkey" -> n("customer"))
      case "supplier" => Seq("s_suppkey" -> n("supplier"))
      case "part" => Seq("p_partkey" -> n("part"))
      case _ => Seq.empty
    }
    // offset only columns the table actually has (fixture schemas vary)
    val present = offsets.filter { case (c, _) => df.columns.contains(c) }
    (0 until k).map { i =>
      present.foldLeft(df) { case (d, (c, nn)) =>
        d.withColumn(c, col(c) + lit(i * nn))
      }
    }.reduce(_ unionByName _)
  }

  /** Skew experiment: a power-law keyed fact (one hot key owning
    * `hotShare` of all rows) joined to a keyed dim, unsalted vs
    * `Skew.saltedJoin`. Broadcast and AQE are disabled HERE ONLY, to
    * expose the raw skewed-shuffle shape salting fixes — the shape that
    * appears at 100 TB when the dim outgrows the broadcast threshold and
    * a single hot key floods one reducer. Asserts row-identity, prints
    * best-of-2 times for both plans.
    */
  def skewDemo(spark: SparkSession, rows: Long, hotShare: Double = 0.5,
      nKeys: Int = 10000, buckets: Int = 16): Unit = {
    val hotPermille = (hotShare * 1000).toInt
    val big = spark.range(rows).select(
      when(pmod(hash(col("id")), lit(1000)) < hotPermille, 0L)
        .otherwise(pmod(hash(col("id") * 7), lit(nKeys)).cast("long"))
        .as("k"),
      col("id").as("payload"))
    val small = spark.range(nKeys).select(col("id").as("k"),
      (col("id") * 3 + 1).as("dim_val"))
    // count + checksum: cheap full-materialization proof of row identity
    // (exact row-level identity is pinned separately in SkewSpec)
    def agg(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("payload") + col("dim_val")))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      def time[T](f: => T): (Double, T) = {
        var res: T = f // warmup + result
        val t = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); res = f
          (System.nanoTime() - t0) / 1e9
        }.min
        (t, res)
      }
      val (tU, rU) = time(agg(big.join(small, "k")))
      val (tS, rS) = time(agg(Skew.saltedJoin(big, small, "k", buckets)))
      require(rU == rS, s"salted join changed the result: $rU vs $rS")
      println(f"[skew] rows=$rows hotShare=$hotShare unsalted=$tU%.3fs " +
        f"salted($buckets)=$tS%.3fs speedup=${tU / tS}%.2fx rows_identical=true")
    }
  }

  private def withConf(spark: SparkSession, kv: (String, String)*)(
      body: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    if (args.lift(1).contains("simhashingest")) {
      // The SimHash banded-pair INGEST tier under the scale lens
      // (verdict r12 #4's done-criterion row): hash-split the k×
      // documents into B micro-batches, run each through
      // simhashIngestBatch against one growing store, and report
      // per-batch wall time + emitted pairs + store size — then the
      // parity check: union of per-batch emissions == the batch
      // dedup_simhash_pairs relation over the same corpus. A flat
      // per-batch time at constant batch size is the O(touched)
      // store-IO claim, measured.
      val k = args.lift(2).map(_.toInt).getOrElse(16)
      val nBatches = args.lift(3).map(_.toInt).getOrElse(8)
      val spark = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val dir = scaleDir(base, k)
      Tables.names.foreach { n =>
        val out = s"$dir/$n.parquet"
        if (!new java.io.File(out).exists())
          scaled(spark, base, n, k).write.mode("overwrite").parquet(out)
      }
      val store =
        java.nio.file.Files.createTempDirectory("simhash_scale").toString
      // emissions accumulate to parquet so parity below is SET-level
      // (count-only parity would miss a duplicate-emission + missed-pair
      // compensation — review r13 finding #6); the write sits outside
      // the per-batch timer, as sink IO would in a real pipeline
      val emitted =
        java.nio.file.Files.createTempDirectory("simhash_emit").toString
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      var total = 0L
      (0 until nBatches).foreach { i =>
        val b = docs.filter(pmod(hash(col("doc_id")), lit(nBatches)) === i)
        val t0 = System.nanoTime()
        val out = graft.streaming.StatefulStreaming
          .simhashIngestBatch(b, store).localCheckpoint()
        val n = out.count()
        val t = (System.nanoTime() - t0) / 1e9
        out.write.mode("append").parquet(emitted)
        graft.core.Barrier.releaseAll(spark)
        total += n
        println(f"[simhash-ingest] k=$k batch=$i%-3d $t%7.3fs pairs=$n")
      }
      def du(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
        else f.length()
      println(f"[simhash-ingest] k=$k store=" +
        f"${du(new java.io.File(store)) / 1024.0 / 1024.0}%8.2f MiB " +
        s"emitted_total=$total")
      val t0 = System.nanoTime()
      val twin = SparkEntry.queries("dedup_simhash_pairs")(spark, dir)
        .localCheckpoint()
      val batchPairs = twin.count()
      val em = spark.read.parquet(emitted)
      val missed = twin.exceptAll(em).count()
      val spurious = em.exceptAll(twin).count()
      graft.core.Barrier.releaseAll(spark)
      println(f"[simhash-ingest] k=$k batch_twin " +
        f"${(System.nanoTime() - t0) / 1e9}%7.3fs pairs=$batchPairs " +
        s"missed=$missed spurious=$spurious parity=" +
        (if (missed == 0 && spurious == 0) "EQUAL(set)" else "MISMATCH"))
      spark.stop()
      return
    }
    if (args.lift(1).contains("containmentingest")) {
      // The composed-containment INGEST tier under the scale lens
      // (verdict r13 #3's done-criterion row) — the simhashingest
      // harness shape verbatim: hash-split the k× documents into B
      // micro-batches through one growing store, report per-batch wall
      // time + emitted pairs + store size, then SET-level parity vs the
      // batch composed dedup_containment over the same corpus.
      val k = args.lift(2).map(_.toInt).getOrElse(16)
      val nBatches = args.lift(3).map(_.toInt).getOrElse(8)
      val spark = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val dir = scaleDir(base, k)
      Tables.names.foreach { n =>
        val out = s"$dir/$n.parquet"
        if (!new java.io.File(out).exists())
          scaled(spark, base, n, k).write.mode("overwrite").parquet(out)
      }
      val store =
        java.nio.file.Files.createTempDirectory("cont_scale").toString
      val emitted =
        java.nio.file.Files.createTempDirectory("cont_emit").toString
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      var total = 0L
      (0 until nBatches).foreach { i =>
        val b = docs.filter(pmod(hash(col("doc_id")), lit(nBatches)) === i)
        val t0 = System.nanoTime()
        val out = graft.streaming.StatefulStreaming
          .containmentIngestBatch(b, store).localCheckpoint()
        val n = out.count()
        val t = (System.nanoTime() - t0) / 1e9
        out.write.mode("append").parquet(emitted)
        graft.core.Barrier.releaseAll(spark)
        total += n
        println(f"[cont-ingest] k=$k batch=$i%-3d $t%7.3fs pairs=$n")
      }
      def du(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
        else f.length()
      println(f"[cont-ingest] k=$k store=" +
        f"${du(new java.io.File(store)) / 1024.0 / 1024.0}%8.2f MiB " +
        s"emitted_total=$total")
      val t0 = System.nanoTime()
      val twin = SparkEntry.queries("dedup_containment")(spark, dir)
        .localCheckpoint()
      val batchPairs = twin.count()
      val em = spark.read.parquet(emitted)
      val missed = twin.exceptAll(em).count()
      val spurious = em.exceptAll(twin).count()
      graft.core.Barrier.releaseAll(spark)
      println(f"[cont-ingest] k=$k batch_twin " +
        f"${(System.nanoTime() - t0) / 1e9}%7.3fs pairs=$batchPairs " +
        s"missed=$missed spurious=$spurious parity=" +
        (if (missed == 0 && spurious == 0) "EQUAL(set)" else "MISMATCH"))
      spark.stop()
      return
    }
    if (args.lift(1).contains("containmentrecall")) {
      // Measured recall floor for the composed containment default vs
      // the lossless exact tier, at a scale where banding actually
      // prunes (ADVICE r14: the composed gate oracle replicates the
      // banding, so gate-green cannot certify recall — this diagnostic
      // re-checks the documented recall directly, engine vs engine).
      // k = 0 runs the base dir itself (e.g. sf0.1).
      val k = args.lift(2).map(_.toInt).getOrElse(0)
      val spark = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val dir =
        if (k == 0) base
        else scaleDir(base, k)
      if (k != 0) Tables.names.foreach { n =>
        val out = s"$dir/$n.parquet"
        if (!new java.io.File(out).exists())
          scaled(spark, base, n, k).write.mode("overwrite").parquet(out)
      }
      def timed(name: String): (DataFrame, Double, Long) = {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, dir).localCheckpoint()
        val n = df.count()
        val t = (System.nanoTime() - t0) / 1e9
        graft.core.Barrier.releaseAll(spark)
        (df, t, n)
      }
      val (comp, tC, nC) = timed("dedup_containment")
      val (exact, tE, nE) = timed("dedup_containment_exact")
      val missed = exact.exceptAll(comp).count()
      val spurious = comp.exceptAll(exact).count()
      graft.core.Barrier.releaseAll(spark)
      val recallPpm =
        if (nE == 0) 1000000L else (nC - spurious) * 1000000L / nE
      println(f"[cont-recall] dir=$dir composed=$nC (${tC}%.2fs) " +
        f"exact=$nE (${tE}%.2fs) missed=$missed spurious=$spurious " +
        s"recall_ppm=$recallPpm")
      spark.stop()
      return
    }
    if (args.lift(1).contains("layerdiag")) {
      // What the geometric layer ladder BUYS, measured (verdict r12 #5's
      // done-criterion evidence): per level, the per-query best-seed
      // cosine after its 3-hop beam-2 walk, the distinct visited count
      // (the measured hop budget actually spent), and the flat walk's
      // global min-id entry cosine as the baseline the ladder replaces.
      val k = args.lift(2).map(_.toInt).getOrElse(64)
      val spark = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val dir =
        if (k == 0) base
        else scaleDir(base, k)
      Tables.names.foreach { n =>
        val out = s"$dir/$n.parquet"
        if (!new java.io.File(out).exists())
          scaled(spark, base, n, k).write.mode("overwrite").parquet(out)
      }
      val l = graft.operators.Similarity.layeredLadder(spark, dir)
      val flatEntry = l.edges.agg(min(col("x")).as("v"))
      val flatF0 = l.scoreEntry(l.queries.select(col("query_id"))
        .crossJoin(broadcast(flatEntry)))
      def stats(tag: String, df: DataFrame): Unit = {
        val r = df.agg(avg(col("s")), min(col("s")), count(lit(1)))
          .collect()(0)
        println(f"[layerdiag] k=$k $tag%-28s avg_s=${r.getDouble(0)}%.4f " +
          f"min_s=${r.getDouble(1)}%.4f rows=${r.getLong(2)}")
      }
      stats("flat_global_entry", flatF0)
      stats("L2_entry(1/256 min-id)", l.u2f0)
      stats("L2_best(3 hops, beam 2)", l.seedOf(l.u2visited))
      stats("L1_best(3 hops, beam 2)", l.seedOf(l.uvisited))
      Seq("L2_visited" -> l.u2visited, "L1_visited" -> l.uvisited)
        .foreach { case (tag, df) =>
          val r = df.groupBy(col("query_id"))
            .agg(countDistinct(col("v")).as("nv"))
            .agg(avg(col("nv")), max(col("nv"))).collect()(0)
          println(f"[layerdiag] k=$k $tag%-28s avg_visited=" +
            f"${r.getDouble(0)}%.1f max_visited=${r.getLong(1)}")
        }
      graft.core.Barrier.releaseAll(spark)
      spark.stop()
      return
    }
    if (args.lift(1).contains("skew")) {
      val spark = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      skewDemo(spark, rows = args.lift(2).map(_.toLong).getOrElse(20000000L))
      spark.stop()
      return
    }
    if (args.lift(1).contains("soak")) {
      // r9 verdict #7: the multi-stage streaming graph ITSELF under the
      // scale lens — gates, signature-store compaction, pack carry — not
      // just its per-operator batch twins. Reuses the k×-materialized
      // table dir; reports per-stage stream times, store sizes and the
      // signature store's compaction state.
      val k = args.lift(2).map(_.toInt).getOrElse(16)
      val spark = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        // r16 VERDICT #6: the soak runs with the production lineage guard
        // ON — every store merge asserts it executed the micro-batch plan
        // exactly once, so the r15 double-execution class fails the
        // harness run itself, not only the spec fixtures
        .config("spark.graft.lineageGuard", "true")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      // The soak gets its OWN scaled dir: the sweep dirs' documents are
      // EXACT k× clones, and with 16 clone ids per text every residue
      // mod 13 is hit — the benchmark-fp/13-gram gates then match every
      // document via some clone and the soak admits ~nothing (observed
      // twice: first with exact clones, then with suffix-tagged clones,
      // whose 13-grams still collide). A real k× corpus is k× DISTINCT
      // documents, so the soak docs interleave a per-replica tag into
      // the text every 8 words: every 13-gram crosses a tag, replicas
      // share no grams and no near-dup shingles, and the gate chain +
      // signature store face the honest k× admitted load (bench members
      // still self-match and drop, short clones still exact-dedup).
      val dir = s"/tmp/graft_soak_${new java.io.File(base).getName}_${k}x"
      Seq("documents", "events").foreach { n =>
        val out = s"$dir/$n.parquet"
        if (!new java.io.File(out).exists()) {
          val df = scaled(spark, base, n, k)
          val tagged = if (n == "documents") {
            val rep = (col("doc_id") /
              Tables.load(spark, base, n).count()).cast("long")
            df.withColumn("text", regexp_replace(col("text"),
              lit("((?:\\S+\\s+){8})"),
              concat(lit("$1"), lit("r"), rep, lit("x "))))
          } else df
          tagged.write.mode("overwrite").parquet(out)
        }
      }
      val work = java.nio.file.Files.createTempDirectory("soak_scale").toString
      val t0 = System.nanoTime()
      // optional 4th arg: source-file count = micro-batch count. The
      // default 8 keeps the historical protocol (batch size grows with
      // k); passing 8*k holds BATCH SIZE constant while the store grows
      // across 8*k batches — the reading that separates batch-linear
      // work (gates) from store-size-shaped work (the probe), which the
      // aggregate stage number conflates.
      val srcFiles = args.lift(3).map(_.toInt).getOrElse(8)
      // per-stage loadavg (r16 VERDICT #4): the scd2_dim spread (42–170s)
      // forced two manual base-worktree A/Bs last round — sampling
      // /proc/loadavg into the stage table makes the host-vs-code call
      // mechanical (the soak itself keeps cores busy, so readings well
      // past the run's own footprint are the external-burst signature)
      def load1(): String =
        try java.nio.file.Files
          .readString(java.nio.file.Paths.get("/proc/loadavg"))
          .split("\\s+")(0)
        catch { case _: Throwable => "?" }
      graft.streaming.Jobs.runSoak(spark, dir, work, srcFiles = srcFiles,
        stageTimer = (st, s) =>
          println(f"[soak] k=$k stage=$st%-10s $s%8.3fs loadavg=${load1()}"))
      println(f"[soak] k=$k total ${(System.nanoTime() - t0) / 1e9}%8.3fs " +
        s"loadavg=${load1()}")
      def du(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
        else f.length()
      Seq("sig_store", "packs", "store_kw", "store_page", "store_err",
        "admitted").foreach { s =>
        val f = new java.io.File(work, s)
        if (f.exists()) println(f"[soak] k=$k store=$s%-10s " +
          f"${du(f) / 1024.0 / 1024.0}%8.2f MiB")
      }
      val (gens, live) =
        graft.streaming.BatchStore.census(spark, s"$work/sig_store")
      println(s"[soak] k=$k sig_store generations=$gens live_dirs=$live")
      val packs = new java.io.File(work, "packs")
      // an all-rejected run leaves no data files — report 0, don't die
      // on schema inference
      if (packs.exists())
        println(s"[soak] k=$k packs rows=" + (
          try spark.read.parquet(packs.getPath).count()
          catch { case _: org.apache.spark.sql.AnalysisException => 0L }))
      spark.stop()
      return
    }
    if (args.lift(1).contains("ivfsweep")) {
      // r10 verdict #4: the query-volume crossover measurement behind
      // ivfDerivedC. The 8-query fixture panel showed C ≈ √N SLOWER
      // (assignment FLOPs buy a candidate reduction nobody consumes);
      // the cost model says the crossover is at Q·nprobe ≈ C² — so a
      // 1k-query panel at the same corpus must flip the sign. Prints a
      // (Q × C) grid of end-to-end build+serve times, best-of-2.
      val k = args.lift(2).map(_.toInt).getOrElse(64)
      val spark = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val dir = scaleDir(base, k)
      Seq("embeddings").foreach { n =>
        val out = s"$dir/$n.parquet"
        if (!new java.io.File(out).exists())
          scaled(spark, base, n, k).write.mode("overwrite").parquet(out)
      }
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val sqrtN = graft.operators.Similarity.isqrt(n).toInt
      for (q <- Seq(8, 1000, 4000)) {
        val derived = graft.operators.Similarity.ivfDerivedC(n, q, 4)
        for (c <- Seq(16, derived, sqrtN).distinct) {
          val times = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            graft.operators.Similarity.ivfServe(spark, dir, c, q)
              .queryExecution.toRdd.count()
            val t = (System.nanoTime() - t0) / 1e9
            graft.core.Barrier.releaseAll(spark)
            t
          }
          val mark = if (c == derived) " <- derived" else ""
          println(f"[ivfsweep] n=$n q=$q%-5d c=$c%-4d derivedC=$derived%-4d " +
            f"${times.min}%7.3fs$mark")
        }
      }
      spark.stop()
      return
    }
    if (args.lift(1).contains("zipf")) {
      // r11 verdict #5: the prefix-filter pruning claim, MEASURED. The
      // fixture's 31-word vocabulary is the densest case for prefix
      // filtering (every rare-gram prefix is still common); SCALING.md
      // claims "Zipf shingle universes prune orders of magnitude
      // harder" — this mode materializes a Zipf-vocab twin of the
      // documents table (same doc count, same per-doc word counts,
      // words drawn Zipf(1) from a V-word vocabulary via the
      // inverse-CDF pow(V, u) device: P(rank ≤ k) = ln k / ln V, the
      // classic s=1 tail) and prints dedup_prefix_filter_stats for
      // both corpora side by side, candidate ratio included.
      val v = args.lift(2).map(_.toInt).getOrElse(50000)
      val spark = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      // g2: generator version is part of the dir name — the r13 floor+1
      // head-mass fix must not silently reuse corpora materialized by
      // the r12 ceil() formula (review r13 finding #4)
      val dir = s"/tmp/graft_zipf_g2_${new java.io.File(base).getName}_v$v"
      val out = s"$dir/documents.parquet"
      if (!new java.io.File(out).exists()) {
        val docs = Tables.load(spark, base, "documents")
        docs.select(col("doc_id"),
            greatest(size(graft.functions.Text.tokenize(col("text"))),
              lit(1)).as("nw"))
          // inverse-CDF rank = floor(V^u) + 1 clamped to V, so rank 1
          // carries its full Zipf head mass P(rank=1) = ln 2 / ln V
          // (ceil(V^u) gives rank 1 measure zero — only u = 0 maps
          // there — shifting the whole head of the distribution)
          .select(col("doc_id"), concat_ws(" ",
            transform(sequence(lit(1), col("nw")), i =>
              concat(lit("w"), least(floor(pow(lit(v.toDouble),
                pmod(hash(col("doc_id"), i), lit(1000000))
                  .cast("double") / 1000000.0)).cast("long") + 1,
                lit(v.toLong)))))
            .as("text"))
          .write.mode("overwrite").parquet(out)
      }
      Seq("fixture" -> base, s"zipf(V=$v)" -> dir).foreach { case (tag, d) =>
        val r = SparkEntry.queries("dedup_prefix_filter_stats")(spark, d)
          .collect()(0)
        graft.core.Barrier.releaseAll(spark)
        val (nPoss, nCand) = (r.getLong(1), r.getLong(5))
        println(f"[zipf] $tag%-14s n_docs=${r.getLong(0)}%-6d " +
          f"n_sets=${r.getLong(2)}%-6d n_shingle_rows=${r.getLong(3)}%-9d " +
          f"n_prefix_rows=${r.getLong(4)}%-8d n_candidates=$nCand%-9d " +
          f"n_pairs=${r.getLong(6)}%-5d " +
          f"cand_ratio=${nCand.toDouble / math.max(nPoss, 1)}%.6f")
        // the containment twin under the same two vocabularies: its
        // B-side full index makes candidate volume MORE df-sensitive,
        // so the Zipf reading matters even more than the Jaccard one
        val c = SparkEntry.queries("dedup_containment_stats")(spark, d)
          .collect()(0)
        graft.core.Barrier.releaseAll(spark)
        val dPoss = c.getLong(0) * (c.getLong(0) - 1)
        println(f"[zipf] $tag%-14s containment: n_sets=${c.getLong(0)}%-6d " +
          f"n_prefix_rows=${c.getLong(2)}%-8d " +
          f"n_candidates=${c.getLong(3)}%-9d " +
          f"n_set_pairs=${c.getLong(4)}%-5d " +
          f"cand_ratio=${c.getLong(3).toDouble / math.max(dPoss, 1)}%.6f")
      }
      spark.stop()
      return
    }
    val factors = args.lift(1).getOrElse("1,2,4").split(",").map(_.trim.toInt)
    // optional 3rd arg: comma-separated query filter for targeted re-runs
    val only = args.lift(2).map(_.split(",").toSet)
    val toRun = queries.filter(q => only.forall(_.contains(q)))
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // prefix-sum bucket-count override for the flat-across-bucket-counts
    // reading (SCALING.md): the output is bucket-count invariant, so two
    // counts must time the same at the same k
    sys.env.get("SPARK_GRAFT_PREFIX_BUCKETS")
      .foreach(spark.conf.set("spark.graft.prefixSumBuckets", _))
    // semantic-dedup blocking granularity: the published method scales
    // C ≈ √N, and a scale run must supply it or the fixed fixture C
    // degenerates the within-cluster pair join toward all-pairs
    sys.env.get("SPARK_GRAFT_SEMANTIC_C")
      .foreach(spark.conf.set("spark.graft.semanticCentroids", _))
    // kNN-graph signature width: bits ~ log2(N) keeps LSH bucket
    // occupancy (and so the candidate join) flat as the corpus scales
    sys.env.get("SPARK_GRAFT_KNN_BITS")
      .foreach(spark.conf.set("spark.graft.knnLshBits", _))
    // IVF inverted-list count: C ≈ √N keeps expected list length √N so
    // the probed-list scan stays output-bounded (oracle pins default 16)
    sys.env.get("SPARK_GRAFT_IVF_C")
      .foreach(spark.conf.set("spark.graft.ivfCentroids", _))
    spark.read.parquet(s"$base/lineitem.parquet").queryExecution.toRdd.count()

    factors.foreach { k =>
      // the BASE is part of the dir name: the harness reuses an existing
      // dir without re-materializing, and a bare `_16x` dir built from
      // sf0.01 once masqueraded as sf0.1×16 (10× less data than the
      // reading claimed — caught in r9 when a same-session 64× ran 40×
      // the rows of "16×"). Never let two bases share a dir again.
      val dir = scaleDir(base, k)
      Tables.names.foreach { n =>
        val out = s"$dir/$n.parquet"
        if (!new java.io.File(out).exists())
          scaled(spark, base, n, k).write.mode("overwrite").parquet(out)
      }
      // mm content diversity scales WITH the corpus (VERDICT r15 #2):
      // classes ∝ k holds expected clones-per-class constant. Under the
      // old fixed 100-class cap a k× corpus had k× members per class, so
      // the phash-neardup sweep row grew with the fixture's k² clone
      // density instead of the operator's cost (64× measured 2.27 B
      // output pairs purely from the cap). 100·k matches the default at
      // k=1, so 1× rows stay comparable to the oracle-gated runs.
      spark.conf.set("spark.graft.mmClasses", (100L * k).toString)
      // ...and the sampled band-audit keeps a CONSTANT kept-class count
      // as classes grow ∝ k (mod 2·k ≈ 50 extended classes kept; the
      // default mod 2 is the oracle pin, matched at k=1)
      spark.conf.set("spark.graft.bandAuditMod", (2L * k).toString)
      toRun.foreach { q =>
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count()
          val t = (System.nanoTime() - t0) / 1e9
          // release after the timer, every run: the in-sequence reading
          // must measure the query, not accumulated barrier storage
          graft.core.Barrier.releaseAll(spark)
          t
        }
        println(f"[scale] k=$k%-3d $q%-26s ${times.min}%7.3fs")
      }
    }
    spark.stop()
  }
}
