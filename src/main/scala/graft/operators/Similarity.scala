package graft.operators

import org.apache.spark.sql.functions._
import graft.functions.Vectors
import graft.core.Knobs
import graft.core.Barrier.BarrierOps

/** Similarity search over the `embeddings` fixture (64-d float vectors).
  *
  * - `sim_topk_bruteforce`: exact cosine top-k for a small query set against
  *   the full corpus. The query side is tiny → `broadcast()` it; the scan
  *   side streams once, no shuffle of the corpus. This is the correctness
  *   baseline.
  * - `sim_pairs_threshold`: all pairs with cosine ≥ τ *within a label
  *   block* — the blocked-join shape (never an unconditioned cross join).
  * - `sim_lsh_ann`: the 100 TB path — random-hyperplane signatures bucket
  *   the corpus (shuffle on the signature), candidates meet only within a
  *   bucket, top-k per query from candidates. Recall vs brute force is
  *   pinned by a ScalaTest, not an oracle (signature derivation is
  *   Spark-side hashing).
  *
  * Cosine math is double-accumulated native HOFs (graft.functions.Vectors)
  * — stays in codegen, no UDF.
  */
object Similarity extends OpModule {

  private val K = 5

  /** The ±1 JL projection matrix for `sim_jl_recall`: sign(d, b) = +1
    * iff the first hex digit of md5("jl|d|b") is even — computed here
    * once (1024 cells), re-derived by the oracle from SQL md5 so the
    * gate pins the derivation itself, same discipline as the LSH
    * hyperplane matrix. */
  private lazy val jlSigns: Seq[(Int, Int, Long)] =
    for (d <- 0 until 64; b <- 0 until 16) yield {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl|$d|$b".getBytes("UTF-8"))
      val hex = (md(0) >> 4) & 0xF
      (d, b, if (hex % 2 == 0) 1L else -1L)
    }

  /** round(1e6·ln(64/V)) for V = 1..64 — the linear-counting log table
    * for `sim_hyperball` (V = zero registers of an m=64 HLL sketch).
    * A spec CONSTANT like alpha_64, not runtime math: tabulating the
    * only 63 possible logs keeps the estimate transcendental-free and
    * bit-identical in both engines, where the quantized-log2 chord
    * (piecewise-linear, always ≤ log2) inflated small linear counts by
    * up to ~30%. */
  private val hllLnLut: Seq[Long] = Seq(
    4158883L, 3465736L, 3060271L, 2772589L, 2549445L, 2367124L, 2212973L,
    2079442L, 1961659L, 1856298L, 1760988L, 1673976L, 1593934L, 1519826L,
    1450833L, 1386294L, 1325670L, 1268511L, 1214444L, 1163151L, 1114361L,
    1067841L, 1023389L, 980829L, 940007L, 900787L, 863046L, 826679L,
    791587L, 757686L, 724896L, 693147L, 662376L, 632523L, 603535L,
    575364L, 547965L, 521297L, 495321L, 470004L, 445311L, 421213L,
    397683L, 374693L, 352221L, 330242L, 308735L, 287682L, 267063L,
    246860L, 227057L, 207639L, 188591L, 169899L, 151550L, 133531L,
    115832L, 98440L, 81346L, 64539L, 48009L, 31749L, 15748L, 0L)
  /** The kNN-graph fanout (K) — shared with the streaming maintenance
    * tier so the maintained lists rank to the same depth as the batch
    * graph. */
  private[graft] def knnK: Int = K
  /** Minimum surviving degree for [[queries sim_kcore]]'s peel. k=2
    * (the cycle core: peeling strips tree-like periphery) — k=3 on a
    * K=5 kNN graph sits at the core-collapse threshold, where LSH
    * candidate recall decides between a 60% core and an empty one;
    * the 2-core is robustly non-degenerate across candidate quality. */
  private val KcoreK = 2
  /** Peel-round cap for sim_kcore. The ORACLE unrolls exactly this many
    * rounds and the ENGINE refuses (loudly) to pass the cap, so on any
    * corpus the engine accepts, the unrolled oracle has provably reached
    * the same fixpoint (peeling is idempotent past convergence). 2-core
    * peeling strips pendant CHAINS one node per round, so rounds grow
    * with the longest pendant path, not log N — sf0.1 already needs 11;
    * 24 carries comfortable margin and stays a trivial CTE chain. */
  private val KcoreRounds = 24
  /** Exemplar count for sample_kcenter_diverse — constant rounds, each a
    * full (narrow) corpus pass, so k is a report size, not a scale knob;
    * the oracle unrolls exactly this many pick/update pairs. */
  private val KcenterPicks = 8
  /** Beam geometry for `sim_graph_search` — serving constants (HNSW's
    * ef/level-0 analog), not scale knobs: walk cost is rounds × beam ×
    * graph degree regardless of corpus size. */
  private val BeamWidth = 8
  private val BeamRounds = 4
  /** Layered entry selection (`sim_graph_search_layered`) — the HNSW
    * upper-layer story: a GEOMETRIC ladder of deterministic vertex
    * samples (1-in-16, then 1-in-256 — HNSW samples levels at ~1/M
    * with M∈[5,48]; r13 added the third level the r12 two-level walk
    * lacked for 100× corpora), each walked near-greedily (beam 2, the
    * published greedy descent plus one tie-guard) for 3 rounds, each
    * layer seeding the next from its per-query best. Serving constants,
    * not scale knobs — same rounds × width × degree algebra as the
    * flat walk. */
  private val UpperSampleMod = 16
  private val UpperBeamWidth = 2
  private val UpperRounds = 3

  /** Signature width for EVERY hyperplane-LSH consumer (`sim_lsh_ann`,
    * `dedup_embedding_lsh`, the whole kNN-graph family): the
    * [[graft.core.Knobs.LshBits]] override if a run sets one, else DERIVED
    * from the corpus count via [[Vectors.occupancyBits]] — bits ≈
    * log₂(N/8), so expected bucket occupancy (and with it the candidate
    * join's volume) stays flat as the corpus grows, with NO knob to
    * remember. The count is one cheap metadata-light job over the id
    * column; at the fixtures (N=500/2000) the derivation lands on the
    * oracle-pinned widths, so the DuckDB gate (whose `oraLshSigs` CTE
    * runs the same integer search over `generate_series`) pins the
    * derived path itself, at every SF. The oracle gate never sets the
    * override.
    */
  private[graft] def lshBits(s: org.apache.spark.sql.SparkSession,
      emb: org.apache.spark.sql.DataFrame): Int =
    Knobs.positiveInt(s, Knobs.LshBits).getOrElse(
      Vectors.occupancyBits(emb.select(col("vec_id")).count()))

  def queries: Map[String, Q] =
    baseQueries ++ queriesIvf ++ queriesSq ++ queriesKmeans ++ queriesPca

  private val baseQueries: Map[String, Q] = Map(
    "sim_topk_bruteforce" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.plans.GraftFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val scored = emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("nv"))
        .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          expr("cosine_sim(qv, nv)").as("sim")) // native codegen'd expression
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))
    }),
    // FAISS-style RANGE search — the API member next to top-k: every
    // neighbor within a similarity radius, result size data-dependent.
    // Same 100 TB shape as the brute-force baseline (tiny query side
    // broadcasts, corpus streams ONCE) but cheaper: no window, no rank,
    // no exchange anywhere — the threshold filter is applied inside the
    // scan's codegen stage. The cosine boundary is the same predicate
    // device sim_pairs_threshold already pins under the gate.
    "sim_range_search" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
        .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .filter(expr("cosine_sim(qv, nv)") >= 0.3)
        .select(col("query_id"), col("neighbor_id"))
    }),
    "sim_pairs_threshold" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      val a = emb.select(col("vec_id").as("vec_a"), col("label").as("lab_a"),
        col("embedding").as("ea"))
      val b = emb.select(col("vec_id").as("vec_b"), col("label").as("lab_b"),
        col("embedding").as("eb"))
      a.join(b, col("lab_a") === col("lab_b") && col("vec_a") < col("vec_b"))
        .filter(expr("cosine_sim(ea, eb)") >= 0.3)
        .select(col("vec_a"), col("vec_b"))
    }),
    // embedding-cosine near-dup as a DEDUP op: keep-first canonicalization
    // over the thresholded pair relation (the cosine twin of
    // dedup_keep_canonical). NOTE: this variant blocks candidate pairs by
    // label, `dedup_embedding_lsh` below by hyperplane bucket — same
    // canonicalization semantics, deliberately different candidate
    // generation (their kept-sets differ where blocking differs; each is
    // pinned exactly by its own DuckDB oracle).
    "dedup_embedding_canonical" -> ((s, dir) => {
      val pairs = baseQueries("sim_pairs_threshold")(s, dir)
      val dropped = pairs.select(col("vec_b").as("vec_id")).distinct()
      t(s, dir, "embeddings").select(col("vec_id"), col("label"))
        .join(dropped, Seq("vec_id"), "left_anti")
    }),
    // The 100 TB embedding-dedup path: candidate pairs meet only inside
    // an LSH bucket (4 tables × corpus-derived-width hyperplane
    // signatures — the same signature pass as sim_lsh_ann),
    // cosine-verified, then one anti-join drops every vector that
    // near-dups an earlier one. The corpus is shuffled on the signature,
    // never cross-joined; the bucket-key repartition before the
    // checkpoint keeps the verify join's parallelism independent of the
    // signature aggregate's shuffle size. Width tracks log₂N (lshBits),
    // so bucket occupancy — and the verify join — stays flat at scale.
    "dedup_embedding_lsh" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      val sigs = Vectors.lshSignaturesAgg(emb, "vec_id", "embedding",
        lshBits(s, emb), 4)
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      val withSigs = emb.select(col("vec_id"), col("embedding")).join(sigs, "vec_id")
        .select(col("vec_id"), col("embedding"), explode(col("sigs")).as("sig"))
        .repartition(nPart, col("sig"))
        .barrier()
      val a = withSigs.select(col("sig").as("sig_a"), col("vec_id").as("vec_a"),
        col("embedding").as("ea"))
      val b = withSigs.select(col("sig").as("sig_b"), col("vec_id").as("vec_b"),
        col("embedding").as("eb"))
      // verify BEFORE deduplicating the multi-table candidates: the 4
      // tables produce up to 4 copies of a pair, and dropDuplicates-first
      // would shuffle the full embedding arrays (~1 KB/row) to dedup
      // them. Cosine is a codegen'd ~d-mult loop — re-verifying each copy
      // costs far less than shuffling its vectors, and the distinct then
      // moves two longs per row. Result-identical (cosine is a pure
      // function of the pair). Measured 31s -> materially less at 16x.
      val pairs = a.join(b,
          col("sig_a") === col("sig_b") && col("vec_a") < col("vec_b"))
        .filter(expr("cosine_sim(ea, eb)") >= 0.3)
        .select(col("vec_a"), col("vec_b")).distinct()
      val dropped = pairs.select(col("vec_b").as("vec_id")).distinct()
      emb.select(col("vec_id"), col("label"))
        .join(dropped, Seq("vec_id"), "left_anti")
    }),
    "sim_lsh_ann" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.plans.GraftFunctions.register(s)
      // Multi-table LSH: 4 independent hyperplane tables at the
      // corpus-derived width (lshBits ≈ log₂(N/8)); candidate if ANY
      // table bucket matches (union via explode + distinct). At corpus
      // scale the exploded (vec, sig) relation shuffles on sig — never
      // an all-pairs join. Signatures come from ONE codegen'd
      // posexplode + (4 × bits) sum-aggregates pass (the array-lambda
      // form runs interpreted per bit and re-reads the vector per bit).
      val emb = t(s, dir, "embeddings")
      val sigs = Vectors.lshSignaturesAgg(emb, "vec_id", "embedding",
        lshBits(s, emb), 4)
      val withSigs = emb.join(sigs, "vec_id").barrier()
      val q = withSigs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          explode(col("sigs")).as("qsig"))
      val cand = withSigs.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("nv"), explode(col("sigs")).as("sig"))
        .join(broadcast(q),
          col("sig") === col("qsig") && col("query_id") =!= col("neighbor_id"))
        // cosine BEFORE deduplicating the multi-table hits: a pair can
        // match in up to 4 tables, and dedup-first would shuffle the
        // embedding arrays; scoring each copy is a cheap codegen'd loop
        // and the distinct then moves (long, long, double) rows only.
        // sim is a pure function of the pair, so distinct keeps one copy.
        .select(col("query_id"), col("neighbor_id"),
          expr("cosine_sim(qv, nv)").as("sim"))
        .distinct()
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id").asc)
      cand.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))
    }),
    // Full kNN-graph construction — top-k neighbor lists for EVERY
    // vector, the primitive behind graph-based dedup/cluster passes and
    // kNN-classifier label propagation. Unlike sim_lsh_ann (8 broadcast
    // queries), BOTH sides are the corpus, so candidates meet through
    // the multi-table LSH bucket shuffle (repartition on sig), exactly
    // the dedup_embedding_lsh join geometry: never all-pairs, candidate
    // volume bounded by bucket occupancy. Verify-then-distinct keeps the
    // embedding arrays off the dedup shuffle (the sim_lsh_ann lesson),
    // and the per-source top-k is a WindowGroupLimit rank — partial
    // limits run before the vec_id exchange.
    "sim_knn_graph" -> ((s, dir) =>
      knnGraph(s, dir)
        .select(col("vec_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))),
    // Graph clustering of the embedding space — connected components over
    // the τ-pruned kNN graph (the "cluster the corpus, then inspect each
    // cluster" workflow an embedding-curation pass runs). Reuses the
    // LARGE-STAR/SMALL-STAR edge-rewrite fixpoint from the dedup family
    // verbatim: O(log diameter) rounds over the EDGE relation only (≤ k·N
    // thin rows), per-round lineage cut, loud round-cap failure —
    // singleton vectors never enter the loop and label themselves via
    // one left join at the end. Same 100 TB shape as dedup_cc_clusters.
    "sim_graph_components" -> ((s, dir) => {
      val edges = knnGraph(s, dir).filter(col("sim") >= 0.3)
        .select(col("vec_id").as("doc_a"), col("neighbor_id").as("doc_b"))
      val (labels, _) = Dedup.ccLabelsFromEdges(edges)
      t(s, dir, "embeddings").select(col("vec_id"))
        .join(labels.select(col("doc_id").as("vec_id"),
          col("cluster_id").as("m_lbl")), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("m_lbl"), col("vec_id")).as("component_id"))
    }),
    // k-core decomposition of the kNN graph — the density filter next to
    // components/triangles/PageRank: iteratively peel nodes with fewer
    // than k surviving neighbors until fixpoint; what remains (the
    // 2-core here) is the corpus's densely-interconnected backbone —
    // embedding-curation uses it to separate redundant/clustered mass
    // (candidates for aggressive dedup or downsampling) from sparse
    // tree-like frontier vectors. Scale shape: the loop touches ONLY the thin
    // symmetric (x, y) edge relation (≤ 2kN rows, barriered once) joined
    // per round against the shrinking survivor set — embeddings never
    // re-enter after graph construction; each round is two hash joins +
    // one map-side-combined degree count, exactly the Pregel-free
    // distributed k-core recipe. Convergence is data-dependent, so the
    // loop runs to FIXPOINT with a loud round cap (the dedup_cc
    // discipline) and the oracle unrolls exactly the cap's rounds —
    // see KcoreRounds for why that makes the two provably agree.
    // Greedy beam search OVER the kNN graph — the serving pattern of
    // graph-based ANN (the layer-0 walk of HNSW/NSW, Malkov & Yashunin):
    // start every query at a fixed entry point (the graph's minimum
    // vec_id — the single-entry discipline), then BeamRounds times
    // expand the beam's neighbors, score them against the query, and
    // keep the BeamWidth best of (frontier ∪ new) — monotone improving,
    // so a stalled beam is a converged beam. Final answer = top-10 of
    // everything visited (self hits excluded, the sim_lsh_ann
    // convention). Scale shape: after the shared kNN-graph build, every
    // round touches only (8 queries × beam) thin rows joined to the
    // k-bounded edge relation — the corpus is never rescanned; scoring
    // joins the ≤ 8·beam·k candidate ids to the embedding roster and
    // broadcasts the 8-row query panel. Rounds and beam are constants:
    // the walk's cost is independent of corpus size once the graph
    // exists, which is the entire point of graph ANN at serving time.
    "sim_graph_search" -> ((s, dir) => beamSearch(s, dir, BeamWidth)),
    // HNSW-layer entry selection — see [[layeredSearch]]
    "sim_graph_search_layered" ->
      ((s, dir) => layeredSearch(s, dir, BeamWidth)),
    // The layered walk's report card: recall@10 vs the in-query brute
    // truth for flat and layered at BOTH widths — the measurement behind
    // the HNSW claim that entry selection buys recall at equal beam (or
    // equal recall at lower width). Truth is computed once and joined by
    // all four walks (the recall_vs_beam device).
    "sim_graph_layered_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.plans.GraftFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("s").desc, col("v").asc)
      val brute = emb.select(col("vec_id").as("v"), col("embedding")
          .as("nv"))
        .join(broadcast(q), col("query_id") =!= col("v"))
        .select(col("query_id"), col("v"),
          expr("cosine_sim(qv, nv)").as("s"))
        .withColumn("rk", row_number().over(wq)).filter(col("rk") <= 10)
        .select(col("query_id"), col("v").as("neighbor_id"))
        .barrier() // one truth pass joined by every walk's rows
      def graded(variant: String, b: Int,
          walk: org.apache.spark.sql.DataFrame) =
        walk.join(brute, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(variant).as("variant"), lit(b.toLong).as("beam"),
            col("n_hits"),
            expr("(n_hits * 1000000) DIV 80").as("recall_ppm"))
      Seq(
        graded("flat", BeamWidth, beamSearch(s, dir, BeamWidth)),
        graded("layered", BeamWidth, layeredSearch(s, dir, BeamWidth)),
        graded("flat", 2, beamSearch(s, dir, 2)),
        graded("layered", 2, layeredSearch(s, dir, 2)))
        .reduce(_ unionByName _)
    }),
    // The evaluation the beam knob answers to — recall@10 vs brute
    // force per beam width (the HNSW literature's ef/recall curve, the
    // graph twin of sim_recall_report): a starved beam (2) prunes the
    // frontier before the true neighborhood is reached; the serving
    // width recovers it. Brute-force truth is computed IN-QUERY (the
    // sim_topk_bruteforce device at k=10) — the report carries its own
    // reference, the CMS/HLL twin pattern. Everything rides the shared
    // graph build; per beam the walk adds constant-size rounds.
    "sim_graph_recall_vs_beam" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.plans.GraftFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("s").desc, col("v").asc)
      val brute = emb.select(col("vec_id").as("v"), col("embedding")
          .as("nv"))
        .join(broadcast(q), col("query_id") =!= col("v"))
        .select(col("query_id"), col("v"),
          expr("cosine_sim(qv, nv)").as("s"))
        .withColumn("rk", row_number().over(wq)).filter(col("rk") <= 10)
        .select(col("query_id"), col("v").as("neighbor_id"))
        .barrier() // one truth pass joined by every beam row
      Seq(2, BeamWidth).map { b =>
        beamSearch(s, dir, b)
          .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(b.toLong).as("beam"), col("n_hits"),
            expr("(n_hits * 1000000) DIV 80").as("recall_ppm"))
      }.reduce(_ unionByName _)
    }),
    "sim_kcore" -> ((s, dir) => {
      val ke = knnGraph(s, dir).filter(col("sim") >= 0.3)
        .select(col("vec_id").as("x"), col("neighbor_id").as("y"))
      val edges = ke
        .union(ke.select(col("y").as("x"), col("x").as("y")))
        .distinct().barrier() // read by every peel round
      def degreesOver(surv: org.apache.spark.sql.DataFrame) =
        edges.join(surv, "x")
          .join(surv.withColumnRenamed("x", "y"), "y")
          .groupBy(col("x")).agg(count(lit(1)).as("c"))
      var surv = edges.select(col("x")).distinct().barrier()
      var n = surv.count()
      var converged = false
      var rounds = 0
      while (!converged && rounds < KcoreRounds) {
        val next = degreesOver(surv)
          .filter(col("c") >= KcoreK).select(col("x")).barrier()
        val m = next.count()
        converged = m == n
        surv = next; n = m; rounds += 1
      }
      require(converged, s"k-core peeling did not converge in $rounds " +
        "rounds — raise the cap deliberately, don't truncate silently")
      val coreDeg = degreesOver(surv)
        .withColumnRenamed("x", "vec_id")
      t(s, dir, "embeddings").select(col("vec_id"))
        .join(coreDeg, Seq("vec_id"), "left")
        .select(col("vec_id"), col("c").isNotNull.as("in_core"),
          coalesce(col("c"), lit(0L)).as("core_degree"))
    }),
    // PageRank over the kNN graph — centrality of each vector in the
    // embedding space (prototypicality ranking: high-rank vectors sit in
    // dense well-connected neighborhoods, the complement of
    // sim_centroid_outliers). Two damped power-iteration rounds in exact
    // INTEGER micro units (r' = 0.15 + 0.85·Σ r_u/out(u), each division a
    // truncating DIV), so both engines agree bit-for-bit — the
    // sim_kmeans_step fixed-point device applied to graph iteration.
    // Scale shape: each round is one thin (src, dst, od) edge-relation
    // join against the O(N) rank relation + a dst-keyed integer sum —
    // never the embeddings; edge degrees bounded by k. The edge relation
    // is barriered once and reused by both rounds; kNN graphs have no
    // dangling nodes (every vector emits ≤ k edges; isolated vectors
    // contribute nothing and settle at the 0.15 floor via the left join).
    "sim_pagerank" -> ((s, dir) => {
      val edges = knnGraph(s, dir)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
      val e = edges.join(deg, "src").barrier() // read by both rounds
      val nodes = t(s, dir, "embeddings").select(col("vec_id"))
        .barrier() // read by r0 and both rounds' left joins
      def round(r: org.apache.spark.sql.DataFrame) = {
        val contrib = e
          .join(r.withColumnRenamed("vec_id", "src"), "src")
          .select(col("dst"), expr("pr DIV od").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        nodes
          .join(contrib.withColumnRenamed("dst", "vec_id"),
            Seq("vec_id"), "left")
          .select(col("vec_id"),
            expr("150000 + (85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100")
              .as("pr"))
      }
      val r0 = nodes.select(col("vec_id"), lit(1000000L).as("pr"))
      round(round(r0)).select(col("vec_id"), col("pr").as("pr_micro"))
    }),
    // HyperBall / ANF (Palmer et al. KDD'02; Boldi–Vigna WWW'11 — the
    // algorithm behind the Facebook four-degrees measurement): the
    // NEIGHBORHOOD FUNCTION N(t) = #(v,u) pairs with dist(v→u) ≤ t,
    // which exact BFS can only produce by running |V| traversals. Each
    // node carries an m=64-register HLL sketch of its ball; one round
    // per t max-merges every node's out-neighbors' sketches into its
    // own — set union costs a register MAX, so the whole round is ONE
    // edge join + a (vec_id, j) max-aggregate over a |V|·m-bounded
    // relation. Registers are md5-deterministic (j = low 6 gfp bits,
    // rho = 35 − bin-length of the next 34 bits), the harmonic sum is
    // EXACT integers (2^(35−rho) numerators), and the estimate is
    // alpha_64 = 709/1000 raw HLL with the published linear-counting
    // small-range branch (E < 2.5m, zero registers present) computed
    // via the quantized-log2 device scaled by the ln2 literal — every
    // arithmetic step bit-identical in both engines, so the ESTIMATES
    // sit under the oracle gate, not just the exact side. The exact
    // N(t) twin (t rounds of distinct pair expansion) is the
    // sample-scale verification layer a production run drops — at
    // 100 TB only the register relation survives (|V|·64 rows, one
    // thin join per hop), which is precisely why HyperBall exists.
    // Report: one row per t ∈ {1,2,3} with exact, estimate, err_ppm,
    // and a ±25% verdict.
    "sim_hyperball" -> ((s, dir) => {
      val edges = knnGraph(s, dir)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
        .barrier() // read by 3 register rounds AND 2 exact expansions
      val nodes = t(s, dir, "embeddings").select(col("vec_id"))
      val r0 = nodes.select(col("vec_id"),
        conv(substring(md5(concat(lit("hb|"),
          col("vec_id").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("gfp"))
        .select(col("vec_id"),
          // nonneg bit slices via DIV/% — the / // % forms are the ones
          // both engines share (gfp < 2^60, so all slices stay nonneg)
          expr("gfp % 64").as("j"),
          expr("35 - length(bin((gfp DIV 64) % 17179869184))").as("rho"))
      def mergeRound(regs: org.apache.spark.sql.DataFrame) =
        regs.unionByName(
          edges.join(regs.withColumnRenamed("vec_id", "dst"), "dst")
            .select(col("src").as("vec_id"), col("j"), col("rho")))
          .groupBy(col("vec_id"), col("j"))
          .agg(max(col("rho")).as("rho"))
          .barrier() // next round AND this t's estimate read it
      // per-node estimate in MILLI units: exact-integer harmonic sum,
      // raw-vs-linear-counting branch, tabulated LC logs (hllLnLut)
      val lut = hllLnLut.mkString("array(", "L, ", "L)")
      def estimate(regs: org.apache.spark.sql.DataFrame, tHop: Int) =
        regs.groupBy(col("vec_id"))
          .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 35 - rho)"))
            .as("z_hit"), count(lit(1)).as("m_nz"))
          // zero registers each contribute 2^0 = 2^35/2^35 to the
          // harmonic mean — omit them and Z collapses, inflating E
          .withColumn("z", expr(
            "z_hit + (64 - m_nz) * shiftleft(CAST(1 AS BIGINT), 35)"))
          .select(expr(
            "CASE WHEN (2904064 * shiftleft(CAST(1 AS BIGINT), 35)) " +
              "DIV z < 160000 AND m_nz < 64 THEN " +
              s"(64 * element_at($lut, CAST(64 - m_nz AS INT))) DIV 1000 " +
              "ELSE (2904064 * shiftleft(CAST(1 AS BIGINT), 35)) " +
              "DIV z END").as("e_milli"))
          .agg(expr("sum(e_milli) DIV 1000").as("est_pairs"))
          .select(lit(tHop).cast("long").as("t"), col("est_pairs"))
      // exact twin: distinct (v,u) reachability within t hops
      val p1 = nodes.select(col("vec_id").as("v"), col("vec_id").as("u"))
        .unionByName(edges.select(col("src").as("v"), col("dst").as("u")))
        .distinct().barrier() // read by count AND the next expansion
      def expand(p: org.apache.spark.sql.DataFrame) =
        p.unionByName(
          p.join(edges.withColumnRenamed("src", "u"), "u")
            .select(col("v"), col("dst").as("u")))
          .distinct().barrier()
      val p2 = expand(p1)
      val p3 = expand(p2)
      val exact = Seq(1 -> p1, 2 -> p2, 3 -> p3).map { case (tHop, p) =>
        p.agg(count(lit(1)).as("exact_pairs"))
          .select(lit(tHop).cast("long").as("t"), col("exact_pairs"))
      }.reduce(_ unionByName _)
      val r1 = mergeRound(r0)
      val r2 = mergeRound(r1)
      val r3 = mergeRound(r2)
      val est = Seq(estimate(r1, 1), estimate(r2, 2), estimate(r3, 3))
        .reduce(_ unionByName _)
      exact.join(est, "t")
        .select(col("t"), col("exact_pairs"), col("est_pairs"),
          // sign-symmetric DIV (the shared fixed-point device): Spark
          // DIV truncates toward zero, DuckDB // floors — they diverge
          // on negative numerators, so divide the |diff| and re-sign
          expr("CASE WHEN est_pairs >= exact_pairs THEN " +
            "((est_pairs - exact_pairs) * 1000000) DIV exact_pairs " +
            "ELSE -(((exact_pairs - est_pairs) * 1000000) " +
            "DIV exact_pairs) END").as("err_ppm"),
          expr("abs((est_pairs - exact_pairs) * 1000000) " +
            "DIV exact_pairs <= 250000").as("within_tol"))
    }),
    // Per-dimension embedding health report — the corpus_health_report of
    // the vector space: count, micro-unit-exact mean, zero rate (dead
    // dims), min/max (scale drift), and a milli-unit sum of squares
    // (spread) per dimension. The monitoring pass an embedding pipeline
    // runs before trusting an index build. Exact integers up to one IEEE
    // division (the microStep device); one bounded posexplode feeding a
    // d-cell HashAggregate — map-side combinable, output is O(dims).
    "sim_dim_stats" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim").cast("long").as("dim"),
          col("x").cast("double").as("x"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(x * 1000000D) AS BIGINT)")).as("sum_micro"),
          sum(expr("CASE WHEN x = 0D THEN 1L ELSE 0L END")).as("n_zero"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          sum(expr("CAST(round(x * 1000D) AS BIGINT) * " +
            "CAST(round(x * 1000D) AS BIGINT)")).as("sq_milli_sum"))
        .select(col("dim"), col("n"), col("sum_micro"),
          (col("sum_micro").cast("double") /
            (col("n").cast("double") * lit(1000000.0))).as("mean_x"),
          col("n_zero"), col("min_x"), col("max_x"), col("sq_milli_sum"))),
    // kNN-classifier label propagation — the semi-supervised labeling
    // workflow: a stable md5 hash split marks 50% of vectors as labeled
    // SEEDS, every vector takes the majority label among its kNN
    // neighbors that are seeds (unlabeled neighbors don't vote; ties →
    // smallest label; no seed neighbor → -1). Scale shape: votes ride the
    // thin (vec, neighbor) edge relation joined to the seed labels — the
    // embeddings never re-enter after graph construction; the majority
    // pick is a row_number()=1 cut (WindowGroupLimit: per-partition
    // head BEFORE the vec_id exchange), and the final attach is one
    // left join on the O(N) node relation.
    "sim_label_prop" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def bucket(c: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(lit("lp|"), c.cast("string"))), 1, 6),
          16, 10).cast("long") % 100
      val edges = knnGraph(s, dir)
        .select(col("vec_id"), col("neighbor_id"))
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(bucket(col("vec_id")) < 50)
        .select(col("vec_id").as("neighbor_id"), col("label").as("n_label"))
      val votes = edges.join(seeds, "neighbor_id")
        .groupBy(col("vec_id"), col("n_label"))
        .agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("votes").desc, col("n_label").asc)
      val pred = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("n_label"), col("votes"))
      emb.select(col("vec_id"), col("label"))
        .join(pred, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"),
          coalesce(col("n_label"), lit(-1)).as("pred_label"),
          coalesce(col("votes"), lit(0L)).as("votes"),
          (bucket(col("vec_id")) < 50).as("is_seed"))
    }),
    // Hard-negative mining — the contrastive-training data op: for every
    // anchor vector, its 3 most similar neighbors with a DIFFERENT label
    // (the pairs a triplet/contrastive loss learns most from). Same LSH
    // candidate relation as the kNN graph, so candidates never go
    // all-pairs; labels attach to the thin (long, long, double) candidate
    // rows by id join (embeddings never ride the ranking shuffle), and
    // the rank≤3 literal cut compiles to WindowGroupLimit.
    "sim_hard_negatives" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val labels = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val cand = knnCandidates(s, dir)
        .join(labels.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label")), "neighbor_id")
        .join(labels.select(col("vec_id"),
          col("label").as("a_label")), "vec_id")
        .filter(col("n_label") =!= col("a_label"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("neighbor_id").asc)
      cand.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("vec_id"), col("a_label"),
          col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("n_label"))
    }),
    // ANN recall report — the index-evaluation pass a vector pipeline
    // runs before trusting an approximate index: per-query recall@K of
    // the IVF and multi-table-LSH indexes against the exact brute-force
    // top-K. The report itself rides only the (query_id, neighbor_id)
    // id relations the three index queries emit — integer set
    // intersection, so the verdict is exact regardless of float ranking
    // internals — and recall = hits/n_true is a single int/int IEEE
    // division both engines agree on. Scale shape: the truth set is
    // |queries|·K rows (the query panel is small by construction — this
    // is an evaluation harness, not a serving path), each hit count one
    // thin semi-join-shaped inner join + count; the expensive index
    // scans are the already-audited sim_* plans, reused verbatim.
    "sim_recall_report" -> ((s, dir) =>
      recallReport(queries("sim_topk_bruteforce")(s, dir), Seq(
        "ivf" -> queries("sim_ivf_ann")(s, dir),
        "ivf_trained" -> queries("sim_ivf_ann_trained")(s, dir),
        "lsh" -> queries("sim_lsh_ann")(s, dir)))),
    // the quantized half of the index family under the same evaluation
    // harness: int8 scalar quantization and 8-byte product quantization
    // recall vs the exact truth — the compression-loss report a
    // deployment reads before choosing a code size
    "sim_recall_report_quantized" -> ((s, dir) =>
      recallReport(queries("sim_topk_bruteforce")(s, dir), Seq(
        "pq" -> queries("sim_pq_ann")(s, dir),
        "sq" -> queries("sim_sq_ann")(s, dir)))),
    // Matryoshka-style truncation report — the MRL evaluation a
    // dimensionality decision reads: recall@K of brute-force search
    // over PREFIX dimensions (8/16/32) vs the full-64-dim truth. Each
    // truncated scan is the audited brute-force shape over a narrower
    // vector (slice happens in the scan's codegen projection — less
    // data moves, same plan); the report tail is the shared integer
    // recall harness.
    "sim_matryoshka_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.plans.GraftFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      def topkAt(d: Int): org.apache.spark.sql.DataFrame = {
        val e = emb.select(col("vec_id"),
          expr(s"slice(embedding, 1, $d)").as("embedding"))
        val q = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val scored = e.select(col("vec_id").as("neighbor_id"),
            col("embedding").as("nv"))
          .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            expr("cosine_sim(qv, nv)").as("sim"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id").asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K)
          .select(col("query_id"), col("neighbor_id"))
      }
      recallReport(queries("sim_topk_bruteforce")(s, dir),
        Seq(8, 16, 32).map(d => s"dims_$d" -> topkAt(d)))
    }),
    // Johnson–Lindenstrauss random-projection recall — the OTHER
    // dimensionality lever beside Matryoshka truncation: project every
    // 64-d vector through a deterministic ±1 matrix (Achlioptas's
    // database-friendly JL construction — md5-derived signs, the same
    // derivation discipline as the LSH hyperplanes, re-derived by the
    // oracle from SQL md5) down to r ∈ {8, 16} and measure recall@K of
    // projected-space search vs the full-dimension truth. The matrix is
    // ONE 16×64 table whose b < 8 prefix IS the 8-d projection (the JL
    // twin of Matryoshka's prefix property), so both widths share one
    // projection pass. Coordinates are quantized to exact milli
    // integers BEFORE the signed sums, dots and norms are exact int64
    // (|p_b| ≤ 64 000 → dot ≤ 6.6e10), and the only IEEE steps are the
    // final sqrt/division — sqrt is correctly rounded by the standard,
    // so both engines rank identically with ties pinned by neighbor_id.
    // Scale shape: the projection is one posexplode + (vec, b) rollup
    // (an evaluation harness over a d×-corpus relation — a serving
    // path would fuse it like lsh_sigs); search is the audited
    // 8-query-panel brute-force shape over r-d integer vectors.
    "sim_jl_recall" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val m = jlSigns.toDF("d", "b", "s")
      val px = emb
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
        .select(col("vec_id"), col("d"),
          expr("CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)").as("xm"))
      val p = px.join(broadcast(m), "d")
        .groupBy(col("vec_id"), col("b"))
        .agg(sum(expr("s * xm")).as("pb"))
        .barrier() // read by both widths' dots AND both norms
      def jlTopk(r: Int): org.apache.spark.sql.DataFrame = {
        val pr = p.filter(col("b") < r)
        val nrm = pr.groupBy(col("vec_id"))
          .agg(sum(expr("pb * pb")).as("n2"))
        val q = pr.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("b"),
            col("pb").as("qb"))
        val dots = q.join(pr.select(col("vec_id").as("neighbor_id"),
            col("b"), col("pb")), Seq("b"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .groupBy(col("query_id"), col("neighbor_id"))
          .agg(sum(expr("qb * pb")).as("dot"))
        val scored = dots
          .join(broadcast(nrm.select(col("vec_id").as("query_id"),
            col("n2").as("nq"))), "query_id")
          .join(nrm.select(col("vec_id").as("neighbor_id"),
            col("n2").as("nn")), "neighbor_id")
          .select(col("query_id"), col("neighbor_id"), expr(
            "CAST(dot AS DOUBLE) / (sqrt(CAST(greatest(nq, 1) AS DOUBLE))" +
              " * sqrt(CAST(greatest(nn, 1) AS DOUBLE)))").as("sim"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id").asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K)
          .select(col("query_id"), col("neighbor_id"))
      }
      recallReport(queries("sim_topk_bruteforce")(s, dir),
        Seq(8, 16).map(r => s"jl_$r" -> jlTopk(r)))
    }),
    // Per-node triangle count + local clustering coefficient over the
    // kNN graph — the community-structure diagnostic next to PageRank
    // and components (dense clique-ish neighborhoods → near-duplicate
    // pockets or tight topic clusters; coefficient ~0 → hub/bridge
    // vectors). Degree-ordered triangle enumeration (Suri &
    // Vassilvitskii's MR shape): every undirected edge is oriented from
    // its lower-(degree, id) endpoint to the higher one, wedges form
    // only among a node's OUT-edges, and the closing edge is probed in
    // oriented form — each triangle materializes exactly once at its
    // order-smallest vertex and total wedge volume is O(|E|^1.5)
    // regardless of hubs (a hub's edges point INTO it, so its degree²
    // wedge set never forms). All joins ride thin (long, long, long)
    // edge rows; embeddings never re-enter after graph construction.
    "sim_graph_triangles" -> ((s, dir) => {
      import graft.core.Barrier.BarrierOps
      val und = knnGraph(s, dir)
        .select(least(col("vec_id"), col("neighbor_id")).as("a"),
          greatest(col("vec_id"), col("neighbor_id")).as("b"))
        .distinct().barrier() // read by deg + the orientation join
      val deg = und.select(col("a").as("v"))
        .unionByName(und.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("degree"))
        .barrier() // read by orientation (2x) + the output attach
      val oriented = und
        .join(deg.select(col("v").as("a"), col("degree").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("degree").as("db")), "b")
        .select(
          when(col("da") < col("db") ||
              (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
            .otherwise(
              struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
            .as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
        .barrier() // read by both wedge sides + the closing-edge probe
      val wedges = oriented
        .select(col("u"), col("v").as("v1"), col("dv").as("d1"))
        .join(oriented.select(col("u"), col("v").as("v2"),
          col("dv").as("d2")), Seq("u"))
        .filter(col("d1") < col("d2") ||
          (col("d1") === col("d2") && col("v1") < col("v2")))
      val tri = wedges
        .join(oriented.select(col("u").as("v1"), col("v").as("v2")),
          Seq("v1", "v2"))
        .select(col("u"), col("v1"), col("v2"))
      val perNode = tri
        .select(explode(array(col("u"), col("v1"), col("v2"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("triangles"))
      t(s, dir, "embeddings").select(col("vec_id"))
        .join(deg.select(col("v").as("vec_id"), col("degree")),
          Seq("vec_id"), "left")
        .join(perNode.select(col("v").as("vec_id"), col("triangles")),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("degree"), lit(0L)).as("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles"),
          when(coalesce(col("degree"), lit(0L)) < 2, lit(0.0))
            .otherwise(lit(2.0) *
              coalesce(col("triangles"), lit(0L)).cast("double") /
              (col("degree") * (col("degree") - lit(1))).cast("double"))
            .as("clustering_coeff"))
    }))

  /** Per-query recall@K of each (method, topk-relation) against the
    * exact brute-force truth. Rides only the integer (query_id,
    * neighbor_id) id relations the index queries emit, so the verdict is
    * exact regardless of float ranking internals; recall = hits/n_true
    * is one int/int IEEE division. Truth is barriered (read by the
    * n_true rollup + one hit join per method). */
  private def recallReport(bf0: org.apache.spark.sql.DataFrame,
      methods: Seq[(String, org.apache.spark.sql.DataFrame)])
      : org.apache.spark.sql.DataFrame = {
    val bf = bf0.select(col("query_id"), col("neighbor_id")).barrier()
    val truth = bf.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_true")).barrier()
    methods.map { case (name, approx) =>
      val hits = bf
        .join(approx.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
      truth.join(hits, Seq("query_id"), "left")
        .select(lit(name).as("method"), col("query_id"), col("n_true"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          (coalesce(col("hits"), lit(0L)).cast("double") /
            col("n_true").cast("double")).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** The deduplicated LSH-candidate relation (vec_id, neighbor_id, sim)
    * the whole graph family ranks over — [[knnGraph]] takes the global
    * top-K per vector, `sim_hard_negatives` the top per vector AFTER a
    * label filter (so a candidate set shared by both is ranked twice,
    * never rebuilt). */
  private[graft] def knnCandidates(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val emb = t(s, dir, "embeddings")
    // signature width is the graph family's scale lever: candidate
    // volume is Σ occupancy² per bucket, so bits must grow ~log₂N to
    // hold expected occupancy (N/2^bits) constant as the corpus grows.
    // lshBits DERIVES the width from the corpus count (no knob); the
    // oracle runs the identical integer derivation, so the gate pins
    // the derived path at every SF. bit b of a signature is a PREFIX of
    // bit b of any wider signature family (hyperplanes are indexed by
    // (dim, bit, table), independent of the width), so widening only
    // PRUNES candidates — recall at the derived width is ≥ recall at
    // any wider width (pinned by KnnWidthSpec).
    knnCandidatesOf(s, emb, lshBits(s, emb))
  }

  /** The LSH candidate build over an arbitrary embedding relation at an
    * explicit signature width — split out so [[layeredSearch]] can run
    * the identical build on its 1-in-[[UpperSampleMod]] vertex sample at
    * the sample's OWN derived width (base − log₂ sample rate): occupancy
    * is N/2^bits, so a 1/16 sample signed at the base width would leave
    * buckets ~16× emptier than designed and the upper layer with almost
    * no edges (measured: EMPTY at the fixtures). */
  private[graft] def knnCandidatesOf(s: org.apache.spark.sql.SparkSession,
      emb: org.apache.spark.sql.DataFrame,
      bits: Int): org.apache.spark.sql.DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val sigs = Vectors.lshSignaturesAgg(emb, "vec_id", "embedding",
      bits, 4)
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val withSigs = emb.select(col("vec_id"), col("embedding"))
      .join(sigs, "vec_id")
      .select(col("vec_id"), col("embedding"), explode(col("sigs")).as("sig"))
      .repartition(nPart, col("sig"))
      .barrier()
    val a = withSigs.select(col("sig").as("sig_a"),
      col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = withSigs.select(col("sig").as("sig_b"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b,
        col("sig_a") === col("sig_b") && col("vec_a") =!= col("vec_b"))
      .select(col("vec_a").as("vec_id"), col("vec_b").as("neighbor_id"),
        expr("cosine_sim(ea, eb)").as("sim"))
      .distinct()
  }

  /** The ranked kNN-edge relation (vec_id, neighbor_id, rank, sim) behind
    * `sim_knn_graph` and the τ-pruned component query. */
  /** The greedy beam walk of `sim_graph_search`, parameterized by beam
    * width so `sim_graph_recall_vs_beam` can grade the knob. Plan shape
    * is the query doc's: shared graph build, then BeamRounds barriered
    * rounds of (8·width)-row joins against the k-bounded edge relation.
    */
  private def beamSearch(s: org.apache.spark.sql.SparkSession,
      dir: String, width: Int): org.apache.spark.sql.DataFrame = {
    graft.plans.GraftFunctions.register(s)
    beamSearchOver(t(s, dir, "embeddings"),
      knnGraph(s, dir).filter(col("sim") >= 0.3), width)
  }

  /** The flat walk over an EXPLICIT embedding + kNN-edge relation pair —
    * the serving tail shared by the batch `sim_graph_search` and the
    * streaming maintained-graph serve (`graphSearchFrom`), so the two
    * cannot drift: symmetrize, enter at the global min-id vertex, walk
    * [[BeamRounds]] rounds, rank top-10. `ke` carries
    * (vec_id, neighbor_id) directed rows (sim-filtered by the caller).
    */
  private[graft] def beamSearchOver(emb: org.apache.spark.sql.DataFrame,
      ke0: org.apache.spark.sql.DataFrame,
      width: Int): org.apache.spark.sql.DataFrame = {
    val ke = ke0.select(col("vec_id").as("x"), col("neighbor_id").as("y"))
    val edges = ke
      .union(ke.select(col("y").as("x"), col("x").as("y")))
      .distinct().barrier() // read by every beam round
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .barrier() // broadcast into every round's scoring join
    val entry = edges.agg(min(col("x")).as("v"))
    val f0 = scoreFrontier(emb, queries)(queries.select(col("query_id"))
      .crossJoin(broadcast(entry))).barrier()
    rankTop10(beamWalk(emb, queries, edges, f0, width, BeamRounds))
  }

  /** Score a (query_id, v) frontier against the query vectors — the one
    * scoring join every walk round (flat and layered) runs. */
  private def scoreFrontier(emb: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame)(
      fr: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    fr.join(emb.select(col("vec_id").as("v"), col("embedding").as("nv")),
        "v")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("v"),
        expr("cosine_sim(qv, nv)").as("s"))

  /** The greedy beam loop shared by the flat walk, the layered walk's
    * base layer, and its upper layer: `rounds` barriered rounds of
    * expand → score → re-rank-to-`width` over an already-scored initial
    * frontier. Returns every VISITED (query_id, v, s). Any edit here
    * moves all three walks together (their DuckDB oracles unroll this
    * exact loop). */
  private def beamWalk(emb: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame,
      f0: org.apache.spark.sql.DataFrame,
      width: Int, rounds: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wb = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("v").asc)
    var frontier = f0
    var visited = frontier
    for (_ <- 1 to rounds) {
      val scored = scoreFrontier(emb, queries)(frontier
        .select(col("query_id"), col("v").as("x"))
        .join(edges, "x")
        .select(col("query_id"), col("y").as("v")).distinct())
      visited = visited.unionByName(scored).distinct()
        .barrier() // accumulates; the next union and the final rank
      frontier = frontier.unionByName(scored).distinct()
        .withColumn("rk", row_number().over(wb))
        .filter(col("rk") <= width)
        .select(col("query_id"), col("v"), col("s"))
        .barrier() // next round reads it twice (union + neighbors)
    }
    visited
  }

  /** Final serving rank over a walk's visited set — top-10 per query,
    * query vertex excluded. */
  private def rankTop10(visited: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wb = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("v").asc)
    visited.filter(col("query_id") =!= col("v"))
      .withColumn("rank", row_number().over(wb))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("v").as("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** HNSW-layer entry selection (`sim_graph_search_layered`): walk a
    * geometric ladder of SPARSE upper-layer graphs first (deterministic
    * 1-in-[[UpperSampleMod]] and 1-in-[[UpperSampleMod]]² vertex
    * samples, nested since 256 | id ⇒ 16 | id — HNSW's level ladder),
    * each layer seeding the next from the query's best visited vertex,
    * so the base-layer beam starts from an entry already NEAR the query
    * instead of the one global min-id entry the flat walk uses. The
    * upper layers cost ~1/16 + ~1/256 of the base build (the identical
    * LSH candidate pipeline over each sample, signed at the sample's
    * own derived width). The top entry is the sparsest SAMPLE's min-id
    * vertex — sample, not edge endpoint, so a near-empty top layer
    * degrades to descent-from-entry rather than to an empty result.
    * Scale shape: every walk is rounds × width × degree —
    * corpus-independent; the N-bound stages are the base candidate
    * build the flat walk already pays plus the sample-sized upper
    * builds.
    */
  private[graft] def layeredSearch(s: org.apache.spark.sql.SparkSession,
      dir: String, width: Int): org.apache.spark.sql.DataFrame = {
    val l = layeredLadder(s, dir)
    rankTop10(beamWalk(l.emb, l.queries, l.edges, l.seedOf(l.uvisited),
      width, BeamRounds))
  }

  /** The measured pieces of [[layeredSearch]]'s ladder, exposed so the
    * scale diagnostics (graft.tools.Scaling `layerdiag`) can grade WHAT
    * THE LADDER BUYS — per-level seed cosine vs the flat walk's global
    * min-id entry, per-level visited counts — without duplicating the
    * construction the serving query runs. */
  private[graft] final case class LayeredLadder(
      emb: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame,
      u2f0: org.apache.spark.sql.DataFrame,
      u2visited: org.apache.spark.sql.DataFrame,
      uvisited: org.apache.spark.sql.DataFrame,
      seedOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      scoreEntry: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)

  private[graft] def layeredLadder(s: org.apache.spark.sql.SparkSession,
      dir: String): LayeredLadder = {
    import org.apache.spark.sql.expressions.Window
    graft.plans.GraftFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val baseBits = lshBits(s, emb)
    // minSim: the base layer keeps the flat walk's 0.3 edge pruning; the
    // upper layer keeps EVERY ranked edge — HNSW upper layers are
    // NAVIGATION graphs whose long-range (low-similarity) links are the
    // point, and a sparse sample rarely contains both members of a
    // truly-close pair (measured: a 0.3-thresholded upper layer is
    // EMPTY at the fixtures)
    def layerEdges(c: org.apache.spark.sql.DataFrame,
        minSim: Option[Double]) = {
      val ranked = knnGraphOf(c)
      val ke = minSim.fold(ranked)(m => ranked.filter(col("sim") >= m))
        .select(col("vec_id").as("x"), col("neighbor_id").as("y"))
      ke.union(ke.select(col("y").as("x"), col("x").as("y")))
        .distinct().barrier() // read by every round of its walk
    }
    val edges = layerEdges(knnCandidatesOf(s, emb, baseBits), Some(0.3))
    // the upper layers run the SAME build over nested geometric samples
    // (1/16, then 1/256 — HNSW's level ladder; 256 | id ⇒ 16 | id, so
    // every level-2 vertex exists in level 1, the descent invariant) at
    // each sample's own derived width — a 1/16- then 1/256-sized job,
    // so the full layered index costs ~6% over the flat one
    val uedges = layerEdges(knnCandidatesOf(s,
      emb.filter(col("vec_id") % UpperSampleMod === 0),
      math.max(6, baseBits - 4)), None)
    val u2mod = UpperSampleMod * UpperSampleMod
    val u2sample = emb.filter(col("vec_id") % u2mod === 0)
    val u2edges = layerEdges(knnCandidatesOf(s, u2sample,
      math.max(6, baseBits - 8)), None)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .barrier() // broadcast into every round's scoring join
    val sc = scoreFrontier(emb, queries) _
    val wb = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("v").asc)
    // per-query seed = the best visited vertex of the layer above; its
    // score carries over (same (query, vertex) cosine), so each f0 is a
    // projection, not a new scoring join
    def seedOf(visited: org.apache.spark.sql.DataFrame) =
      visited.withColumn("rk", row_number().over(wb))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("v"), col("s"))
        .barrier() // round 1 reads it twice (union + neighbors)
    // top-level entry = the min-id SAMPLE vertex (not an edge endpoint:
    // a 1/256 layer on a small corpus may have few-to-no edges, and the
    // walk must degrade to plain descent-from-entry, not to empty).
    // Coalesce ladder (ADVICE r13): a corpus with NO id divisible by 256
    // (ids starting at 1, < 256 vectors) has an EMPTY 1/256 sample —
    // min over it is NULL and the entry row would drop in the scoring
    // join, emptying the whole result. Fall back to the 1/16 sample's
    // min-id, then the global min, in ONE aggregate over the corpus.
    val u2entry = emb.agg(coalesce(
      min(when(col("vec_id") % u2mod === 0, col("vec_id"))),
      min(when(col("vec_id") % UpperSampleMod === 0, col("vec_id"))),
      min(col("vec_id"))).as("v"))
    val u2f0 = sc(queries.select(col("query_id"))
      .crossJoin(broadcast(u2entry))).barrier()
    val u2visited =
      beamWalk(emb, queries, u2edges, u2f0, UpperBeamWidth, UpperRounds)
    val uvisited = beamWalk(emb, queries, uedges, seedOf(u2visited),
      UpperBeamWidth, UpperRounds)
    LayeredLadder(emb, queries, edges, u2f0, u2visited, uvisited,
      seedOf, sc)
  }

  private[graft] def knnGraph(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    knnGraphOf(knnCandidates(s, dir))

  /** Top-K ranking over an (already-built) candidate relation — split
    * out so [[layeredSearch]] can rank one shared candidate build twice
    * (base layer and the sample×sample upper layer). */
  private[graft] def knnGraphOf(cand: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
  }

  /** IVF-style ANN: a coarse quantizer (C deterministic centroids — the
    * first C vectors, classic random-init) partitions the corpus into
    * inverted lists; queries probe the nprobe nearest lists only.
    *
    * Assignment is a SHUFFLE-FREE narrow pass: the O(C) centroid set is
    * aggregated into ONE array-typed row, broadcast-joined (nested-loop on
    * a 1-row build side — effectively a per-partition constant), and each
    * corpus row picks its cluster with a per-row `array_max` argmax. No
    * corpus expansion, no Exchange — the previous cross-join + window form
    * shuffled a C×-expanded corpus just to rank centroids (r2 verdict §2).
    */
  /** Per-row centroid similarity structs over the broadcast `cents` array;
    * struct ordering = (csim, -cid) lexicographic → `array_max(...)` is
    * argmax cosine with cent_id ASC tie-break, identical to
    * row_number(csim DESC, cid ASC) = 1. Shared by ivf and ivfsq.
    */
  private[graft] val simsExpr = "transform(cents, c -> struct(" +
    "cosine_sim(embedding, c.cv) AS csim, -c.cid AS negid, c.cid AS cid))"

  /** The nProbe probe set for the query vectors (vec_id < 8) of a
    * relation already joined to the 1-row broadcast `cents` array —
    * shared by first-C IVF, trained IVF, and the streaming search tier
    * so probe ranking cannot drift between them. */
  private[graft] def probesOf(withC: org.apache.spark.sql.DataFrame,
      nProbe: Int, qCount: Int = 8): org.apache.spark.sql.DataFrame =
    withC.filter(col("vec_id") < qCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(expr(
          s"transform(slice(reverse(array_sort($simsExpr)), 1, $nProbe)," +
            " p -> p.cid)")).as("probe"))

  private[graft] def ivf(s: org.apache.spark.sql.SparkSession, dir: String,
      cCentroids: Int, nProbe: Int, qCount: Int = 8) = {
    graft.plans.GraftFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val centArr = emb.filter(col("vec_id") < cCentroids)
      .agg(collect_list(struct(col("vec_id").cast("int").as("cid"),
        col("embedding").as("cv"))).as("cents"))
    val withC = emb.join(broadcast(centArr), lit(true))
    val assigned = withC
      .select(col("vec_id"), col("embedding"),
        expr(s"array_max($simsExpr).cid").as("cluster"))
    (assigned, probesOf(withC, nProbe, qCount))
  }

  /** Serving entry for the query-volume sweep (tools/Scaling ivfsweep):
    * build the index at `c` lists and serve a `qCount`-query panel —
    * same code path as sim_ivf_ann, panel width and list count
    * parameterized. */
  private[graft] def ivfServe(s: org.apache.spark.sql.SparkSession,
      dir: String, c: Int, qCount: Int): org.apache.spark.sql.DataFrame = {
    val (assigned, probes) = ivf(s, dir, c, 4, qCount)
    ivfTopK(assigned, probes)
  }

  def queriesIvf: Map[String, Q] = Map(
    // SemDeDup-style semantic dedup (published method: cluster the corpus
    // with a coarse quantizer, then dedup WITHIN clusters only): reuse the
    // IVF centroid assignment as the blocking key and drop every vector
    // whose cosine to an earlier (smaller-id) member of the SAME cluster
    // reaches τ — keep-first canonicalization, centroid-blocked. Third
    // blocking strategy in the family by design: label-blocked
    // (dedup_embedding_canonical) needs labels, LSH-blocked
    // (dedup_embedding_lsh) can split a semantic pair across buckets;
    // centroid blocking needs neither labels nor luck. Scale shape: the
    // assignment is the same shuffle-free narrow pass as sim_ivf_ann, the
    // pair join shuffles (cluster, id, vec) once on the cluster id, and C
    // grows with the corpus (C ≈ √N bounds expected cluster size) so the
    // blocked join never degenerates to all-pairs.
    "dedup_semantic" -> ((s, dir) =>
      semanticKeepFirst(ivf(s, dir, semanticC(s), 4)._1)),
    // One k-means (Lloyd) refinement step over the IVF assignment — the
    // iterative-clustering primitive a corpus pipeline runs to tighten
    // centroids before IVF/SemDeDup. Emits the update's MERGEABLE partial
    // state — per-(cluster, dim) fixed-point micro-unit sums + member
    // counts — not the divided means: integer sums are order-independent
    // and bit-equal in any engine (the division is a trivial narrow
    // epilogue the caller applies), so the oracle gate pins the whole
    // distributed reduction. The widen→scale→round chain is the same
    // IEEE ops in both engines (ties round away from zero in both).
    // Scale shape: assignment is the shuffle-free narrow pass; the only
    // wide op is ONE partial→final HashAggregate on (cluster, dim) —
    // C·d cells regardless of corpus size.
    "sim_kmeans_step" -> ((s, dir) => {
      val (assigned, _) = ivf(s, dir, 16, 4)
      assigned
        .select(col("cluster").cast("long").as("cluster"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim").cast("long").as("dim"))
        .agg(sum(expr(
          "CAST(round(CAST(x AS DOUBLE) * 1000000D) AS BIGINT)"))
          .as("sum_micro"),
          count(lit(1)).as("n"))
    }),
    "sim_ivf_ann" -> ((s, dir) => {
      val (assigned, probes) = ivf(s, dir, ivfC(s), 4)
      ivfTopK(assigned, probes)
    }),
    // IVF ANN over TRAINED coarse centroids — the deployment shape
    // (train the quantizer, then serve): the 2-round-Lloyd ladder from
    // sim_kmeans_train supplies the centroids, the probe/assign/score
    // tail is byte-identical to sim_ivf_ann (shared ivfTopK). Completes
    // the trained family next to sim_pq_ann_trained and
    // dedup_semantic_trained.
    "sim_ivf_ann_trained" -> ((s, dir) => {
      val (assigned, probes) = ivfTrained(s, dir, ivfC(s), 4, 2)
      ivfTopK(assigned, probes)
    }))

  /** Probed-list candidate scoring + top-K for an (assigned, probes) pair
    * — shared by first-C-init and trained-centroid IVF. */
  private[graft] def ivfTopK(assigned: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = assigned
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        col("cluster"))
      .join(broadcast(probes), col("cluster") === col("probe") &&
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("cosine_sim(qv, nv)").as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** Cluster assignment of `emb` against an arbitrary centroid relation
    * `cents(cid int, cv array<float>)` — the same shuffle-free 1-row
    * broadcast argmax as [[ivf]], factored out so trained centroids plug
    * into the identical plan shape. */
  private[graft] def assignTo(emb: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame) = {
    val centArr = cents
      .agg(collect_list(struct(col("cid"), col("cv"))).as("cents"))
    emb.join(broadcast(centArr), lit(true))
      .select(col("vec_id"), col("embedding"),
        expr(s"array_max($simsExpr).cid").as("cluster"))
  }

  /** Coarse-cluster count for the semantic-dedup blocking — the published
    * method scales C ≈ √N with the corpus so expected cluster size stays
    * √N and the within-cluster pair join never degenerates toward
    * all-pairs. The fixture DEFAULT (16) is what every oracle pins;
    * [[Knobs.SemanticCentroids]] lets a scale run (or a deployment)
    * supply the corpus-appropriate C — same plan, different blocking
    * granularity. Unlike prefixSumBuckets, C is a quality/scale knob,
    * not output-invariant: the oracle gate always runs at the default.
    */
  private def semanticC(s: org.apache.spark.sql.SparkSession): Int =
    Knobs.positiveInt(s, Knobs.SemanticCentroids).getOrElse(16)

  /** Inverted-list count for the IVF ANN serving queries — the
    * [[semanticC]] contract: the fixture DEFAULT (16) is what every
    * oracle pins; [[Knobs.IvfCentroids]] lets a scale run supply C ≈ √N
    * so expected list length stays √N and the probed-list candidate scan
    * stays output-bounded as the corpus grows. Quality/scale knob (more
    * lists at fixed nprobe searches a narrower fraction — the standard
    * IVF recall/speed trade). The k-means TRAINING primitives keep their
    * pinned C (their oracles emit per-(cluster, dim) state, so C is part
    * of their output contract).
    */
  private def ivfC(s: org.apache.spark.sql.SparkSession): Int =
    Knobs.positiveInt(s, Knobs.IvfCentroids).getOrElse(16)

  private[graft] def isqrt(x: Long): Long = {
    var r = math.sqrt(x.toDouble).toLong
    while (r > 0 && r * r > x) r -= 1
    while ((r + 1) * (r + 1) <= x) r += 1
    r
  }

  /** The IVF list count a known query volume calls for — what `Scaling
    * ivfsweep` marks in its (Q × C) grid. Balancing the per-build
    * assignment cost N·C against the serving candidate-scan cost
    * Q·nprobe·N/C gives C* = √(Q·nprobe) — N cancels, so the crossover
    * is a QUERY-VOLUME property, which is exactly what the measured
    * 8-query fixture panel showed (C ≈ √N slower) and the 1k-panel
    * sweep shows flipping (SCALING.md). Clamped to [16, √N]: the floor
    * is the fixture default (Q=8, nprobe=4 → √32 ≈ 5 → 16), the √N
    * ceiling is the published IVF geometry — expected list length stays
    * ≥ √N, so assignment never dominates the build. Deterministic
    * integer math.
    */
  private[graft] def ivfDerivedC(n: => Long, q: Long, nProbe: Int): Int = {
    val cStar = isqrt(q * nProbe)
    if (cStar <= 16) 16
    else math.max(16L, math.min(cStar, isqrt(n))).toInt
  }

  /** SemDeDup keep-first canonicalization WITHIN each coarse cluster of a
    * (vec_id, embedding, cluster) assignment: drop every vector whose
    * cosine to an earlier (smaller-id) member of the SAME cluster reaches
    * τ. One body shared by the first-C-init (`dedup_semantic`) and
    * trained-centroid (`dedup_semantic_trained`) variants — the blocking
    * key is the only thing that differs. Scale shape: the pair join
    * shuffles (cluster, id, vec) once on the cluster id; C grows with the
    * corpus (C ≈ √N bounds expected cluster size) so the blocked join
    * never degenerates to all-pairs.
    */
  private def semanticKeepFirst(assigned: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val m = assigned.barrier() // one assignment pass feeds both join sides
    val a = m.select(col("cluster"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"))
    val b = m.select(col("cluster"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("vec_a") < col("vec_b") &&
        expr("cosine_sim(ea, eb)") >= 0.3)
      .select(col("vec_b").as("vec_id")).distinct()
    m.select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .join(dropped, Seq("vec_id"), "left_anti")
  }

  /** The Lloyd step's MERGEABLE fixed-point state over an assignment:
    * per-(cluster, dim) micro-unit sums + member counts (see
    * sim_kmeans_step's comments for why integer sums, not divided means).
    */
  private def microStep(assigned: org.apache.spark.sql.DataFrame) =
    assigned
      .select(col("cluster").cast("long").as("cluster"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim").cast("long").as("dim"))
      .agg(sum(expr(
        "CAST(round(CAST(x AS DOUBLE) * 1000000D) AS BIGINT)"))
        .as("sum_micro"),
        count(lit(1)).as("n"))

  /** Trained coarse-quantizer centroids: `iters` Lloyd refinements of the
    * first-C init under cosine assignment (spherical k-means). Each
    * refinement is the SAME mergeable reduction as sim_kmeans_step; the
    * divided mean is re-encoded as a FLOAT so the next round's assignment
    * runs the unchanged `cosine_sim(array<float>, array<float>)` plan —
    * and because sum/n are exact integers, one IEEE double division and
    * one float rounding are bit-identical in any engine, every
    * intermediate centroid (hence every round) stays oracle-exact. An
    * empty cluster keeps its previous centroid. Scale shape per round:
    * one narrow broadcast-argmax pass + ONE C·d-cell HashAggregate +
    * a C-row epilogue — the corpus is scanned `iters` times and never
    * shuffled; per-round barriers stop iteration i replaying rounds
    * 0..i-1.
    */
  private[graft] def kmeansTrain(s: org.apache.spark.sql.SparkSession,
      dir: String, cCentroids: Int, iters: Int)
      : org.apache.spark.sql.DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    var cents = emb.filter(col("vec_id") < cCentroids)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"))
    (1 to iters).foreach { _ =>
      val stepped = microStep(assignTo(emb, cents))
        .select(col("cluster").cast("int").as("cid"), col("dim"),
          (col("sum_micro").cast("double") /
            (col("n").cast("double") * lit(1000000d))).cast("float").as("v"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, v)))," +
          " p -> CAST(p.v AS FLOAT))").as("cv_new"))
      cents = cents.withColumnRenamed("cv", "cv_old")
        .join(stepped, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("cv_new"), col("cv_old")).as("cv"))
        .barrier()
    }
    cents
  }

  /** IVF over TRAINED centroids — [[ivf]]'s plan with the first-C init
    * replaced by [[kmeansTrain]] output; recall vs brute force is pinned
    * in DedupSimilaritySpec. */
  private[graft] def ivfTrained(s: org.apache.spark.sql.SparkSession,
      dir: String, cCentroids: Int, nProbe: Int, iters: Int) = {
    graft.plans.GraftFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val centArr = kmeansTrain(s, dir, cCentroids, iters)
      .agg(collect_list(struct(col("cid"), col("cv"))).as("cents"))
    val withC = emb.join(broadcast(centArr), lit(true))
    val assigned = withC
      .select(col("vec_id"), col("embedding"),
        expr(s"array_max($simsExpr).cid").as("cluster"))
    (assigned, probesOf(withC, nProbe))
  }

  def queriesKmeans: Map[String, Q] = Map(
    // The TRAINED k-means state — sim_kmeans_step's mergeable reduction
    // evaluated after two full Lloyd refinements of the centroids, so the
    // oracle gate pins the entire iterated training loop (assignment →
    // integer reduction → exact re-encoding, three times), not just one
    // step. Every emitted number is an exact integer; every intermediate
    // centroid is a float whose derivation both engines perform with the
    // same IEEE ops in the same order.
    "sim_kmeans_train" -> ((s, dir) =>
      microStep(assignTo(t(s, dir, "embeddings"),
        kmeansTrain(s, dir, 16, 2)))),
    // SemDeDup over TRAINED centroids — the production composition the
    // published method actually prescribes (cluster with a trained coarse
    // quantizer, then dedup within clusters): the same keep-first body as
    // dedup_semantic, blocked by the 2-round-Lloyd assignment instead of
    // the first-C init. The oracle re-derives the full training chain
    // (the proven sim_kmeans_train CTE ladder) before the dedup, so the
    // gate pins train → assign → dedup end-to-end.
    "dedup_semantic_trained" -> ((s, dir) => {
      val (assigned, _) = ivfTrained(s, dir, semanticC(s), 4, 2)
      semanticKeepFirst(assigned)
    }),
    // Prototypicality-based pruning (the SSL-prototypes data-pruning
    // method: score each example by cosine to its cluster centroid, prune
    // from the extremes): the 8 LEAST prototypical vectors per coarse
    // cluster — outlier/noise candidates at the low end, and the same
    // ranking read from the other end is the easy-example prune. ONE
    // array_max over the broadcast centroid array yields assignment AND
    // score in a single narrow pass; the embedding is dropped before the
    // exchange, so only thin (vec_id, cluster, csim) rows shuffle, and the
    // literal rank cut compiles to WindowGroupLimit (per-partition top-8
    // before the ranking exchange). Ranks-only output: csim itself never
    // leaves the ORDER BY, the one place cross-engine float identity is
    // already proven by the assignment oracles.
    "sim_centroid_outliers" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.plans.GraftFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      val centArr = emb.filter(col("vec_id") < 16)
        .agg(collect_list(struct(col("vec_id").cast("int").as("cid"),
          col("embedding").as("cv"))).as("cents"))
      val thin = emb.join(broadcast(centArr), lit(true))
        .select(col("vec_id"), expr(s"array_max($simsExpr)").as("b"))
        .select(col("vec_id"), col("b.cid").as("cluster"),
          col("b.csim").as("csim"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("csim").asc, col("vec_id").asc)
      thin.withColumn("outlier_rank", row_number().over(w))
        .filter(col("outlier_rank") <= 8)
        .withColumn("outlier_rank", col("outlier_rank").cast("long"))
        .select(col("cluster").cast("long").as("cluster"),
          col("outlier_rank"), col("vec_id"))
    }),
    // Cluster-quality report over the TRAINED k-means — the model-ops
    // pass a curation pipeline runs before trusting a clustering for
    // semantic dedup or IVF blocking: per cluster, size, mean and
    // worst-case cohesion (cosine to own centroid, micro units), and
    // separation (nearest OTHER centroid + its centroid-centroid
    // cosine — high separation cosine = the two clusters blur).
    // Degenerate clusters surface as n NULL (empty — centroid kept by
    // the Lloyd coalesce but owns no members) or sep_micro ≈ 1e6
    // (duplicate centroids). Scale shape: the corpus is touched ONCE by
    // the same narrow broadcast-argmax pass as sim_ivf_ann — the
    // embedding is dropped before the exchange, so only (cluster,
    // cm) int pairs feed the map-side-combined cohesion rollup; the
    // separation matrix is C² rows (256 here) of centroid pairs, and
    // the report is C rows. Everything after round(·1e6) is exact
    // integers, so the oracle pins the full train→assign→report chain.
    "sim_kmeans_quality" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val cents = kmeansTrain(s, dir, 16, 2)
        .barrier() // assignment + both sides of the separation matrix
      val centArr = cents
        .agg(collect_list(struct(col("cid"), col("cv"))).as("cents"))
      val thin = t(s, dir, "embeddings")
        .join(broadcast(centArr), lit(true))
        .select(expr(s"array_max($simsExpr)").as("b"))
        .select(col("b.cid").cast("long").as("cluster"),
          expr("CAST(round(b.csim * 1000000D) AS BIGINT)").as("cm"))
      val coh = thin.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), sum(col("cm")).as("coh_sum"),
          min(col("cm")).as("coh_min_micro"))
      val a = cents.select(col("cid").as("acid"), col("cv").as("ca"))
      val b = cents.select(col("cid").as("ocid"), col("cv").as("cb"))
      val sep = a.join(broadcast(b), col("acid") =!= col("ocid"))
        .select(col("acid"), col("ocid"),
          expr("CAST(round(cosine_sim(ca, cb) * 1000000D) AS BIGINT)")
            .as("sm"))
        .groupBy(col("acid"))
        .agg(max(struct(col("sm"), (-col("ocid")).as("negid"),
          col("ocid"))).as("m"))
        .select(col("acid").cast("long").as("cluster"),
          col("m.ocid").cast("long").as("nn_cid"),
          col("m.sm").as("sep_micro"))
      cents.select(col("cid").cast("long").as("cluster"))
        .join(coh, Seq("cluster"), "left")
        .join(broadcast(sep), Seq("cluster"), "left")
        .select(col("cluster"), col("n"),
          // sign-symmetric DIV (the pcaCells device): Spark truncates
          // toward zero, DuckDB floors — they differ on a negative sum
          expr("CASE WHEN coh_sum >= 0 THEN coh_sum DIV n " +
            "ELSE -((-coh_sum) DIV n) END").as("coh_mean_micro"),
          col("coh_min_micro"), col("nn_cid"), col("sep_micro"))
    }),
    // Greedy k-center diverse-exemplar selection (Gonzalez's farthest-
    // point traversal, the published coreset/diversity-sampling recipe
    // with the 2-approximation guarantee): seed with the smallest id,
    // then 7 times pick the vector LEAST similar to every already-chosen
    // exemplar — the subset a curation pipeline uses to cover the
    // embedding space with few examples, the opposite end of
    // sim_centroid_outliers' prototypicality ranking. gap_micro is the
    // picked vector's max-cosine-to-chosen at pick time (how redundant
    // the most-novel remaining vector already was — rising gap = space
    // exhausted); pick 1's gap is the -2e6 sentinel (nothing chosen
    // yet). Already-picked vectors self-score 1.0 and never re-win, so
    // no removal pass exists. Scale shape: the greedy is INHERENTLY one
    // pass per pick — each round is a narrow 1-row-broadcast cosine
    // update of the barriered (vec_id, embedding, sim) state plus a
    // 1-row struct-min aggregate; no exchange of corpus rows anywhere
    // in the loop, and k is a constant. Doubles appear only inside the
    // same bit-stable cosine/argmin devices every ANN oracle pins;
    // emitted values are micro-rounded integers.
    "sample_kcenter_diverse" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      var st = emb.select(col("vec_id"), col("embedding"),
        lit(-2.0d).as("sim")).barrier()
      var picks: Seq[org.apache.spark.sql.DataFrame] = Nil
      for (k <- 1 to KcenterPicks) {
        val p = st.agg(min(struct(col("sim"), col("vec_id"))).as("p"))
          .select(lit(k.toLong).as("pick_order"),
            col("p.vec_id").as("vec_id"),
            expr("CAST(round(p.sim * 1000000D) AS BIGINT)").as("gap_micro"))
          .barrier() // read by the output union AND the center join
        picks :+= p
        if (k < KcenterPicks) {
          val cEmb = p.select(col("vec_id"))
            .join(emb.select(col("vec_id"), col("embedding").as("cv")),
              "vec_id")
            .select(col("cv"))
          st = st.join(broadcast(cEmb), lit(true))
            .select(col("vec_id"), col("embedding"),
              greatest(col("sim"), expr("cosine_sim(embedding, cv)"))
                .as("sim"))
            .barrier()
        }
      }
      picks.reduce(_ unionByName _)
    }))

  /** Scalar-quantized (int8) ANN — the compressed-scan tier of the ANN
    * family. ONE global symmetric scale (127 / corpus max|x|, no per-dim
    * shift — a uniform scale cancels in cosine, so quantized cosine tracks
    * true cosine; a per-dim affine map would not) turns each float into an
    * 8-bit code. Candidate ranking runs on quantized cosine
    * dotq/sqrt(n2a*n2b) — every input an exact integer, one double
    * division → deterministic, oracle-reproducible — then only the top C
    * survivors are re-scored with exact cosine on the original vectors.
    * At 100 TB the win is the scan: codes are 64 B/vector vs 256 B of
    * floats (4× less parquet + broadcast traffic), the scale pass is one
    * partial-aggregating max (no corpus shuffle), quantization is a
    * narrow per-row transform against ONE broadcast scalar, and the
    * rescoring join moves (long, long) ids only — full vectors re-join
    * for C·|Q| rows, never shuffled corpus-wide.
    */
  /** int8 code vector from a broadcast global scale `am`. round(), not
    * floor(): floor maps tiny negatives to -1 but tiny positives to 0 (an
    * asymmetry around zero that biases quantized dot products); round is
    * symmetric, and half-up ties round away from zero identically in
    * Spark and DuckDB, so the mirror stays bit-exact. */
  private val codesExpr = "transform(embedding, x -> " +
    "CAST(round(CAST(x AS DOUBLE) / am * 127.0D) AS INT))"
  /** integer squared norm of a code vector. */
  private val n2Expr =
    "aggregate(codes, 0L, (acc, c) -> acc + CAST(c AS BIGINT) * c)"
  /** quantized cosine — exact-integer dot and norms, ONE double division:
    * deterministic in any engine, so candidate cuts are oracle-stable.
    * A vector whose components ALL quantize to 0 has n2 = 0; 0/0 = NaN
    * would sort AHEAD of every real candidate in a DESC rank (silently
    * wasting top-4K slots), so zero-norm pairs pin to -2.0 — below the
    * cosine floor of -1, deterministically LAST in both engines. */
  private val qsimExpr =
    "CASE WHEN n2q = 0L OR n2n = 0L THEN -2.0D ELSE " +
      "CAST(aggregate(zip_with(qc, nc, (a, b) -> CAST(a AS BIGINT) * b)," +
      " 0L, (acc, v) -> acc + v) AS DOUBLE) " +
      "/ sqrt(CAST(n2q * n2n AS DOUBLE)) END"

  /** ONE global symmetric scale: 127 / corpus max|x|. A uniform scale (no
    * per-dim shift) cancels in cosine, so quantized cosine tracks true
    * cosine; a per-dim affine map would not. One partial-aggregating max,
    * broadcast as a single row.
    */
  private def sqScale(emb: org.apache.spark.sql.DataFrame) = emb
    // per-row array_max keeps this narrow (no Generate row explosion —
    // explode would emit dim× corpus rows to feed one max)
    .agg(max(expr("array_max(transform(embedding, x -> abs(x)))"))
      .cast("double").as("am"))

  /** Exact-cosine rescore of a thin (query_id, neighbor_id) candidate
    * relation: vectors re-join by id (the verify-before-shuffle pattern),
    * never ride the ranking shuffle; emits the final top-K.
    */
  private def rescoreTopK(s: org.apache.spark.sql.SparkSession, dir: String,
      cand: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val emb = t(s, dir, "embeddings")
    val ne = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("nv"))
    val qe = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cand.join(ne, "neighbor_id").join(broadcast(qe), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        expr("cosine_sim(qv, nv)").as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** PQ geometry: 8 subspaces × 8 dims over the 64-d int8 codes, 16
    * codewords per subspace (deterministic first-16 init, the IVF
    * discipline). Codebook bytes: 8·16·8 = 1 KB — a 1-row broadcast. */
  private val PqM = 8
  private val PqD = 8
  private val PqK = 16

  /** Per-subspace argmin integer-L2 encoding against the broadcast
    * codebook `cbs` (array of 16 code vectors): every distance is an
    * exact BIGINT sum, ties break on codeword id — bit-exact in any
    * engine. */
  private val pqEncExpr =
    s"""transform(sequence(0, ${PqM - 1}), j ->
       |  array_min(transform(sequence(0, ${PqK - 1}), k ->
       |    struct(aggregate(
       |      zip_with(slice(codes, j * $PqD + 1, $PqD),
       |               slice(element_at(cbs, k + 1), j * $PqD + 1, $PqD),
       |        (a, b) -> CAST(a - b AS BIGINT) * (a - b)),
       |      0L, (x, y) -> x + y) AS dist, k AS k))).k)""".stripMargin

  /** Squared norm of a row's RECONSTRUCTION (the codewords its PQ code
    * selects) — the denominator the ADC cosine needs; exact integers. */
  private val pqReconN2Expr =
    s"""aggregate(sequence(0, ${PqM - 1}), 0L, (acc, j) ->
       |  acc + aggregate(
       |    slice(element_at(cbs, element_at(enc, j + 1) + 1),
       |      j * $PqD + 1, $PqD),
       |    0L, (x, c) -> x + CAST(c AS BIGINT) * c))""".stripMargin

  /** ADC (asymmetric distance computation) quantized cosine: the query's
    * full int8 codes dot the neighbor's RECONSTRUCTION — exact-integer
    * dot and norms, one double division, zero-norm pairs pinned to -2.0
    * (same contract as [[qsimExpr]]). */
  private val pqAdcExpr =
    s"""CASE WHEN n2q = 0L OR rn2 = 0L THEN -2.0D ELSE
       |CAST(aggregate(sequence(0, ${PqM - 1}), 0L, (acc, j) ->
       |  acc + aggregate(zip_with(
       |    slice(qc, j * $PqD + 1, $PqD),
       |    slice(element_at(cbs, element_at(enc, j + 1) + 1),
       |      j * $PqD + 1, $PqD),
       |    (a, b) -> CAST(a AS BIGINT) * b), 0L, (x, y) -> x + y))
       |  AS DOUBLE)
       |/ sqrt(CAST(n2q * rn2 AS DOUBLE)) END""".stripMargin

  /** The barriered int8-code relation every PQ path starts from. */
  private def pqWithCodes(s: org.apache.spark.sql.SparkSession,
      dir: String) = {
    graft.plans.GraftFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    emb.join(broadcast(sqScale(emb)), lit(true))
      .select(col("vec_id"), expr(codesExpr).as("codes"))
      .barrier() // codebook, corpus-encode, and query sides all read it
  }

  /** Deterministic first-PqK init codebook as a 1-row broadcast array. */
  private def pqInitCbs(withCodes: org.apache.spark.sql.DataFrame) =
    withCodes.filter(col("vec_id") < PqK)
      .agg(expr("transform(array_sort(collect_list(" +
        "struct(vec_id, codes))), p -> p.codes)").as("cbs"))

  /** Per-subspace Lloyd refinement of the PQ codebook: each round
    * re-encodes the corpus against the current codewords (exact integer
    * L2 argmin — [[pqEncExpr]]) and re-centers every (codeword,
    * subspace-dim) cell on its members' mean, rounded half-up back to an
    * int — so codewords stay integer vectors and the NEXT round's
    * distances are again exact BIGINTs. One IEEE division + one
    * half-up rounding per cell = bit-identical in any engine (the
    * kmeansTrain re-encoding device). A codeword with no members in a
    * subspace keeps its previous values (the empty-cluster rule).
    * Scale shape per round: one narrow broadcast encode pass, ONE
    * (16·64)-cell HashAggregate off a bounded explode, and a
    * PqK-row epilogue rebuild — the corpus is scanned `iters` times,
    * never shuffled.
    */
  private[graft] def pqTrainCbs(withCodes: org.apache.spark.sql.DataFrame,
      iters: Int): org.apache.spark.sql.DataFrame = {
    var cb = pqInitCbs(withCodes)
    (1 to iters).foreach { _ =>
      val enc = withCodes.join(broadcast(cb), lit(true))
        .select(col("codes"), expr(pqEncExpr).as("enc"))
      val means = enc
        .select(col("codes"), posexplode(col("enc")).as(Seq("j", "k")))
        .select(col("j"), col("k"),
          posexplode(expr(s"slice(codes, j * $PqD + 1, $PqD)"))
            .as(Seq("dj", "c")))
        .select(col("k"), (col("j") * PqD + col("dj")).as("dim"), col("c"))
        .groupBy(col("k"), col("dim"))
        .agg(expr("CAST(round(CAST(sum(c) AS DOUBLE) / " +
          "CAST(count(1) AS DOUBLE)) AS INT)").as("mc"))
      val prevRel = cb.select(posexplode(col("cbs")).as(Seq("k", "cv")))
        .select(col("k"), posexplode(col("cv")).as(Seq("dim", "pc")))
      cb = prevRel.join(means, Seq("k", "dim"), "left")
        .select(col("k"), col("dim"), coalesce(col("mc"), col("pc")).as("c"))
        .groupBy(col("k"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, c)))," +
          " p -> p.c)").as("cv"))
        .agg(expr("transform(array_sort(collect_list(struct(k, cv)))," +
          " p -> p.cv)").as("cbs"))
        .barrier() // next round's encode AND the epilogue read it
    }
    cb
  }

  /** The PQ ANN body shared by the init-codebook and trained-codebook
    * variants: encode, ADC-rank, top-4K cut, exact-cosine rescore. */
  private def pqAnnBody(s: org.apache.spark.sql.SparkSession, dir: String,
      withCodes: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val encDf = withCodes.join(broadcast(cb), lit(true))
      .select(col("vec_id"), col("cbs"), expr(pqEncExpr).as("enc"))
      .select(col("vec_id"), col("cbs"), col("enc"),
        expr(pqReconN2Expr).as("rn2"))
    val q = withCodes.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"),
        expr(n2Expr).as("n2q"))
    val scored = encDf
      .select(col("vec_id").as("neighbor_id"), col("cbs"), col("enc"),
        col("rn2"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr(pqAdcExpr).as("qsim"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("qsim").desc, col("neighbor_id").asc)
    val cand = scored.withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= K * 4)
      .select(col("query_id"), col("neighbor_id"))
    rescoreTopK(s, dir, cand)
  }

  /** Packs 32 sign bits of the int8 `codes` array (codes[half*32+1 ..
    * half*32+32], bit j set when the code is > 0) into one BIGINT word —
    * exact integers, so a DuckDB `sum(1 << (dim % 32))` mirror is
    * bit-identical. Codes sliced past the array end zip to NULL; the
    * null-guard keeps short tail words valid for any dimension count.
    */
  private def packWordExpr(half: Int): String =
    s"""aggregate(zip_with(slice(codes, ${half * 32 + 1}, 32),
       |    sequence(0, 31),
       |    (c, j) -> CASE WHEN c IS NOT NULL AND c > 0
       |              THEN shiftleft(CAST(1 AS BIGINT), j)
       |              ELSE CAST(0 AS BIGINT) END),
       |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin

  def queriesSq: Map[String, Q] = Map(
    // Binary quantization — the 1-bit cell of the quantization matrix
    // (SQ keeps 8 bits/dim, PQ ~1 B/subspace; this keeps ONE bit/dim):
    // each vector collapses to sign bits of its int8 codes packed into
    // 64-bit words (16 B/vector at d=64 — 16x less than float32), the
    // candidate rank is pure popcount Hamming distance on those words
    // (`bit_count(q ^ n)` — two codegen'd integer ops per word, no
    // per-dim loop at query time), and the top-4K survivors rescore
    // with exact cosine via the id-only join. Everything before the
    // rescore is integer-exact, so the Hamming cut is bit-stable under
    // the DuckDB oracle. Scale shape: the corpus pass is ONE narrow
    // scan (codes + pack against the 1-row scale broadcast, barriered);
    // scoring streams 2 longs/vector against the 8-row query broadcast
    // — the cheapest possible first-pass scan of the whole ANN family,
    // and the published shape (Qdrant/Milvus binary quantization,
    // FAISS IndexBinaryFlat) for a 100 TB first-cut filter.
    "sim_hamming_ann" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.plans.GraftFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      // word count derives from the data (one limit-1 probe), so any
      // embedding width packs fully — a fixed 2-word layout would
      // silently truncate dims >= 64 on a wider corpus
      val dims = emb.select(size(col("embedding")).as("n"))
        .filter(col("n") > 0).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(1)
      val nWords = (dims + 31) / 32
      val wordCols = (0 until nWords).map(h =>
        expr(packWordExpr(h)).as(s"w$h"))
      val withWords = emb.join(broadcast(sqScale(emb)), lit(true))
        .select(col("vec_id"), expr(codesExpr).as("codes"))
        .select(col("vec_id") +: wordCols: _*)
        .barrier() // query and corpus sides both read the packed words
      val q = withWords.filter(col("vec_id") < 8).select(
        col("vec_id").as("query_id") +:
          (0 until nWords).map(h => col(s"w$h").as(s"qw$h")): _*)
      val hamExpr = (0 until nWords)
        .map(h => s"bit_count(qw$h ^ w$h)").mkString(" + ")
      val scored = withWords
        .withColumnRenamed("vec_id", "neighbor_id")
        .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          expr(hamExpr).cast("bigint").as("ham"))
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("ham").asc, col("neighbor_id").asc)
      // 8x overscan (vs 4x for SQ/PQ): the published binary-quantization
      // discipline — 1-bit codes are the coarsest rank, but candidates
      // cost 2 longs each, so a wider rescore set is nearly free and
      // buys back the recall the sign bits lose
      val cand = scored.withColumn("qrank", row_number().over(wq))
        .filter(col("qrank") <= K * 8)
        .select(col("query_id"), col("neighbor_id"))
      rescoreTopK(s, dir, cand)
    }),
    // Product quantization — the remaining member of the FAISS family
    // (SQ compresses per-dim, IVF prunes lists, IVF+SQ composes; PQ
    // compresses per-SUBSPACE): each vector is encoded as 8 codeword ids
    // (8 B/vector — 32x less than float32, 8x less than SQ), candidates
    // rank by ADC quantized cosine against the codeword reconstructions,
    // and the top-4K survivors rescore with exact cosine via the id-only
    // join. Everything up to the one division is exact integer
    // arithmetic (int8 codes → BIGINT L2/dot sums), so encoding, ADC
    // ranking, and the candidate cut are bit-exact under the oracle —
    // including the argmin tie-breaks. Scale shape: the codebook is a
    // 1 KB 1-row broadcast; encoding is one narrow pass; only
    // (neighbor_id, 8-byte code) rows conceptually survive the scan and
    // only (long, long) candidate ids reach the ranking exchange.
    "sim_pq_ann" -> ((s, dir) => {
      val withCodes = pqWithCodes(s, dir)
      pqAnnBody(s, dir, withCodes, pqInitCbs(withCodes))
    }),
    // PQ over TRAINED codebooks — the published IVFPQ training recipe:
    // per-subspace Lloyd refinement of the codewords (assign each
    // subvector to its nearest codeword by exact integer L2, re-center
    // each codeword on its members' per-dim mean, rounded back to int8
    // so the next round's distances stay exact BIGINTs). Two rounds sit
    // fully under the oracle — every assignment, mean, and rounding is
    // the same integer/IEEE op in both engines (the kmeansTrain device
    // applied per subspace). The ANN body is byte-identical to
    // sim_pq_ann; only the codebook differs.
    "sim_pq_ann_trained" -> ((s, dir) => {
      val withCodes = pqWithCodes(s, dir)
      pqAnnBody(s, dir, withCodes, pqTrainCbs(withCodes, 2))
    }),
    // the trained codebook ITSELF (k, dim, code) — the training loop's
    // direct output under the oracle gate, and the artifact a deployment
    // persists/broadcasts
    "sim_pq_train" -> ((s, dir) =>
      pqTrainCbs(pqWithCodes(s, dir), 2)
        .select(posexplode(col("cbs")).as(Seq("k", "cv")))
        .select(col("k"), posexplode(col("cv")).as(Seq("dim", "code")))
        // BIGINT at the output boundary (posexplode pos is int32)
        .select(col("k").cast("long").as("k"),
          col("dim").cast("long").as("dim"), col("code"))),
    "sim_sq_ann" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.plans.GraftFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      val withCodes = emb.join(broadcast(sqScale(emb)), lit(true))
        .select(col("vec_id"), expr(codesExpr).as("codes"))
        .select(col("vec_id"), col("codes"), expr(n2Expr).as("n2"))
        .barrier()
      val q = withCodes.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("codes").as("qc"),
          col("n2").as("n2q"))
      // integer dot product + integer norms → exact quantized cosine, so
      // the candidate cut (top 4K, id tie-break) is deterministic
      val scored = withCodes
        .select(col("vec_id").as("neighbor_id"), col("codes").as("nc"),
          col("n2").as("n2n"))
        .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          expr(qsimExpr).as("qsim"))
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("qsim").desc, col("neighbor_id").asc)
      val cand = scored.withColumn("qrank", row_number().over(wq))
        .filter(col("qrank") <= K * 4)
        .select(col("query_id"), col("neighbor_id"))
      rescoreTopK(s, dir, cand)
    }),
    // IVF + SQ — the composed 100 TB ANN shape (the FAISS IVF-SQ layout):
    // the coarse quantizer PRUNES (only nprobe of C inverted lists are
    // read per query), the int8 codes COMPRESS the surviving scan (64 B
    // of codes + 4 B cluster id per vector instead of 256 B of floats),
    // and only the top-4K quantized-cosine candidates touch full vectors
    // again, via the id-only rescore join. Cluster assignment and
    // quantization happen in the SAME narrow pass over the corpus — two
    // 1-row broadcasts (centroids, scale), no extra scan, no join.
    "sim_ivfsq_ann" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.plans.GraftFunctions.register(s)
      val emb = t(s, dir, "embeddings")
      val (assigned, probes) = ivf(s, dir, ivfC(s), 4)
      val aug = assigned.join(broadcast(sqScale(emb)), lit(true))
        .select(col("vec_id"), col("cluster"), expr(codesExpr).as("codes"))
        .select(col("vec_id"), col("cluster"), col("codes"),
          expr(n2Expr).as("n2"))
        .barrier()
      // (query × probed-cluster × query-codes) is tiny — pre-join and
      // broadcast ONCE so the corpus side needs a single hash join
      val probeCodes = probes.select(col("query_id"), col("probe"))
        .join(aug.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("codes").as("qc"),
            col("n2").as("n2q")), "query_id")
      val scored = aug
        .select(col("vec_id").as("neighbor_id"), col("cluster"),
          col("codes").as("nc"), col("n2").as("n2n"))
        .join(broadcast(probeCodes), col("cluster") === col("probe") &&
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          expr(qsimExpr).as("qsim"))
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("qsim").desc, col("neighbor_id").asc)
      val cand = scored.withColumn("qrank", row_number().over(wq))
        .filter(col("qrank") <= K * 4)
        .select(col("query_id"), col("neighbor_id"))
      rescoreTopK(s, dir, cand)
    }),
    // IVF + PQ — the last cell of the FAISS index matrix (IndexIVFPQ in
    // its by_residual=false flavor: the coarse quantizer PRUNES lists,
    // the product quantizer COMPRESSES what the surviving scan reads —
    // 8 B of codeword ids per vector). Assignment and PQ encoding ride
    // the same narrow pass (three 1-row broadcasts: centroids, scale,
    // codebook); ADC ranks only pairs inside probed lists; the top-4K
    // rescore exactly via the id-only join. All-integer up to one
    // division, so every cut is bit-exact under the oracle.
    "sim_ivfpq_ann" -> ((s, dir) => {
      val (assigned, probes) = ivf(s, dir, ivfC(s), 4)
      val withCodes = pqWithCodes(s, dir)
      ivfPqBody(s, dir, assigned, probes, withCodes, pqInitCbs(withCodes))
    }),
    // IVF+PQ with BOTH stages trained — the full published IndexIVFPQ
    // training recipe: the coarse quantizer's centroids come from the
    // 2-round Lloyd ladder (ivfTrained, as sim_ivf_ann_trained) and the
    // product codebooks from the per-subspace Lloyd ladder (pqTrainCbs,
    // as sim_pq_ann_trained); the ANN body is byte-identical to
    // sim_ivfpq_ann. The oracle chains BOTH training ladders as CTEs —
    // every assignment, mean, rounding and cut is hash-exact.
    "sim_ivfpq_ann_trained" -> ((s, dir) => {
      val (assigned, probes) = ivfTrained(s, dir, ivfC(s), 4, 2)
      val withCodes = pqWithCodes(s, dir)
      ivfPqBody(s, dir, assigned, probes, withCodes,
        pqTrainCbs(withCodes, 2))
    }))

  /** The shared IVF+PQ ANN tail: PQ-encode the corpus against codebook
    * `cb`, ADC-rank inside probed inverted lists only, exact-rescore the
    * top-4K. `assigned`/`probes` come from either the first-C or the
    * trained coarse quantizer. */
  private def ivfPqBody(s: org.apache.spark.sql.SparkSession, dir: String,
      assigned: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame,
      withCodes: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val encDf = withCodes.join(broadcast(cb), lit(true))
      .select(col("vec_id"), col("cbs"), expr(pqEncExpr).as("enc"))
      .select(col("vec_id"), col("cbs"), col("enc"),
        expr(pqReconN2Expr).as("rn2"))
      .join(assigned.select(col("vec_id"), col("cluster")), "vec_id")
    val q = withCodes.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"),
        expr(n2Expr).as("n2q"))
    val probeQ = probes.select(col("query_id"), col("probe"))
      .join(q, "query_id")
    val scored = encDf
      .select(col("vec_id").as("neighbor_id"), col("cluster"),
        col("cbs"), col("enc"), col("rn2"))
      .join(broadcast(probeQ), col("cluster") === col("probe") &&
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr(pqAdcExpr).as("qsim"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("qsim").desc, col("neighbor_id").asc)
    val cand = scored.withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= K * 4)
      .select(col("query_id"), col("neighbor_id"))
    rescoreTopK(s, dir, cand)
  }

  /** DuckDB mirror of `ivf(16, _)`'s centroid assignment — the argmax is
    * re-expressed as row_number(csim DESC, cent_id ASC) = 1, semantically
    * identical. Shared WITH-prefix of every IVF-family oracle (ivf ann,
    * ivf+sq ann, semantic dedup, k-means step).
    */
  /** Complete sim_ivf_ann_trained oracle SELECT — a val so the recall
    * report can embed it verbatim as a nested-WITH CTE. */
  private lazy val oraIvfTrainedFull: String =
    s"""WITH $oraKmeansChain,
       |assigned AS (SELECT vec_id, cid AS cluster FROM af WHERE rk = 1),
       |probes AS (SELECT vec_id AS query_id, cid AS probe FROM af
       |           WHERE vec_id < 8 AND rk <= 4),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |                           CAST(ne.embedding AS DOUBLE[])) AS sim
       |  FROM assigned a
       |  JOIN probes p ON a.cluster = p.probe AND p.query_id <> a.vec_id
       |  JOIN embeddings qe ON qe.vec_id = p.query_id
       |  JOIN embeddings ne ON ne.vec_id = a.vec_id)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id ASC) AS rank
       |  FROM cand)
       |WHERE rank <= $K""".stripMargin

  private val oraIvfAssign: String =
    """cents AS (
      |  SELECT vec_id AS cent_id, embedding AS cv
      |  FROM embeddings WHERE vec_id < 16),
      |ranked AS (
      |  SELECT e.vec_id, c.cent_id,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                             CAST(c.cv AS DOUBLE[])) DESC,
      |      c.cent_id ASC) AS crank
      |  FROM embeddings e CROSS JOIN cents c),
      |assigned AS (SELECT vec_id, cent_id AS cluster FROM ranked
      |             WHERE crank = 1)""".stripMargin

  /** DuckDB mirror of `kmeansTrain(16, 2)` + the final micro reduction —
    * the iteration template (assign → integer reduce → exact re-encode)
    * is generated per round, chaining cents0 → cents1 → cents2. The
    * FLOAT[] cast is the load-bearing part: both engines re-encode each
    * trained centroid through the identical double-divide + float-round,
    * so round k+1's cosine inputs are bit-equal.
    */
  private lazy val oraKmeansChain: String = {
    def round(k: Int): String = {
      val prev = if (k == 1) "cents0" else s"cents${k - 1}"
      s"""a$k AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                             CAST(c.cv AS DOUBLE[])) DESC,
         |      c.cid ASC) AS rk
         |  FROM embeddings e CROSS JOIN $prev c),
         |s$k AS (
         |  SELECT cid AS cluster, j - 1 AS dim,
         |    CAST(sum(CAST(round(CAST(embedding[j] AS DOUBLE) * 1000000)
         |      AS BIGINT)) AS BIGINT) AS sm,
         |    count(*) AS n
         |  FROM (SELECT cid, embedding,
         |          unnest(generate_series(1, len(embedding))) AS j
         |        FROM a$k WHERE rk = 1)
         |  GROUP BY 1, 2),
         |cn$k AS (
         |  SELECT cluster AS cid,
         |    CAST(array_agg(CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000)
         |      ORDER BY dim) AS FLOAT[]) AS cv
         |  FROM s$k GROUP BY 1),
         |cents$k AS (
         |  SELECT p.cid, COALESCE(nw.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN cn$k nw ON nw.cid = p.cid)""".stripMargin
    }
    // the shared ladder: cents0 → cents1 → cents2 → the final trained
    // assignment `af` — prefix of sim_kmeans_train AND the trained
    // semantic-dedup oracle, so both gates pin the identical chain
    s"""cents0 AS (
       |  SELECT CAST(vec_id AS INT) AS cid, embedding AS cv
       |  FROM embeddings WHERE vec_id < 16),
       |${round(1)},
       |${round(2)},
       |af AS (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                             CAST(c.cv AS DOUBLE[])) DESC,
       |      c.cid ASC) AS rk
       |  FROM embeddings e CROSS JOIN cents2 c)""".stripMargin
  }

  private lazy val oraKmeansTrain: String =
    s"""WITH $oraKmeansChain
       |SELECT CAST(cid AS BIGINT) AS cluster, j - 1 AS dim,
       |  CAST(sum(CAST(round(CAST(embedding[j] AS DOUBLE) * 1000000)
       |    AS BIGINT)) AS BIGINT) AS sum_micro,
       |  count(*) AS n
       |FROM (SELECT cid, embedding,
       |        unnest(generate_series(1, len(embedding))) AS j
       |      FROM af WHERE rk = 1)
       |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- PCA

  /** Mean-centered integer embedding cells (vec_id, dim, c): values are
    * rounded to milli-units, the per-dim mean is a SIGN-SYMMETRIC
    * truncating division (CASE sign THEN a DIV n ELSE -((-a) DIV n)), so
    * Spark's DIV (truncate toward zero) and DuckDB's // (floor) agree on
    * every operand — the negative-operand extension of the DIV device the
    * other fixed-point oracles use. Barriered: each power-iteration round
    * reads it twice.
    */
  /** Raw (uncentered) milli-unit integer cells of a (vec_id, embedding)
    * relation — shared by [[pcaCells]] and the streaming sufficient-stats
    * tier (StatefulStreaming.pcaStatsIngestBatch), so both paths quantize
    * identically. */
  private[graft] def rawMilliCells(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000D) AS BIGINT)").as("xi"))

  private[graft] def pcaCells(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val cells = rawMilliCells(t(s, dir, "embeddings"))
    val means = cells.groupBy(col("dim"))
      .agg(sum(col("xi")).as("sx"), count(lit(1)).as("n"))
      .select(col("dim"),
        expr("CASE WHEN sx >= 0 THEN sx DIV n ELSE -((-sx) DIV n) END")
          .as("m"))
    cells.join(broadcast(means), "dim")
      .select(col("vec_id"), col("dim"), (col("xi") - col("m")).as("c"))
      .barrier()
  }

  /** One exact-integer power-iteration round: t = C·v (per-vector),
    * infinity-norm rescale to milli-units, w = Cᵀ·t (per-dim), rescale
    * again. Every rescale is the sign-symmetric DIV by the global
    * max-abs (a 1-row broadcast), so the whole round is bit-exact under
    * the oracle AND overflow-safe: |c| ≤ 2·10³ milli, rescaled factors ≤
    * 10³, so |w| ≤ 2·10⁶·N — the ·1000 rescale multiply stays inside
    * int64 past N = 10⁹ vectors. Scale shape: two thin joins (a d-row
    * broadcast, then a vec_id co-shuffle with the N-row t relation) and
    * two map-side-combinable aggregates (N-cell and d-cell); the
    * embeddings themselves never re-enter after the cells derivation.
    */
  private[graft] def pcaRound(cells: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tRel = cells.join(broadcast(v), "dim")
      .groupBy(col("vec_id"))
      .agg(sum(col("c") * col("v")).as("t"))
    val mt = tRel.agg(greatest(max(abs(col("t"))), lit(1L)).as("mt"))
    val tScaled = tRel.crossJoin(broadcast(mt))
      .select(col("vec_id"),
        expr("CASE WHEN t >= 0 THEN (t * 1000) DIV mt " +
          "ELSE -(((-t) * 1000) DIV mt) END").as("ts"))
    val w = cells.join(tScaled, "vec_id")
      .groupBy(col("dim"))
      .agg(sum(col("c") * col("ts")).as("w"))
    val mw = w.agg(greatest(max(abs(col("w"))), lit(1L)).as("mw"))
    w.crossJoin(broadcast(mw))
      .select(col("dim"),
        expr("CASE WHEN w >= 0 THEN (w * 1000) DIV mw " +
          "ELSE -(((-w) * 1000) DIV mw) END").as("v"))
  }

  /** Top principal direction after `rounds` power-iteration rounds, as
    * (dim, v) in milli-units with max-abs exactly 1000. Each round's
    * 64-row output is barriered so round r+1 doesn't replay rounds 1..r.
    * Exposed for the spec's Rayleigh-monotonicity check.
    */
  private[graft] def pcaV(s: org.apache.spark.sql.SparkSession, dir: String,
      rounds: Int, cellsIn: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val cells = cellsIn.getOrElse(pcaCells(s, dir))
    val d = t(s, dir, "embeddings")
      .select(size(col("embedding"))).head.getInt(0) // 1-row probe
    val v0 = s.range(d).select(col("id").as("dim"), lit(1000L).as("v"))
    (1 to rounds).foldLeft(v0)((v, _) => pcaRound(cells, v).barrier())
  }

  private val PcaRounds = 3
  private val PcaTopK = 4

  /** Sign-symmetric truncating integer division — the CASE both engines
    * evaluate identically (Spark DIV truncates toward zero, DuckDB //
    * floors; flipping the sign first makes them agree). */
  private def sdivSql(x: String, y: String): String =
    s"(CASE WHEN $x >= 0 THEN ($x) DIV ($y) ELSE -((-($x)) DIV ($y)) END)"

  /** The milli-scaled centered Gram — the d×d sufficient statistic the
    * whole top-k ladder runs on. The corpus is scanned exactly once
    * (inside the Gram aggregation, the sim_pca_gram d²-flow); the one
    * global rescale (DIV by max|G| DIV 10⁶, clamp ≥ 1) bounds cells at
    * 10⁶ so every downstream product stays far inside int64 at ANY
    * corpus size: round w ≤ d·10⁶·10³ ≈ 6.4·10¹⁰, Rayleigh numerator ≤
    * d²·10⁶·10⁶ = 4·10¹⁵, deflation term t1·va·vb ≤ trace·10⁶ ≈
    * 6.4·10¹³ (t1 ≤ λ_max ≤ trace(Gs) ≤ d·10⁶ since Gs is PSD). */
  private[graft] def pcaGramScaled(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import graft.core.Barrier.BarrierOps
    val cells = pcaCells(s, dir)
    val a = cells.select(col("vec_id"), col("dim").as("dim_a"),
      col("c").as("ca"))
    val b = cells.select(col("vec_id"), col("dim").as("dim_b"),
      col("c").as("cb"))
    val g = a.join(b, "vec_id").groupBy(col("dim_a"), col("dim_b"))
      .agg(sum(col("ca") * col("cb")).as("g"))
    pcaScaleGram(g)
  }

  /** The global DIV-10⁶ rescale of a centered (dim_a, dim_b, g) Gram —
    * the entry point shared by the batch query (cells-derived Gram) and
    * the streaming tier (store-maintained Gram, pcaGramFrom): both feed
    * the SAME ladder, so stream-maintained and batch top-k components
    * can only differ if their Grams differ — and Gram parity is already
    * pinned (StreamingSpec). */
  private[graft] def pcaScaleGram(g: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.core.Barrier.BarrierOps
    val gb = g.barrier() // read by the scale probe AND the rescale
    val gsc = gb.agg(greatest(expr("max(abs(g)) DIV 1000000"), lit(1L))
      .as("gsc"))
    gb.crossJoin(broadcast(gsc))
      .select(col("dim_a"), col("dim_b"), expr(sdivSql("g", "gsc")).as("g"))
      .barrier() // read by every round and every deflation
  }

  /** The k-component deflation ladder over a SCALED Gram — shared by
    * sim_pca_topk and the streaming-store twin. */
  private[graft] def pcaTopkFrom(gsIn: org.apache.spark.sql.DataFrame,
      d: Int, s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import graft.core.Barrier.BarrierOps
    val v0 = s.range(d).select(col("id").as("dim"), lit(1000L).as("v"))
    var gs = gsIn
    (1 to PcaTopK).map { k =>
      val v = (1 to PcaRounds)
        .foldLeft(v0)((vv, _) => gramRound(gs, vv).barrier())
      if (k < PcaTopK) gs = gramDeflate(gs, v)
      v.select(lit(k.toLong).as("comp"), col("dim"), col("v").as("v_milli"))
    }.reduce(_ unionByName _)
  }

  /** One power-iteration round ON THE GRAM: w = Gs·v then the same
    * infinity-norm milli rescale as pcaRound — d-row relations only. */
  private[graft] def gramRound(gs: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = gs
      .join(broadcast(v.select(col("dim").as("dim_b"), col("v"))), "dim_b")
      .groupBy(col("dim_a")).agg(sum(col("g") * col("v")).as("w"))
      .select(col("dim_a").as("dim"), col("w"))
    val mw = w.agg(greatest(max(abs(col("w"))), lit(1L)).as("mw"))
    w.crossJoin(broadcast(mw))
      .select(col("dim"), expr(sdivSql("w * 1000", "mw")).as("v"))
  }

  /** Hotelling deflation on the Gram: Gs' = Gs − t1·v·vᵀ DIV vns with
    * t1 = (vᵀGs v) DIV vns — the exact-integer rank-1 removal, all on
    * d²-row relations. */
  private[graft] def gramDeflate(gs: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.core.Barrier.BarrierOps
    val vb = v.barrier() // read by the norm, the numerator and the update
    val vns = vb.agg(sum(col("v") * col("v")).as("vns"))
    val num = gs
      .join(broadcast(vb.select(col("dim").as("dim_a"), col("v").as("va"))),
        "dim_a")
      .join(broadcast(vb.select(col("dim").as("dim_b"), col("v").as("vb"))),
        "dim_b")
      .agg(sum(col("va") * col("g") * col("vb")).as("num"))
    val t1 = num.crossJoin(vns)
      .select(expr(sdivSql("num", "vns")).as("t1"), col("vns"))
    gs
      .join(broadcast(vb.select(col("dim").as("dim_a"), col("v").as("va"))),
        "dim_a")
      .join(broadcast(vb.select(col("dim").as("dim_b"), col("v").as("vb"))),
        "dim_b")
      .crossJoin(broadcast(t1))
      .select(col("dim_a"), col("dim_b"),
        (col("g") - expr(sdivSql("t1 * va * vb", "vns"))).as("g"))
      .barrier()
  }

  private val queriesPca: Map[String, Q] = Map(
    // Dimensionality reduction, the missing embedding-pipeline family:
    // the corpus's top principal direction via 3 power-iteration rounds
    // in EXACT integer arithmetic (milli-unit cells, sign-symmetric
    // truncating DIV, infinity-norm rescaling — no sqrt, no float
    // accumulation), so the DuckDB oracle re-derives the whole ladder
    // bit-for-bit, the sim_kmeans_train treatment applied to PCA. The
    // classic use: project onto the leading component(s) to curate (drift
    // axes, coarse topic axes) or to cheapen downstream ANN.
    "sim_pca_power" -> ((s, dir) =>
      pcaV(s, dir, PcaRounds).select(col("dim"), col("v").as("v_milli"))),
    // Per-vector projection onto the learned direction (micro-units:
    // milli cells × milli component) — the 1-D curation axis. Thin
    // shape: one d-row broadcast join + N-cell aggregate; labels attach
    // by id, embeddings never move.
    "sim_pca_project" -> ((s, dir) => {
      val cells = pcaCells(s, dir)
      val v = pcaV(s, dir, PcaRounds, Some(cells))
      val proj = cells.join(broadcast(v), "dim")
        .groupBy(col("vec_id"))
        .agg(sum(col("c") * col("v")).as("proj_micro"))
      t(s, dir, "embeddings").select(col("vec_id"), col("label"))
        .join(proj, "vec_id")
    }),
    // Top-2 components via DEFLATION — the published method for the next
    // component: subtract each cell's projection onto v₁ (a per-cell
    // integer (proj·v₁ⱼ) DIV ‖v₁‖², sign-symmetric, so the deflated
    // relation is exact and oracle-mirrorable), then run the same 3
    // power-iteration rounds on the deflated cells. v₂ lands in the
    // hyperplane ⊥ v₁ up to milli-unit truncation (near-orthogonality
    // pinned in PcaSpec). Same thin shapes: the deflation pass is one
    // vec_id co-shuffle (proj attach) + two broadcasts, then rounds as
    // before. Output: (comp, dim, v_milli), 2·d rows.
    "sim_pca_top2" -> ((s, dir) => {
      val cells = pcaCells(s, dir)
      val v1 = pcaV(s, dir, PcaRounds, Some(cells))
      val vns = v1.agg(sum(col("v") * col("v")).as("vns"))
      val proj = cells.join(broadcast(v1), "dim")
        .groupBy(col("vec_id")).agg(sum(col("c") * col("v")).as("proj"))
      val cells2 = cells
        .join(proj, "vec_id")
        .join(broadcast(v1.select(col("dim"), col("v").as("v1"))), "dim")
        .crossJoin(broadcast(vns))
        .select(col("vec_id"), col("dim"),
          expr("c - (CASE WHEN proj * v1 >= 0 THEN (proj * v1) DIV vns " +
            "ELSE -((-(proj * v1)) DIV vns) END)").as("c"))
        .barrier()
      val v2 = pcaV(s, dir, PcaRounds, Some(cells2))
      v1.select(lit(1L).as("comp"), col("dim"), col("v").as("v_milli"))
        .unionByName(v2.select(lit(2L).as("comp"), col("dim"),
          col("v").as("v_milli")))
    }),
    // The centered d×d Gram matrix — PCA's MERGEABLE SUFFICIENT
    // STATISTIC, and the 100 TB state story: raw Gram + per-dim sums are
    // plain additive integers, so per-batch contributions sum to the
    // corpus value exactly (the streaming tier maintains them; see
    // StatefulStreaming.pcaStatsIngestBatch), and the centered matrix
    // Gc = G_raw − m·sxᵀ − sx·mᵀ + n·m·mᵀ (truncated integer means) is
    // BIT-IDENTICAL to Σ c·cᵀ over the centered cells — an algebraic
    // identity because m is a per-dim constant. Batch shape: the one
    // inherent d²-flow (cells self-join on vec_id, both sides one
    // ReusedExchange) collapsing map-side into d² cells; output O(d²),
    // corpus-size-independent.
    "sim_pca_gram" -> ((s, dir) => {
      val cells = pcaCells(s, dir)
      val a = cells.select(col("vec_id"), col("dim").as("dim_a"),
        col("c").as("ca"))
      val b = cells.select(col("vec_id"), col("dim").as("dim_b"),
        col("c").as("cb"))
      a.join(b, "vec_id")
        .groupBy(col("dim_a"), col("dim_b"))
        .agg(sum(col("ca") * col("cb")).as("g"))
    }),
    // Variance-explained report — the 1-row decision readout ("is one
    // axis enough?"): total centered sum-of-squares, the component's
    // norm², the projection sum-of-squares (projections pre-scaled DIV
    // 1000; worst case |proj DIV 1000| ≈ 1.28e5, so Σp² ≈ N·1.64e10 —
    // inside int64 to N ≈ 5×10⁸ vectors worst-case, NOT 10⁹; past that,
    // pre-scale DIV 10⁴ instead, trading 1 digit of ratio precision —
    // ADVICE r10 corrected the original 10⁹ claim), and their IEEE
    // ratio (one double division at the boundary, same operands both
    // engines). var_explained ≈ Σproj²/(‖v‖²·Σc²) ∈ (0, 1].
    "sim_pca_variance" -> ((s, dir) => {
      val cells = pcaCells(s, dir)
      val v = pcaV(s, dir, PcaRounds, Some(cells))
      val tss = cells.agg(sum(col("c") * col("c")).as("total_ss"))
      val vns = v.agg(sum(col("v") * col("v")).as("v_norm_sq"))
      val pss = cells.join(broadcast(v), "dim")
        .groupBy(col("vec_id"))
        .agg(sum(col("c") * col("v")).as("proj"))
        .select(expr("CASE WHEN proj >= 0 THEN proj DIV 1000 " +
          "ELSE -((-proj) DIV 1000) END").as("p"))
        .agg(sum(col("p") * col("p")).as("proj_ss"))
      tss.crossJoin(vns).crossJoin(pss)
        .select(col("total_ss"), col("v_norm_sq"), col("proj_ss"),
          expr("(CAST(proj_ss AS DOUBLE) * 1000000.0D) / " +
            "(CAST(v_norm_sq AS DOUBLE) * CAST(total_ss AS DOUBLE))")
            .as("var_explained"))
    }),
    // Top-k components (k=4) via ITERATED Hotelling deflation, run
    // entirely ON THE GRAM (r10 verdict #6): sim_pca_top2 deflates the
    // N·d cells relation — each extra component re-joins the corpus —
    // whereas here the corpus is scanned ONCE into the d×d scaled Gram
    // (pcaGramScaled) and all k power ladders + deflations iterate
    // 64×64-row relations. At 100 TB components 2..k are free of any
    // corpus traffic; this is the generalization path (sim_pca_top2
    // stays as the cells-exact variant). Exact integers throughout (see
    // pcaGramScaled's bound audit); PcaSpec pins pairwise
    // near-orthogonality and Rayleigh variance-ordering.
    "sim_pca_topk" -> ((s, dir) => {
      val d = t(s, dir, "embeddings")
        .select(size(col("embedding"))).head.getInt(0) // 1-row probe
      pcaTopkFrom(pcaGramScaled(s, dir), d, s)
    }))

  /** DuckDB mirror of [[pcaCells]] + [[pcaRound]] × 3: the chained-CTE
    * ladder device (sim_kmeans_train / sim_pq_train) applied to power
    * iteration. Sums cast back to BIGINT (DuckDB widens to HUGEINT);
    * every division is the sign-symmetric // with non-negative operands.
    */
  private def oraPcaRound(r: Int, src: String = "cen",
      prev0: String = null): String = {
    val prev = if (prev0 != null) prev0 else s"v${r - 1}"
    s"""t$r AS MATERIALIZED (SELECT vec_id, CAST(sum(c * v) AS BIGINT) AS t
       |        FROM $src JOIN $prev USING (dim) GROUP BY 1),
       |mt$r AS (SELECT greatest(max(abs(t)), 1) AS mt FROM t$r),
       |ts$r AS MATERIALIZED (SELECT vec_id, CASE WHEN t >= 0 THEN (t * 1000) // mt
       |                  ELSE -(((-t) * 1000) // mt) END AS ts
       |         FROM t$r, mt$r),
       |w$r AS MATERIALIZED (SELECT dim, CAST(sum(c * ts) AS BIGINT) AS w
       |        FROM $src JOIN ts$r USING (vec_id) GROUP BY 1),
       |mw$r AS (SELECT greatest(max(abs(w)), 1) AS mw FROM w$r),
       |v$r AS MATERIALIZED (SELECT dim, CASE WHEN w >= 0 THEN (w * 1000) // mw
       |                 ELSE -(((-w) * 1000) // mw) END AS v
       |        FROM w$r, mw$r)""".stripMargin
  }

  /** The cells → stats → centered-cells prefix (no iteration rounds) —
    * shared with the Gram oracle. */
  private lazy val oraPcaBase: String =
    s"""cells AS MATERIALIZED (
       |  SELECT vec_id, CAST(j - 1 AS BIGINT) AS dim,
       |    CAST(round(CAST(embedding[j] AS DOUBLE) * 1000) AS BIGINT) AS xi
       |  FROM (SELECT vec_id, embedding,
       |          unnest(generate_series(1, len(embedding))) AS j
       |        FROM embeddings)),
       |st AS MATERIALIZED (SELECT dim, CAST(sum(xi) AS BIGINT) AS sx,
       |         CAST(count(*) AS BIGINT) AS n
       |       FROM cells GROUP BY 1),
       |cen AS MATERIALIZED (SELECT c.vec_id, c.dim,
       |          c.xi - (CASE WHEN st.sx >= 0 THEN st.sx // st.n
       |                       ELSE -((-st.sx) // st.n) END) AS c
       |        FROM cells c JOIN st ON st.dim = c.dim),
       |v0 AS MATERIALIZED (SELECT dim, CAST(1000 AS BIGINT) AS v FROM st)""".stripMargin

  private lazy val oraPcaChain: String =
    s"""$oraPcaBase,
       |${(1 to PcaRounds).map(r => oraPcaRound(r)).mkString(",\n")}""".stripMargin

  private def oraSdiv(x: String, y: String): String =
    s"(CASE WHEN $x >= 0 THEN ($x) // ($y) ELSE -((-($x)) // ($y)) END)"

  /** One Gram-power round for component k: w = Gs_{k-1}·v, milli rescale
    * — mirrors gramRound. */
  private def oraGramRound(k: Int, r: Int): String = {
    val src = s"gs${k - 1}"
    val prev = if (r == 1) "v0" else s"gv${k}_${r - 1}"
    s"""gw${k}_$r AS MATERIALIZED (
       |  SELECT g.dim_a AS dim, CAST(sum(g.g * v.v) AS BIGINT) AS w
       |  FROM $src g JOIN $prev v ON v.dim = g.dim_b GROUP BY 1),
       |gm${k}_$r AS (SELECT greatest(max(abs(w)), 1) AS mw FROM gw${k}_$r),
       |gv${k}_$r AS MATERIALIZED (
       |  SELECT dim, ${oraSdiv("w * 1000", "mw")} AS v
       |  FROM gw${k}_$r, gm${k}_$r)""".stripMargin
  }

  /** Hotelling deflation after component k — mirrors gramDeflate. */
  private def oraGramDeflate(k: Int): String =
    s"""ns$k AS (SELECT CAST(sum(v * v) AS BIGINT) AS vns FROM gv${k}_$PcaRounds),
       |nm$k AS (SELECT CAST(sum(a.v * g.g * b.v) AS BIGINT) AS num
       |         FROM gs${k - 1} g JOIN gv${k}_$PcaRounds a ON a.dim = g.dim_a
       |                           JOIN gv${k}_$PcaRounds b ON b.dim = g.dim_b),
       |tt$k AS (SELECT ${oraSdiv("num", "vns")} AS t1, vns FROM nm$k, ns$k),
       |gs$k AS MATERIALIZED (
       |  SELECT g.dim_a, g.dim_b,
       |    g.g - ${oraSdiv("t.t1 * a.v * b.v", "t.vns")} AS g
       |  FROM gs${k - 1} g JOIN gv${k}_$PcaRounds a ON a.dim = g.dim_a
       |                    JOIN gv${k}_$PcaRounds b ON b.dim = g.dim_b, tt$k t)""".stripMargin

  /** Base + scaled Gram + k alternating (3-round ladder, deflation)
    * passes — mirrors the sim_pca_topk loop CTE-for-CTE. */
  private lazy val oraPcaTopkChain: String = {
    val passes = (1 to PcaTopK).map { k =>
      val rounds = (1 to PcaRounds).map(oraGramRound(k, _)).mkString(",\n")
      if (k < PcaTopK) rounds + ",\n" + oraGramDeflate(k) else rounds
    }.mkString(",\n")
    s"""$oraPcaBase,
       |g0 AS MATERIALIZED (
       |  SELECT a.dim AS dim_a, b.dim AS dim_b,
       |    CAST(sum(a.c * b.c) AS BIGINT) AS g
       |  FROM cen a JOIN cen b USING (vec_id) GROUP BY 1, 2),
       |gsc AS (SELECT greatest(max(abs(g)) // 1000000, 1) AS gsc FROM g0),
       |gs0 AS MATERIALIZED (
       |  SELECT dim_a, dim_b, ${oraSdiv("g", "gsc")} AS g FROM g0, gsc),
       |$passes""".stripMargin
  }

  /** v₁ chain + integer deflation + a second 3-round ladder on the
    * deflated cells (rounds 4–6 restart from the all-1000 v0). */
  private lazy val oraPcaTop2Chain: String =
    s"""$oraPcaChain,
       |vns AS MATERIALIZED (SELECT CAST(sum(v * v) AS BIGINT) AS vns
       |        FROM v$PcaRounds),
       |prj AS MATERIALIZED (SELECT vec_id, CAST(sum(c * v) AS BIGINT) AS proj
       |        FROM cen JOIN v$PcaRounds USING (dim) GROUP BY 1),
       |cen2 AS MATERIALIZED (
       |  SELECT c.vec_id, c.dim,
       |    c.c - (CASE WHEN p.proj * v.v >= 0
       |               THEN (p.proj * v.v) // n.vns
       |               ELSE -((-(p.proj * v.v)) // n.vns) END) AS c
       |  FROM cen c
       |  JOIN prj p USING (vec_id)
       |  JOIN v$PcaRounds v USING (dim), vns n),
       |${oraPcaRound(PcaRounds + 1, "cen2", "v0")},
       |${oraPcaRound(PcaRounds + 2, "cen2")},
       |${oraPcaRound(PcaRounds + 3, "cen2")}""".stripMargin

  def oracles: Map[String, String] = Map(
    "sim_pca_gram" ->
      s"""WITH $oraPcaBase
         |SELECT a.dim AS dim_a, b.dim AS dim_b,
         |  CAST(sum(a.c * b.c) AS BIGINT) AS g
         |FROM cen a JOIN cen b USING (vec_id)
         |GROUP BY 1, 2""".stripMargin,
    "sim_pca_top2" ->
      s"""WITH $oraPcaTop2Chain
         |SELECT CAST(1 AS BIGINT) AS comp, dim, CAST(v AS BIGINT) AS v_milli
         |FROM v$PcaRounds
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), dim, CAST(v AS BIGINT)
         |FROM v${2 * PcaRounds}""".stripMargin,
    "sim_pca_power" ->
      s"""WITH $oraPcaChain
         |SELECT dim, CAST(v AS BIGINT) AS v_milli FROM v$PcaRounds""".stripMargin,
    "sim_pca_topk" ->
      s"""WITH $oraPcaTopkChain
         |${(1 to PcaTopK).map(k =>
             s"SELECT CAST($k AS BIGINT) AS comp, dim, " +
               s"CAST(v AS BIGINT) AS v_milli FROM gv${k}_$PcaRounds")
           .mkString("\nUNION ALL\n")}""".stripMargin,
    "sim_pca_project" ->
      s"""WITH $oraPcaChain,
         |pr AS (SELECT vec_id, CAST(sum(c * v) AS BIGINT) AS proj_micro
         |       FROM cen JOIN v$PcaRounds USING (dim) GROUP BY 1)
         |SELECT e.vec_id, e.label, p.proj_micro
         |FROM embeddings e JOIN pr p USING (vec_id)""".stripMargin,
    "sim_pca_variance" ->
      s"""WITH $oraPcaChain,
         |tss AS (SELECT CAST(sum(c * c) AS BIGINT) AS total_ss FROM cen),
         |vns AS (SELECT CAST(sum(v * v) AS BIGINT) AS v_norm_sq
         |        FROM v$PcaRounds),
         |pss AS (
         |  SELECT CAST(sum(p * p) AS BIGINT) AS proj_ss FROM (
         |    SELECT CASE WHEN proj >= 0 THEN proj // 1000
         |                ELSE -((-proj) // 1000) END AS p
         |    FROM (SELECT vec_id, CAST(sum(c * v) AS BIGINT) AS proj
         |          FROM cen JOIN v$PcaRounds USING (dim) GROUP BY 1)))
         |SELECT t.total_ss, v.v_norm_sq, p.proj_ss,
         |  (CAST(p.proj_ss AS DOUBLE) * 1000000.0) /
         |    (CAST(v.v_norm_sq AS DOUBLE) * CAST(t.total_ss AS DOUBLE))
         |    AS var_explained
         |FROM tss t, vns v, pss p""".stripMargin,
    "sim_kmeans_train" -> oraKmeansTrain,
    // mirrors sim_kmeans_quality: the shared training ladder, then the
    // winning-centroid cosine re-derived per member (af carries rank,
    // not the value), micro-rounded; cohesion rollup, C² separation
    // matrix with the argmax as row_number(sm DESC, ocid ASC) = 1, and
    // the C-row report keyed on the trained centroid set. cf is
    // MATERIALIZED: cents2 is referenced four more times here and each
    // plain-CTE inline re-runs the whole 2-round Lloyd ladder
    "sim_kmeans_quality" ->
      s"""WITH $oraKmeansChain,
         |cf AS MATERIALIZED (SELECT cid, cv FROM cents2),
         |thin AS (
         |  SELECT a.cid AS cluster,
         |    CAST(round(list_cosine_similarity(
         |      CAST(a.embedding AS DOUBLE[]),
         |      CAST(c.cv AS DOUBLE[])) * 1000000) AS BIGINT) AS cm
         |  FROM af a JOIN cf c ON c.cid = a.cid
         |  WHERE a.rk = 1),
         |coh AS (
         |  SELECT cluster, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(cm) AS BIGINT) AS coh_sum,
         |    CAST(min(cm) AS BIGINT) AS coh_min_micro
         |  FROM thin GROUP BY 1),
         |sepall AS (
         |  SELECT a.cid AS acid, b.cid AS ocid,
         |    CAST(round(list_cosine_similarity(
         |      CAST(a.cv AS DOUBLE[]),
         |      CAST(b.cv AS DOUBLE[])) * 1000000) AS BIGINT) AS sm
         |  FROM cf a JOIN cf b ON a.cid <> b.cid),
         |sep AS (
         |  SELECT acid AS cluster, ocid AS nn_cid, sm AS sep_micro FROM (
         |    SELECT acid, ocid, sm, row_number() OVER (PARTITION BY acid
         |      ORDER BY sm DESC, ocid ASC) AS rk FROM sepall)
         |  WHERE rk = 1)
         |SELECT CAST(c2.cid AS BIGINT) AS cluster, coh.n,
         |  CASE WHEN coh.coh_sum >= 0 THEN coh.coh_sum // coh.n
         |       ELSE -((-coh.coh_sum) // coh.n) END AS coh_mean_micro,
         |  coh.coh_min_micro, CAST(s.nn_cid AS BIGINT) AS nn_cid,
         |  s.sep_micro
         |FROM cf c2
         |LEFT JOIN coh ON coh.cluster = c2.cid
         |LEFT JOIN sep s ON s.cluster = c2.cid""".stripMargin,
    // mirrors sample_kcenter_diverse: the greedy unrolled to exactly
    // KcenterPicks pick/update pairs — each round's pick is the
    // (sim ASC, vec_id ASC) LIMIT 1 twin of the engine's struct-min,
    // each update joins the 1-row picked embedding onto the running
    // state. Every st/p CTE is MATERIALIZED (each is referenced twice:
    // the next pick and the next update — per-reference inlining would
    // double the plan per round)
    "sample_kcenter_diverse" -> {
      val rounds = (1 to KcenterPicks).map { k =>
        val pick =
          s"""p$k AS MATERIALIZED (
             |  SELECT vec_id, sim FROM st${k - 1}
             |  ORDER BY sim ASC, vec_id ASC LIMIT 1)""".stripMargin
        val update = if (k < KcenterPicks)
          s""",
             |st$k AS MATERIALIZED (
             |  SELECT t.vec_id,
             |    greatest(t.sim, list_cosine_similarity(
             |      CAST(te.embedding AS DOUBLE[]),
             |      CAST(ce.embedding AS DOUBLE[]))) AS sim
             |  FROM st${k - 1} t
             |  JOIN embeddings te ON te.vec_id = t.vec_id
             |  CROSS JOIN (SELECT e.embedding FROM p$k
             |              JOIN embeddings e USING (vec_id)) ce)"""
            .stripMargin
        else ""
        pick + update
      }.mkString(",\n")
      val out = (1 to KcenterPicks).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS pick_order, vec_id,
           |  CAST(round(sim * 1000000) AS BIGINT) AS gap_micro
           |FROM p$k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH st0 AS MATERIALIZED (
         |  SELECT vec_id, CAST(-2.0 AS DOUBLE) AS sim FROM embeddings),
         |$rounds
         |$out""".stripMargin
    },
    // trained-assignment twin of the dedup_semantic oracle: the SAME
    // keep-first dedup, blocked by the cents2 (2-round-Lloyd) assignment
    // from the shared training ladder
    "dedup_semantic_trained" ->
      s"""WITH $oraKmeansChain,
         |assigned AS (SELECT vec_id, cid AS cluster FROM af WHERE rk = 1),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                               CAST(eb.embedding AS DOUBLE[])) >= 0.3)
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM assigned
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin,
    // same assignment CTE as the IVF mirrors; the outlier ranking then
    // orders within each cluster by the kept crank=1 csim ASC
    "sim_centroid_outliers" ->
      """WITH cents AS (
        |  SELECT CAST(vec_id AS INT) AS cid, embedding AS cv
        |  FROM embeddings WHERE vec_id < 16),
        |sims AS (
        |  SELECT e.vec_id, c.cid,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                           CAST(c.cv AS DOUBLE[])) AS csim,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                             CAST(c.cv AS DOUBLE[])) DESC,
        |      c.cid ASC) AS crank
        |  FROM embeddings e CROSS JOIN cents c),
        |assigned AS (SELECT vec_id, cid, csim FROM sims WHERE crank = 1)
        |SELECT cluster, outlier_rank, vec_id FROM (
        |  SELECT CAST(cid AS BIGINT) AS cluster, vec_id,
        |    row_number() OVER (PARTITION BY cid
        |      ORDER BY csim ASC, vec_id ASC) AS outlier_rank
        |  FROM assigned)
        |WHERE outlier_rank <= 8""".stripMargin,
    // mirrors sim_pq_ann relationally: the same int8 codes, per-subspace
    // argmin integer-L2 encoding (row_number over exact BIGINT distances,
    // codeword-id tie-break), exact-integer ADC dot/norms, one double
    // division, top-4K cut, exact-cosine rescore. Integer sums are
    // order-independent, so the exploded-row GROUP BYs here equal the
    // Spark side's index-ordered HOF accumulations bit-for-bit.
    "sim_pq_ann" -> oraPqAnnFull,
    // the per-subspace Lloyd ladder: round r assigns every subvector by
    // exact integer L2 (dists_t/enc_t), re-centers each (codeword, dim)
    // cell on the members' mean rounded half-up to INT (means_t), and
    // keeps the previous codeword where a cell is empty (cb_r COALESCE)
    // — the same ops in the same order as pqTrainCbs, so 2 full rounds
    // are hash-exact
    "sim_pq_train" ->
      s"""WITH $oraPqCodes,
         |${oraPqTrainLadder(2)}
         |cbt AS (SELECT k, dim, c AS code FROM cb2)
         |SELECT k, dim, code FROM cbt""".stripMargin,
    // trained codebook, then the sim_pq_ann body verbatim on cb2
    "sim_pq_ann_trained" ->
      s"""WITH $oraPqCodes,
         |${oraPqTrainLadder(2)}
         |cb AS (SELECT k, dim, c FROM cb2),
         |$oraPqAnnBody""".stripMargin,
    // mirrors the IVF+SQ composition: the shared assignment + probes,
    // sq's integer codes/norms, quantized-cosine ranking inside probed
    // clusters only, exact-cosine rescore of the top-4K
    "sim_ivfsq_ann" ->
      s"""WITH $oraIvfAssign,
         |probes AS (SELECT vec_id AS query_id, cent_id AS probe FROM ranked
         |           WHERE vec_id < 8 AND crank <= 4),
         |amax AS (
         |  SELECT CAST(max(abs(embedding[j])) AS DOUBLE) AS am
         |  FROM (SELECT embedding,
         |          unnest(generate_series(1, len(embedding))) AS j
         |        FROM embeddings)),
         |codes AS (
         |  SELECT vec_id, j - 1 AS dim,
         |    CAST(round(CAST(embedding[j] AS DOUBLE)
         |         / (SELECT am FROM amax) * 127.0) AS INT) AS c
         |  FROM (SELECT vec_id, embedding,
         |          unnest(generate_series(1, len(embedding))) AS j
         |        FROM embeddings)),
         |n2 AS (
         |  SELECT vec_id, CAST(sum(CAST(c AS BIGINT) * c) AS BIGINT) AS n2
         |  FROM codes GROUP BY 1),
         |pairs AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM assigned a
         |  JOIN probes p ON a.cluster = p.probe AND p.query_id <> a.vec_id),
         |scores AS (
         |  SELECT pr.query_id, pr.neighbor_id,
         |    CAST(sum(CAST(cq.c AS BIGINT) * cn.c) AS BIGINT) AS dotq
         |  FROM pairs pr
         |  JOIN codes cq ON cq.vec_id = pr.query_id
         |  JOIN codes cn ON cn.vec_id = pr.neighbor_id AND cn.dim = cq.dim
         |  GROUP BY 1, 2),
         |qsims AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    CASE WHEN nq.n2 = 0 OR nn.n2 = 0 THEN -2.0
         |         ELSE CAST(s.dotq AS DOUBLE)
         |              / sqrt(CAST(nq.n2 * nn.n2 AS DOUBLE)) END AS qsim
         |  FROM scores s
         |  JOIN n2 nq ON nq.vec_id = s.query_id
         |  JOIN n2 nn ON nn.vec_id = s.neighbor_id),
         |cand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY qsim DESC, neighbor_id ASC) AS qrank
         |    FROM qsims)
         |  WHERE qrank <= ${K * 4}),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                           CAST(ne.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings qe ON qe.vec_id = c.query_id
         |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= $K""".stripMargin,
    // mirrors queriesSq: same double quantization arithmetic, same exact
    // integer prefilter, same cosine rescoring of the top-4K candidates
    "sim_sq_ann" -> oraSqAnnFull,
    // mirrors sim_hamming_ann: same int8 codes (oraPqCodes), sign bits
    // packed per 32-dim word via integer shifts, popcount-Hamming rank
    // (xor + bit_count — both exact on BIGINT in both engines), then
    // the shared top-4K exact-cosine rescore
    "sim_hamming_ann" ->
      s"""WITH $oraPqCodes,
         |words AS (
         |  SELECT vec_id, dim // 32 AS w,
         |    CAST(sum(CASE WHEN c > 0
         |        THEN (CAST(1 AS BIGINT) << (dim % 32))
         |        ELSE 0 END) AS BIGINT) AS wd
         |  FROM codes GROUP BY 1, 2),
         |hams AS (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    CAST(sum(bit_count(xor(q.wd, n.wd))) AS BIGINT) AS ham
         |  FROM words q JOIN words n ON q.w = n.w
         |    AND q.vec_id < 8 AND q.vec_id <> n.vec_id
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ham ASC, neighbor_id ASC) AS qrank
         |    FROM hams)
         |  WHERE qrank <= ${K * 8}),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                           CAST(ne.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings qe ON qe.vec_id = c.query_id
         |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= $K""".stripMargin,
    // mirrors sim_ivfpq_ann_trained: BOTH training ladders chained — the
    // coarse quantizer's 2-round Lloyd (oraKmeansChain → af) and the PQ
    // per-subspace Lloyd (oraPqTrainLadder → cb2) — feeding the shared
    // probed-list-constrained ANN body
    "sim_ivfpq_ann_trained" ->
      s"""WITH $oraKmeansChain,
         |assigned AS (SELECT vec_id, cid AS cluster FROM af WHERE rk = 1),
         |probes AS (SELECT vec_id AS query_id, cid AS probe FROM af
         |           WHERE vec_id < 8 AND rk <= 4),
         |$oraPqCodes,
         |${oraPqTrainLadder(2)}
         |cb AS (SELECT k, dim, c FROM cb2),
         |${oraPqAnnBodyWith(
        "JOIN assigned av ON av.vec_id = e.vec_id\n" +
          "  JOIN probes p ON p.probe = av.cluster " +
          "AND p.query_id = qc.vec_id")}""".stripMargin,
    // mirrors sim_ivfpq_ann: the IVF assignment + probes CTEs prepended
    // and the shared PQ ANN body's ADC constrained to probed lists
    "sim_ivfpq_ann" ->
      s"""WITH $oraIvfAssign,
         |probes AS (SELECT vec_id AS query_id, cent_id AS probe FROM ranked
         |           WHERE vec_id < 8 AND crank <= 4),
         |$oraPqCodes,
         |cb AS (SELECT vec_id AS k, dim, c FROM codes
         |       WHERE vec_id < $PqK),
         |${oraPqAnnBodyWith(
        "JOIN assigned av ON av.vec_id = e.vec_id\n" +
          "  JOIN probes p ON p.probe = av.cluster " +
          "AND p.query_id = qc.vec_id")}""".stripMargin,
    "sim_topk_bruteforce" ->
      s"""SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                             CAST(n.embedding AS DOUBLE[])) DESC,
         |      n.vec_id ASC) AS rank
         |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
         |  WHERE q.vec_id < 8)
         |WHERE rank <= $K""".stripMargin,
    "sim_range_search" ->
      """SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
        |FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
        |WHERE q.vec_id < 8
        |  AND list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                             CAST(n.embedding AS DOUBLE[])) >= 0.3""".stripMargin,
    "sim_pairs_threshold" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.3""".stripMargin,
    "dedup_embedding_canonical" ->
      """SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (
        |  SELECT b.vec_id FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.3)""".stripMargin,
    // mirrors sim_kmeans_step: the shared assignment, then the
    // fixed-point reduction
    "sim_kmeans_step" ->
      s"""WITH $oraIvfAssign
        |SELECT cluster, j - 1 AS dim,
        |  CAST(sum(CAST(round(CAST(embedding[j] AS DOUBLE) * 1000000)
        |    AS BIGINT)) AS BIGINT) AS sum_micro,
        |  count(*) AS n
        |FROM (SELECT a.cluster, e.embedding,
        |        unnest(generate_series(1, len(e.embedding))) AS j
        |      FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id)
        |GROUP BY 1, 2""".stripMargin,
    // mirrors dedup_semantic: the shared assignment, then keep-first
    // within each cluster over cosine-τ pairs
    "dedup_semantic" ->
      s"""WITH $oraIvfAssign,
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM assigned a JOIN assigned b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  JOIN embeddings ea ON ea.vec_id = a.vec_id
        |  JOIN embeddings eb ON eb.vec_id = b.vec_id
        |  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |                               CAST(eb.embedding AS DOUBLE[])) >= 0.3)
        |SELECT vec_id, cluster FROM assigned
        |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin,
    // mirrors ivf(16, 4): the shared assignment + the nprobe=4 probe set
    "sim_ivf_ann" ->
      s"""WITH $oraIvfAssign,
         |probes AS (SELECT vec_id AS query_id, cent_id AS probe FROM ranked
         |           WHERE vec_id < 8 AND crank <= 4),
         |cand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                           CAST(ne.embedding AS DOUBLE[])) AS sim
         |  FROM assigned a
         |  JOIN probes p ON a.cluster = p.probe AND p.query_id <> a.vec_id
         |  JOIN embeddings qe ON qe.vec_id = p.query_id
         |  JOIN embeddings ne ON ne.vec_id = a.vec_id)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM cand)
         |WHERE rank <= $K""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH $oraLshSigs,
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM sigs a JOIN sigs b
         |    ON a.sig = b.sig AND a.vec_id < b.vec_id),
         |nd AS (
         |  SELECT p.vec_a, p.vec_b FROM pairs p
         |  JOIN embeddings ea ON ea.vec_id = p.vec_a
         |  JOIN embeddings eb ON eb.vec_id = p.vec_b
         |  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                               CAST(eb.embedding AS DOUBLE[])) >= 0.3)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_b FROM nd)""".stripMargin,
    // mirrors Vectors.lshSignaturesAgg(derived bits, 4 tables) + bucket join:
    // hyperplane signs come from md5 (mdSign), reproducible in DuckDB
    "sim_lsh_ann" ->
      s"""WITH $oraLshSigs,
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
         |  FROM sigs q JOIN sigs n
         |    ON q.sig = n.sig AND q.vec_id <> n.vec_id
         |  WHERE q.vec_id < 8),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                           CAST(ne.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings qe ON qe.vec_id = c.query_id
         |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= $K""".stripMargin,
    // the same signature chain, but candidates over ALL (a, b) bucket
    // cohabitants — the full-graph twin of sim_lsh_ann
    "sim_knn_graph" ->
      s"""WITH $oraLshSigs,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
         |  FROM sigs a JOIN sigs b
         |    ON a.sig = b.sig AND a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT c.vec_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                           CAST(eb.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_id
         |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id)
         |SELECT vec_id, neighbor_id, rank FROM (
         |  SELECT vec_id, neighbor_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= $K""".stripMargin,
    // the shared training ladder's af relation supplies BOTH the trained
    // assignment (rk = 1) and the trained probe ranking (rk <= nprobe);
    // the candidate/rank tail mirrors sim_ivf_ann
    "sim_ivf_ann_trained" -> oraIvfTrainedFull,
    // the three index oracles chained as CTEs (the proven composed-CTE
    // device): exact brute-force truth, IVF and LSH candidates, then
    // integer hit counts and one int/int division per (method, query)
    "sim_recall_report" ->
      s"""WITH $oraLshSigs,
         |$oraIvfAssign,
         |bf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                               CAST(n.embedding AS DOUBLE[])) DESC,
         |        n.vec_id ASC) AS rank
         |    FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
         |    WHERE q.vec_id < 8)
         |  WHERE rank <= $K),
         |probes AS (SELECT vec_id AS query_id, cent_id AS probe FROM ranked
         |           WHERE vec_id < 8 AND crank <= 4),
         |icand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                           CAST(ne.embedding AS DOUBLE[])) AS sim
         |  FROM assigned a
         |  JOIN probes p ON a.cluster = p.probe AND p.query_id <> a.vec_id
         |  JOIN embeddings qe ON qe.vec_id = p.query_id
         |  JOIN embeddings ne ON ne.vec_id = a.vec_id),
         |ivfq AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM icand) WHERE rank <= $K),
         |lcand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
         |  FROM sigs q JOIN sigs n
         |    ON q.sig = n.sig AND q.vec_id <> n.vec_id
         |  WHERE q.vec_id < 8),
         |lscored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                           CAST(ne.embedding AS DOUBLE[])) AS sim
         |  FROM lcand c
         |  JOIN embeddings qe ON qe.vec_id = c.query_id
         |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id),
         |lshq AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM lscored) WHERE rank <= $K),
         |ivt AS ($oraIvfTrainedFull),
         |truth AS (SELECT query_id, count(*) AS n_true FROM bf GROUP BY 1),
         |hit AS (
         |  SELECT 'ivf' AS method, b.query_id, count(*) AS hits
         |  FROM bf b JOIN ivfq USING (query_id, neighbor_id) GROUP BY 2
         |  UNION ALL
         |  SELECT 'ivf_trained', b.query_id, count(*)
         |  FROM bf b JOIN ivt USING (query_id, neighbor_id) GROUP BY 2
         |  UNION ALL
         |  SELECT 'lsh', b.query_id, count(*)
         |  FROM bf b JOIN lshq USING (query_id, neighbor_id) GROUP BY 2),
         |m AS (SELECT unnest(['ivf', 'ivf_trained', 'lsh']) AS method)
         |SELECT m.method, t.query_id, t.n_true,
         |  COALESCE(h.hits, 0) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) /
         |    CAST(t.n_true AS DOUBLE) AS recall
         |FROM m CROSS JOIN truth t
         |LEFT JOIN hit h
         |  ON h.method = m.method AND h.query_id = t.query_id""".stripMargin,
    // mirrors sim_jl_recall: the ±1 matrix RE-DERIVED from SQL md5,
    // milli-integer projection rollup, exact-int dots/norms, IEEE
    // sqrt/div ranking, the shared recall tail
    "sim_jl_recall" -> {
      def topkSql(r: Int, name: String) =
        s"""d$name AS (
           |  SELECT q.query_id, p.vec_id AS neighbor_id,
           |    CAST(sum(q.qb * p.pb) AS BIGINT) AS dot
           |  FROM (SELECT vec_id AS query_id, b, pb AS qb FROM p
           |        WHERE vec_id < 8 AND b < $r) q
           |  JOIN p ON p.b = q.b AND p.vec_id <> q.query_id
           |  WHERE p.b < $r
           |  GROUP BY 1, 2),
           |n$name AS (
           |  SELECT vec_id, CAST(sum(pb * pb) AS BIGINT) AS n2 FROM p
           |  WHERE b < $r GROUP BY 1),
           |$name AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT d.query_id, d.neighbor_id,
           |      row_number() OVER (PARTITION BY d.query_id ORDER BY
           |        CAST(d.dot AS DOUBLE) /
           |          (sqrt(CAST(greatest(nq.n2, 1) AS DOUBLE)) *
           |           sqrt(CAST(greatest(nn.n2, 1) AS DOUBLE))) DESC,
           |        d.neighbor_id ASC) AS rank
           |    FROM d$name d
           |    JOIN n$name nq ON nq.vec_id = d.query_id
           |    JOIN n$name nn ON nn.vec_id = d.neighbor_id)
           |  WHERE rank <= $K)""".stripMargin
      s"""WITH mx AS (
         |  SELECT d, b, CASE WHEN ('0x' || substring(md5(
         |      'jl|' || d::VARCHAR || '|' || b::VARCHAR), 1, 1))::INT
         |      % 2 = 0 THEN 1 ELSE -1 END AS s
         |  FROM (SELECT unnest(generate_series(0, 63)) AS d),
         |       (SELECT unnest(generate_series(0, 15)) AS b)),
         |px AS (
         |  SELECT vec_id, CAST(j - 1 AS INT) AS d,
         |    CAST(round(CAST(embedding[j] AS DOUBLE) * 1000) AS BIGINT)
         |      AS xm
         |  FROM (SELECT vec_id, embedding,
         |          unnest(generate_series(1, len(embedding))) AS j
         |        FROM embeddings)),
         |p AS MATERIALIZED (
         |  SELECT px.vec_id, mx.b, CAST(sum(mx.s * px.xm) AS BIGINT) AS pb
         |  FROM px JOIN mx ON mx.d = px.d
         |  GROUP BY 1, 2),
         |bf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                               CAST(n.embedding AS DOUBLE[])) DESC,
         |        n.vec_id ASC) AS rank
         |    FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
         |    WHERE q.vec_id < 8)
         |  WHERE rank <= $K),
         |${topkSql(8, "jl8")},
         |${topkSql(16, "jl16")},
         |truth AS (SELECT query_id, count(*) AS n_true FROM bf GROUP BY 1),
         |hit AS (
         |  SELECT 'jl_8' AS method, b.query_id, count(*) AS hits
         |  FROM bf b JOIN jl8 USING (query_id, neighbor_id) GROUP BY 2
         |  UNION ALL
         |  SELECT 'jl_16', b.query_id, count(*)
         |  FROM bf b JOIN jl16 USING (query_id, neighbor_id) GROUP BY 2),
         |m AS (SELECT unnest(['jl_8', 'jl_16']) AS method)
         |SELECT m.method, t.query_id, t.n_true,
         |  COALESCE(h.hits, 0) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) /
         |    CAST(t.n_true AS DOUBLE) AS recall
         |FROM m CROSS JOIN truth t
         |LEFT JOIN hit h
         |  ON h.method = m.method AND h.query_id = t.query_id""".stripMargin
    },
    // the two quantized oracles embedded VERBATIM as nested-WITH CTEs
    // (their inner CTE names are scoped inside the parens), then the
    // same integer hit/recall tail as the base report
    "sim_recall_report_quantized" ->
      s"""WITH bf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                               CAST(n.embedding AS DOUBLE[])) DESC,
         |        n.vec_id ASC) AS rank
         |    FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
         |    WHERE q.vec_id < 8)
         |  WHERE rank <= $K),
         |sqq AS ($oraSqAnnFull),
         |pqq AS ($oraPqAnnFull),
         |truth AS (SELECT query_id, count(*) AS n_true FROM bf GROUP BY 1),
         |hit AS (
         |  SELECT 'pq' AS method, b.query_id, count(*) AS hits
         |  FROM bf b JOIN pqq USING (query_id, neighbor_id) GROUP BY 2
         |  UNION ALL
         |  SELECT 'sq', b.query_id, count(*)
         |  FROM bf b JOIN sqq USING (query_id, neighbor_id) GROUP BY 2),
         |m AS (SELECT unnest(['pq', 'sq']) AS method)
         |SELECT m.method, t.query_id, t.n_true,
         |  COALESCE(h.hits, 0) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) /
         |    CAST(t.n_true AS DOUBLE) AS recall
         |FROM m CROSS JOIN truth t
         |LEFT JOIN hit h
         |  ON h.method = m.method AND h.query_id = t.query_id""".stripMargin,
    // one truncated brute-force CTE per prefix width (list slicing +
    // the same double-cast cosine), then the shared integer recall tail
    "sim_matryoshka_recall" -> {
      def bfAt(d: Int, name: String) =
        s"""$name AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |        list_cosine_similarity(
           |          CAST(q.embedding[1:$d] AS DOUBLE[]),
           |          CAST(n.embedding[1:$d] AS DOUBLE[])) DESC,
           |        n.vec_id ASC) AS rank
           |    FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
           |    WHERE q.vec_id < 8)
           |  WHERE rank <= $K)""".stripMargin
      s"""WITH ${bfAt(64, "bf")},
         |${bfAt(8, "d8")},
         |${bfAt(16, "d16")},
         |${bfAt(32, "d32")},
         |truth AS (SELECT query_id, count(*) AS n_true FROM bf GROUP BY 1),
         |hit AS (
         |  SELECT 'dims_8' AS method, b.query_id, count(*) AS hits
         |  FROM bf b JOIN d8 USING (query_id, neighbor_id) GROUP BY 2
         |  UNION ALL
         |  SELECT 'dims_16', b.query_id, count(*)
         |  FROM bf b JOIN d16 USING (query_id, neighbor_id) GROUP BY 2
         |  UNION ALL
         |  SELECT 'dims_32', b.query_id, count(*)
         |  FROM bf b JOIN d32 USING (query_id, neighbor_id) GROUP BY 2),
         |m AS (SELECT unnest(['dims_8', 'dims_16', 'dims_32']) AS method)
         |SELECT m.method, t.query_id, t.n_true,
         |  COALESCE(h.hits, 0) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) /
         |    CAST(t.n_true AS DOUBLE) AS recall
         |FROM m CROSS JOIN truth t
         |LEFT JOIN hit h
         |  ON h.method = m.method AND h.query_id = t.query_id""".stripMargin
    },
    // same knn chain → id-ordered (a<b) undirected edges → x<y<z triangle
    // enumeration (orientation-free: the triangle SET is what the Spark
    // side's degree-ordered enumeration also materializes, once each)
    "sim_graph_triangles" ->
      s"""WITH $oraLshSigs,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
         |  FROM sigs a JOIN sigs b
         |    ON a.sig = b.sig AND a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT c.vec_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                           CAST(eb.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_id
         |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
         |knn AS (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT vec_id, neighbor_id,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM scored) WHERE rank <= $K),
         |und AS (
         |  SELECT DISTINCT least(vec_id, neighbor_id) AS a,
         |    greatest(vec_id, neighbor_id) AS b
         |  FROM knn),
         |deg AS (
         |  SELECT v, count(*) AS degree FROM (
         |    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
         |  GROUP BY 1),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
         |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
         |pern AS (
         |  SELECT v, count(*) AS triangles FROM (
         |    SELECT x AS v FROM tri
         |    UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri)
         |  GROUP BY 1)
         |SELECT e.vec_id,
         |  COALESCE(d.degree, 0) AS degree,
         |  COALESCE(p.triangles, 0) AS triangles,
         |  CASE WHEN COALESCE(d.degree, 0) < 2 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(2.0 AS DOUBLE) * COALESCE(p.triangles, 0) /
         |         (d.degree * (d.degree - 1))
         |  END AS clustering_coeff
         |FROM embeddings e
         |LEFT JOIN deg d ON d.v = e.vec_id
         |LEFT JOIN pern p ON p.v = e.vec_id""".stripMargin,
    // τ-pruned kNN edges → transitive closure → min-id component labels
    // (the dedup_cc oracle pattern over the graph relation)
    // mirrors sim_kcore: the shared kNN-edge CTE chain, then the peel
    // UNROLLED to the engine's round cap (the engine refuses corpora
    // needing more, and peeling is idempotent past fixpoint, so the
    // unrolled tail rounds change nothing on any accepted corpus)
    // mirrors sim_graph_recall_vs_beam: two suffixed copies of the beam
    // chain (width 2 and BeamWidth) over the shared edge CTEs, a
    // brute-force top-10 CTE, and per-beam semi-join hit counts
    "sim_graph_recall_vs_beam" -> {
      def chain(width: Int, p: String): String =
        (1 to BeamRounds).map { i =>
          s"""n$p$i AS (
             |  SELECT DISTINCT f.query_id, ed.y AS v
             |  FROM f$p${i - 1} f JOIN edges ed ON ed.x = f.v),
             |s$p$i AS MATERIALIZED (
             |  SELECT n.query_id, n.v,
             |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
             |      CAST(emb.embedding AS DOUBLE[])) AS s
             |  FROM n$p$i n JOIN q ON q.query_id = n.query_id
             |  JOIN embeddings emb ON emb.vec_id = n.v),
             |v$p$i AS MATERIALIZED (
             |  SELECT * FROM v$p${i - 1} UNION SELECT * FROM s$p$i),
             |f$p$i AS MATERIALIZED (
             |  SELECT query_id, v, s FROM (
             |    SELECT query_id, v, s, row_number() OVER
             |      (PARTITION BY query_id ORDER BY s DESC, v ASC) AS rk
             |    FROM (SELECT * FROM f$p${i - 1} UNION
             |          SELECT * FROM s$p$i))
             |  WHERE rk <= $width)""".stripMargin
        }.mkString(",\n")
      def head(p: String): String =
        s"""f${p}0 AS MATERIALIZED (
           |  SELECT q.query_id, e.v,
           |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
           |      CAST(emb.embedding AS DOUBLE[])) AS s
           |  FROM q CROSS JOIN entry e
           |  JOIN embeddings emb ON emb.vec_id = e.v),
           |v${p}0 AS MATERIALIZED (SELECT * FROM f${p}0)""".stripMargin
      def top(p: String): String =
        s"""top$p AS MATERIALIZED (
           |  SELECT query_id, v FROM (
           |    SELECT query_id, v, row_number() OVER
           |      (PARTITION BY query_id ORDER BY s DESC, v ASC) AS rank
           |    FROM v$p$BeamRounds WHERE query_id <> v)
           |  WHERE rank <= 10)""".stripMargin
      val outs = Seq(2 -> "a", BeamWidth -> "b").map { case (w, p) =>
        s"""SELECT CAST($w AS BIGINT) AS beam,
           |  (SELECT CAST(count(*) AS BIGINT) FROM top$p t
           |   JOIN brute USING (query_id, v)) AS n_hits,
           |  ((SELECT CAST(count(*) AS BIGINT) FROM top$p t
           |    JOIN brute USING (query_id, v)) * 1000000) // 80
           |    AS recall_ppm""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $oraLshSigs,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
         |  FROM sigs a JOIN sigs b
         |    ON a.sig = b.sig AND a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT c.vec_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                           CAST(eb.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_id
         |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
         |ke AS (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT vec_id, neighbor_id, sim,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM scored)
         |  WHERE rank <= $K AND sim >= 0.3),
         |edges AS MATERIALIZED (
         |  SELECT vec_id AS x, neighbor_id AS y FROM ke
         |  UNION
         |  SELECT neighbor_id, vec_id FROM ke),
         |q AS MATERIALIZED (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 8),
         |entry AS (SELECT min(x) AS v FROM edges),
         |brute AS MATERIALIZED (
         |  SELECT query_id, v FROM (
         |    SELECT q.query_id, e2.vec_id AS v, row_number() OVER
         |      (PARTITION BY q.query_id ORDER BY
         |        list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
         |          CAST(e2.embedding AS DOUBLE[])) DESC,
         |        e2.vec_id ASC) AS rk
         |    FROM q JOIN embeddings e2 ON e2.vec_id <> q.query_id)
         |  WHERE rk <= 10),
         |${head("a")},
         |${chain(2, "a")},
         |${top("a")},
         |${head("b")},
         |${chain(BeamWidth, "b")},
         |${top("b")}
         |$outs""".stripMargin
    },
    // mirrors sim_graph_search: the kcore oracle's edge CTEs, then the
    // beam unrolled to BeamRounds pick/expand pairs. Every f/v CTE is
    // MATERIALIZED (each is referenced twice: the next round's union
    // and its neighbor expansion / the final rank)
    "sim_graph_search" -> {
      val rounds = (1 to BeamRounds).map { i =>
        s"""n$i AS (
           |  SELECT DISTINCT f.query_id, ed.y AS v
           |  FROM f${i - 1} f JOIN edges ed ON ed.x = f.v),
           |s$i AS MATERIALIZED (
           |  SELECT n.query_id, n.v,
           |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
           |      CAST(emb.embedding AS DOUBLE[])) AS s
           |  FROM n$i n JOIN q ON q.query_id = n.query_id
           |  JOIN embeddings emb ON emb.vec_id = n.v),
           |v$i AS MATERIALIZED (
           |  SELECT * FROM v${i - 1} UNION SELECT * FROM s$i),
           |f$i AS MATERIALIZED (
           |  SELECT query_id, v, s FROM (
           |    SELECT query_id, v, s, row_number() OVER
           |      (PARTITION BY query_id ORDER BY s DESC, v ASC) AS rk
           |    FROM (SELECT * FROM f${i - 1} UNION SELECT * FROM s$i))
           |  WHERE rk <= $BeamWidth)""".stripMargin
      }.mkString(",\n")
      s"""WITH $oraLshSigs,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
         |  FROM sigs a JOIN sigs b
         |    ON a.sig = b.sig AND a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT c.vec_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                           CAST(eb.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_id
         |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
         |ke AS (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT vec_id, neighbor_id, sim,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM scored)
         |  WHERE rank <= $K AND sim >= 0.3),
         |edges AS MATERIALIZED (
         |  SELECT vec_id AS x, neighbor_id AS y FROM ke
         |  UNION
         |  SELECT neighbor_id, vec_id FROM ke),
         |q AS MATERIALIZED (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 8),
         |entry AS (SELECT min(x) AS v FROM edges),
         |f0 AS MATERIALIZED (
         |  SELECT q.query_id, e.v,
         |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
         |      CAST(emb.embedding AS DOUBLE[])) AS s
         |  FROM q CROSS JOIN entry e
         |  JOIN embeddings emb ON emb.vec_id = e.v),
         |v0 AS MATERIALIZED (SELECT * FROM f0),
         |$rounds
         |SELECT query_id, v AS neighbor_id, rank FROM (
         |  SELECT query_id, v, row_number() OVER
         |    (PARTITION BY query_id ORDER BY s DESC, v ASC) AS rank
         |  FROM v$BeamRounds WHERE query_id <> v)
         |WHERE rank <= 10""".stripMargin
    },
    // mirrors sim_graph_search_layered: the shared graph base (all
    // three layers), the 1/256 top walk (width 2 × 3 rounds) from the
    // sparsest sample's min-id entry, each layer seeding the next from
    // its per-query rank-1, then the base walk unrolled exactly like
    // the flat oracle
    "sim_graph_search_layered" ->
      s"""WITH $oraLshSigs,
         |$oraGraphBase,
         |${oraWalkCtes("w", "u2edges", UpperBeamWidth, UpperRounds,
             oraSampleEntryF0)},
         |${oraWalkCtes("u", "uedges", UpperBeamWidth, UpperRounds,
             oraSeedF0("w"))},
         |${oraWalkCtes("l", "edges", BeamWidth, BeamRounds, oraSeedF0("u"))}
         |${oraWalkTop10("l", BeamRounds)}""".stripMargin,
    // mirrors sim_graph_layered_recall: brute truth + FOUR unrolled
    // walks (flat/layered × width 8/2; the layered pair shares the one
    // upper walk) graded against it
    "sim_graph_layered_recall" -> {
      def graded(variant: String, b: Int, pfx: String) =
        s"""SELECT '$variant' AS variant, CAST($b AS BIGINT) AS beam,
           |  CAST(count(*) AS BIGINT) AS n_hits,
           |  CAST((count(*) * 1000000) // 80 AS BIGINT) AS recall_ppm
           |FROM (${oraWalkTop10(pfx, BeamRounds).replace("\n", "\n ")}) r
           |JOIN bt ON r.query_id = bt.query_id
           |       AND r.neighbor_id = bt.neighbor_id""".stripMargin
      s"""WITH $oraLshSigs,
         |$oraGraphBase,
         |bt AS MATERIALIZED (
         |  SELECT query_id, v AS neighbor_id FROM (
         |    SELECT q.query_id, emb.vec_id AS v,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
         |          CAST(emb.embedding AS DOUBLE[])) DESC,
         |        emb.vec_id ASC) AS rk
         |    FROM q JOIN embeddings emb ON emb.vec_id <> q.query_id)
         |  WHERE rk <= 10),
         |${oraWalkCtes("w", "u2edges", UpperBeamWidth, UpperRounds,
             oraSampleEntryF0)},
         |${oraWalkCtes("u", "uedges", UpperBeamWidth, UpperRounds,
             oraSeedF0("w"))},
         |${oraWalkCtes("a", "edges", BeamWidth, BeamRounds,
             oraGlobalEntryF0("edges"))},
         |${oraWalkCtes("b", "edges", 2, BeamRounds,
             oraGlobalEntryF0("edges"))},
         |${oraWalkCtes("c", "edges", BeamWidth, BeamRounds,
             oraSeedF0("u"))},
         |${oraWalkCtes("d", "edges", 2, BeamRounds, oraSeedF0("u"))}
         |${graded("flat", BeamWidth, "a")}
         |UNION ALL
         |${graded("layered", BeamWidth, "c")}
         |UNION ALL
         |${graded("flat", 2, "b")}
         |UNION ALL
         |${graded("layered", 2, "d")}""".stripMargin
    },
    "sim_kcore" -> {
      // each s{i-1} is referenced TWICE by d{i} — plain CTEs would
      // inline per reference and double the plan every round (2^24 by
      // the cap); MATERIALIZED keeps each round a constant-size step
      val peel = (1 to KcoreRounds).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT e.x, CAST(count(*) AS BIGINT) AS c FROM edges e
           |  JOIN s${i - 1} a ON a.x = e.x
           |  JOIN s${i - 1} b ON b.x = e.y
           |  GROUP BY 1),
           |s$i AS MATERIALIZED (SELECT x FROM d$i WHERE c >= $KcoreK)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $oraLshSigs,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
         |  FROM sigs a JOIN sigs b
         |    ON a.sig = b.sig AND a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT c.vec_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                           CAST(eb.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_id
         |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
         |ke AS (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT vec_id, neighbor_id, sim,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM scored)
         |  WHERE rank <= $K AND sim >= 0.3),
         |-- MATERIALIZED: the peel rounds reference edges ~22 times;
         |-- DuckDB inlines plain CTEs per reference, which would re-run
         |-- the whole LSH chain each time (and exhaust file handles
         |-- re-opening the parquet)
         |edges AS MATERIALIZED (
         |  SELECT vec_id AS x, neighbor_id AS y FROM ke
         |  UNION
         |  SELECT neighbor_id, vec_id FROM ke),
         |s0 AS MATERIALIZED (SELECT DISTINCT x FROM edges),
         |$peel,
         |dfin AS (
         |  SELECT e.x, CAST(count(*) AS BIGINT) AS c FROM edges e
         |  JOIN s${KcoreRounds} a ON a.x = e.x
         |  JOIN s${KcoreRounds} b ON b.x = e.y
         |  GROUP BY 1)
         |SELECT emb.vec_id, dfin.c IS NOT NULL AS in_core,
         |  coalesce(dfin.c, 0) AS core_degree
         |FROM embeddings emb LEFT JOIN dfin ON dfin.x = emb.vec_id"""
        .stripMargin
    },
    "sim_graph_components" ->
      s"""WITH RECURSIVE $oraLshSigs,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
         |  FROM sigs a JOIN sigs b
         |    ON a.sig = b.sig AND a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT c.vec_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                           CAST(eb.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_id
         |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
         |ke AS (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT vec_id, neighbor_id, sim,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM scored)
         |  WHERE rank <= $K AND sim >= 0.3),
         |edges AS (
         |  SELECT vec_id AS x, neighbor_id AS y FROM ke
         |  UNION
         |  SELECT neighbor_id, vec_id FROM ke),
         |reach(x, y) AS (
         |  SELECT x, y FROM edges
         |  UNION
         |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
         |minr AS (SELECT x AS vec_id, min(y) AS mn FROM reach GROUP BY 1)
         |SELECT e.vec_id,
         |  CASE WHEN m.mn IS NULL OR e.vec_id < m.mn THEN e.vec_id
         |       ELSE m.mn END AS component_id
         |FROM embeddings e LEFT JOIN minr m ON m.vec_id = e.vec_id""".stripMargin,
    // the kNN edge list (same ke derivation as sim_graph_components,
    // unpruned) → out-degrees → two exact integer-micro-unit damped
    // power-iteration rounds (r0 = 1e6 everywhere, so round 1's
    // contribution is 1000000 // od)
    "sim_pagerank" ->
      s"""WITH $oraLshSigs,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
         |  FROM sigs a JOIN sigs b
         |    ON a.sig = b.sig AND a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT c.vec_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                           CAST(eb.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_id
         |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
         |ke AS (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT vec_id, neighbor_id,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM scored)
         |  WHERE rank <= $K),
         |deg AS (SELECT vec_id AS src, CAST(count(*) AS BIGINT) AS od
         |        FROM ke GROUP BY 1),
         |e AS (
         |  SELECT ke.vec_id AS src, ke.neighbor_id AS dst, d.od
         |  FROM ke JOIN deg d ON d.src = ke.vec_id),
         |r1 AS (
         |  SELECT v.vec_id,
         |    150000 + (85 * COALESCE(c.s, 0)) // 100 AS pr
         |  FROM embeddings v LEFT JOIN (
         |    SELECT dst, CAST(sum(1000000 // od) AS BIGINT) AS s
         |    FROM e GROUP BY 1) c ON c.dst = v.vec_id),
         |r2 AS (
         |  SELECT v.vec_id,
         |    150000 + (85 * COALESCE(c.s, 0)) // 100 AS pr
         |  FROM embeddings v LEFT JOIN (
         |    SELECT e.dst, CAST(sum(r1.pr // e.od) AS BIGINT) AS s
         |    FROM e JOIN r1 ON r1.vec_id = e.src GROUP BY 1) c
         |  ON c.dst = v.vec_id)
         |SELECT vec_id, pr AS pr_micro FROM r2""".stripMargin,
    // mirrors sim_hyperball: the pagerank oracle's kNN edge chain, the
    // md5-deterministic register init, 3 unrolled max-merge rounds
    // (MATERIALIZED — the sim_kcore inlining lesson), the exact-integer
    // harmonic sums with the same raw-vs-linear-counting branch, and
    // the 3 unrolled exact pair expansions
    "sim_hyperball" -> {
      val lutSql = hllLnLut.mkString("[", ", ", "]")
      def estSql(r: String, t: Int) =
        s"""est$t AS (
           |  SELECT $t AS t, CAST(sum(
           |    CASE WHEN (2904064 * (CAST(1 AS BIGINT) << 35))
           |           // z < 160000 AND m_nz < 64 THEN
           |      (64 * list_extract($lutSql,
           |        CAST(64 - m_nz AS INT))) // 1000
           |    ELSE (2904064 * (CAST(1 AS BIGINT) << 35))
           |           // z END) // 1000 AS BIGINT) AS est_pairs
           |  FROM (SELECT vec_id,
           |          CAST(sum(CAST(1 AS BIGINT) << (35 - rho))
           |            + (64 - count(*)) * (CAST(1 AS BIGINT) << 35)
           |            AS BIGINT) AS z,
           |          count(*) AS m_nz
           |        FROM $r GROUP BY 1))""".stripMargin
      def roundSql(prev: String, cur: String) =
        s"""$cur AS MATERIALIZED (
           |  SELECT vec_id, j, max(rho) AS rho FROM (
           |    SELECT vec_id, j, rho FROM $prev
           |    UNION ALL
           |    SELECT e.src AS vec_id, r.j, r.rho
           |    FROM e JOIN $prev r ON r.vec_id = e.dst)
           |  GROUP BY 1, 2)""".stripMargin
      def expandSql(prev: String, cur: String) =
        s"""$cur AS MATERIALIZED (
           |  SELECT DISTINCT v, u FROM (
           |    SELECT v, u FROM $prev
           |    UNION ALL
           |    SELECT p.v, e.dst AS u FROM $prev p JOIN e ON e.src = p.u))"""
          .stripMargin
      s"""WITH $oraLshSigs,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
         |  FROM sigs a JOIN sigs b
         |    ON a.sig = b.sig AND a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT c.vec_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                           CAST(eb.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_id
         |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
         |ke AS (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT vec_id, neighbor_id,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM scored)
         |  WHERE rank <= $K),
         |e AS MATERIALIZED (
         |  SELECT vec_id AS src, neighbor_id AS dst FROM ke),
         |r0 AS MATERIALIZED (
         |  SELECT vec_id, gfp % 64 AS j,
         |    35 - length(bin((gfp // 64) % 17179869184)) AS rho
         |  FROM (SELECT vec_id,
         |          ('0x' || substring(md5('hb|' || vec_id::VARCHAR),
         |            1, 15))::BIGINT AS gfp
         |        FROM embeddings)),
         |${roundSql("r0", "r1")},
         |${roundSql("r1", "r2")},
         |${roundSql("r2", "r3")},
         |p1 AS MATERIALIZED (
         |  SELECT DISTINCT v, u FROM (
         |    SELECT vec_id AS v, vec_id AS u FROM embeddings
         |    UNION ALL
         |    SELECT src AS v, dst AS u FROM e)),
         |${expandSql("p1", "p2")},
         |${expandSql("p2", "p3")},
         |${estSql("r1", 1)},
         |${estSql("r2", 2)},
         |${estSql("r3", 3)},
         |ex AS (
         |  SELECT 1 AS t, CAST(count(*) AS BIGINT) AS exact_pairs FROM p1
         |  UNION ALL
         |  SELECT 2, CAST(count(*) AS BIGINT) FROM p2
         |  UNION ALL
         |  SELECT 3, CAST(count(*) AS BIGINT) FROM p3),
         |es AS (
         |  SELECT * FROM est1 UNION ALL SELECT * FROM est2
         |  UNION ALL SELECT * FROM est3)
         |SELECT CAST(ex.t AS BIGINT) AS t, ex.exact_pairs, es.est_pairs,
         |  CASE WHEN es.est_pairs >= ex.exact_pairs THEN
         |    ((es.est_pairs - ex.exact_pairs) * 1000000) // ex.exact_pairs
         |  ELSE -(((ex.exact_pairs - es.est_pairs) * 1000000)
         |    // ex.exact_pairs) END AS err_ppm,
         |  abs((es.est_pairs - ex.exact_pairs) * 1000000)
         |    // ex.exact_pairs <= 250000 AS within_tol
         |FROM ex JOIN es ON es.t = ex.t""".stripMargin
    },
    // unnest-with-position mirror; float→double widening is exact, the
    // micro/milli roundings are the single-rounding device every
    // fixed-point oracle here shares
    "sim_dim_stats" ->
      """WITH e AS (
        |  SELECT CAST(j - 1 AS BIGINT) AS dim,
        |    CAST(embedding[j] AS DOUBLE) AS x
        |  FROM (SELECT embedding,
        |          unnest(generate_series(1, len(embedding))) AS j
        |        FROM embeddings)),
        |agg AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT)
        |      AS sum_micro,
        |    CAST(sum(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero,
        |    min(x) AS min_x, max(x) AS max_x,
        |    CAST(sum(CAST(round(x * 1000) AS BIGINT)
        |             * CAST(round(x * 1000) AS BIGINT)) AS BIGINT)
        |      AS sq_milli_sum
        |  FROM e GROUP BY 1)
        |SELECT dim, n, sum_micro,
        |  CAST(sum_micro AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
        |    AS mean_x,
        |  n_zero, min_x, max_x, sq_milli_sum
        |FROM agg""".stripMargin,
    // same candidate CTE, labels attached by id, different-label filter
    // BEFORE the rank — the rank is over surviving negatives only
    "sim_hard_negatives" ->
      s"""WITH $oraLshSigs,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
         |  FROM sigs a JOIN sigs b
         |    ON a.sig = b.sig AND a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT c.vec_id, ea.label AS a_label, c.neighbor_id,
         |    eb.label AS n_label,
         |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                           CAST(eb.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_id
         |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id
         |  WHERE ea.label <> eb.label)
         |SELECT vec_id, a_label, rank, neighbor_id, n_label FROM (
         |  SELECT vec_id, a_label, neighbor_id, n_label,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 3""".stripMargin,
    // same ke derivation; seeds = md5('lp|'...)% 100 < 50, majority vote
    // with votes-DESC/label-ASC tie-break, no-seed-neighbor → -1
    "sim_label_prop" ->
      s"""WITH $oraLshSigs,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
         |  FROM sigs a JOIN sigs b
         |    ON a.sig = b.sig AND a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT c.vec_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                           CAST(eb.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_id
         |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
         |ke AS (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT vec_id, neighbor_id,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM scored)
         |  WHERE rank <= $K),
         |seeds AS (
         |  SELECT vec_id, label FROM embeddings
         |  WHERE ('0x' || substring(md5('lp|' || vec_id::VARCHAR), 1, 6))
         |    ::BIGINT % 100 < 50),
         |votes AS (
         |  SELECT ke.vec_id, s.label AS n_label,
         |    CAST(count(*) AS BIGINT) AS votes
         |  FROM ke JOIN seeds s ON s.vec_id = ke.neighbor_id
         |  GROUP BY 1, 2),
         |pred AS (
         |  SELECT vec_id, n_label, votes FROM (
         |    SELECT vec_id, n_label, votes,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY votes DESC, n_label ASC) AS rn
         |    FROM votes)
         |  WHERE rn = 1)
         |SELECT e.vec_id, e.label,
         |  COALESCE(p.n_label, -1) AS pred_label,
         |  COALESCE(p.votes, 0) AS votes,
         |  (('0x' || substring(md5('lp|' || e.vec_id::VARCHAR), 1, 6))
         |    ::BIGINT % 100 < 50) AS is_seed
         |FROM embeddings e LEFT JOIN pred p ON p.vec_id = e.vec_id""".stripMargin)

  /** DuckDB mirror of `Vectors.lshSignaturesAgg(derived bits, 4 tables)`:
    * the width derivation (`nb` — the same integer occupancy search as
    * [[Vectors.occupancyBits]], run over `count(*)`), then the
    * exploded-dims → md5-sign products → per-(table) bit-string CTE
    * chain, shared by every hyperplane-LSH oracle. Yields a
    * `sigs(vec_id, sig)` relation, one row per (vector, table).
    */
  /** amax + int8 codes CTEs shared by every PQ oracle (mirror of
    * [[sqScale]] + [[codesExpr]]). */
  /** Complete sim_sq_ann oracle SELECT — a val so the quantized
    * recall report can embed it verbatim as a nested-WITH CTE. */
  private lazy val oraSqAnnFull: String =
    s"""WITH amax AS (
         |  SELECT CAST(max(abs(embedding[j])) AS DOUBLE) AS am
         |  FROM (SELECT embedding,
         |          unnest(generate_series(1, len(embedding))) AS j
         |        FROM embeddings)),
         |codes AS (
         |  SELECT vec_id, j - 1 AS dim,
         |    CAST(round(CAST(embedding[j] AS DOUBLE)
         |         / (SELECT am FROM amax) * 127.0) AS INT) AS c
         |  FROM (SELECT vec_id, embedding,
         |          unnest(generate_series(1, len(embedding))) AS j
         |        FROM embeddings)),
         |n2 AS (
         |  SELECT vec_id, CAST(sum(CAST(c AS BIGINT) * c) AS BIGINT) AS n2
         |  FROM codes GROUP BY 1),
         |scores AS (
         |  SELECT cq.vec_id AS query_id, cn.vec_id AS neighbor_id,
         |    CAST(sum(CAST(cq.c AS BIGINT) * cn.c) AS BIGINT) AS dotq
         |  FROM codes cq JOIN codes cn ON cq.dim = cn.dim
         |    AND cq.vec_id < 8 AND cq.vec_id <> cn.vec_id
         |  GROUP BY 1, 2),
         |qsims AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    CASE WHEN nq.n2 = 0 OR nn.n2 = 0 THEN -2.0
         |         ELSE CAST(s.dotq AS DOUBLE)
         |              / sqrt(CAST(nq.n2 * nn.n2 AS DOUBLE)) END AS qsim
         |  FROM scores s
         |  JOIN n2 nq ON nq.vec_id = s.query_id
         |  JOIN n2 nn ON nn.vec_id = s.neighbor_id),
         |cand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY qsim DESC, neighbor_id ASC) AS qrank
         |    FROM qsims)
         |  WHERE qrank <= ${K * 4}),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                           CAST(ne.embedding AS DOUBLE[])) AS sim
         |  FROM cand c
         |  JOIN embeddings qe ON qe.vec_id = c.query_id
         |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= $K""".stripMargin

  /** Complete sim_pq_ann oracle SELECT (same embedding reuse). */
  private lazy val oraPqAnnFull: String =
    s"""WITH $oraPqCodes,
       |cb AS (SELECT vec_id AS k, dim, c FROM codes
       |       WHERE vec_id < $PqK),
       |$oraPqAnnBody""".stripMargin

  private val oraPqCodes: String =
    s"""amax AS (
       |  SELECT CAST(max(abs(embedding[j])) AS DOUBLE) AS am
       |  FROM (SELECT embedding,
       |          unnest(generate_series(1, len(embedding))) AS j
       |        FROM embeddings)),
       |codes AS (
       |  SELECT vec_id, j - 1 AS dim,
       |    CAST(round(CAST(embedding[j] AS DOUBLE)
       |         / (SELECT am FROM amax) * 127.0) AS INT) AS c
       |  FROM (SELECT vec_id, embedding,
       |          unnest(generate_series(1, len(embedding))) AS j
       |        FROM embeddings))""".stripMargin

  /** The shared ANN tail over a codebook relation `cb(k, dim, c)`:
    * encode → reconstruction norms → ADC → top-4K → exact rescore.
    * Mirror of [[pqAnnBody]]. `adcJoins` lets the IVF+PQ composition
    * constrain the ADC pair space to probed inverted lists (extra JOIN
    * clauses against `assigned`/`probes`); empty for flat PQ. */
  private val oraPqAnnBody: String = oraPqAnnBodyWith("")

  private def oraPqAnnBodyWith(adcJoins: String): String =
    s"""dists AS (
       |  SELECT v.vec_id, b.k, v.dim // $PqD AS j,
       |    CAST(sum(CAST(v.c - b.c AS BIGINT) * (v.c - b.c)) AS BIGINT)
       |      AS dist
       |  FROM codes v JOIN cb b ON b.dim = v.dim
       |  GROUP BY 1, 2, 3),
       |enc AS (
       |  SELECT vec_id, j, k FROM (
       |    SELECT vec_id, j, k,
       |      row_number() OVER (PARTITION BY vec_id, j
       |        ORDER BY dist ASC, k ASC) AS r
       |    FROM dists)
       |  WHERE r = 1),
       |rn2 AS (
       |  SELECT e.vec_id,
       |    CAST(sum(CAST(b.c AS BIGINT) * b.c) AS BIGINT) AS rn2
       |  FROM enc e JOIN cb b ON b.k = e.k AND b.dim // $PqD = e.j
       |  GROUP BY 1),
       |n2 AS (
       |  SELECT vec_id, CAST(sum(CAST(c AS BIGINT) * c) AS BIGINT) AS n2
       |  FROM codes GROUP BY 1),
       |adc AS (
       |  SELECT qc.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    CAST(sum(CAST(qc.c AS BIGINT) * b.c) AS BIGINT) AS dotq
       |  FROM enc e
       |  JOIN cb b ON b.k = e.k AND b.dim // $PqD = e.j
       |  JOIN codes qc ON qc.dim = b.dim
       |  $adcJoins
       |  WHERE qc.vec_id < 8 AND qc.vec_id <> e.vec_id
       |  GROUP BY 1, 2),
       |qsims AS (
       |  SELECT a.query_id, a.neighbor_id,
       |    CASE WHEN nq.n2 = 0 OR r.rn2 = 0 THEN -2.0
       |         ELSE CAST(a.dotq AS DOUBLE)
       |              / sqrt(CAST(nq.n2 * r.rn2 AS DOUBLE)) END AS qsim
       |  FROM adc a
       |  JOIN n2 nq ON nq.vec_id = a.query_id
       |  JOIN rn2 r ON r.vec_id = a.neighbor_id),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY qsim DESC, neighbor_id ASC) AS qrank
       |    FROM qsims)
       |  WHERE qrank <= ${K * 4}),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |                           CAST(ne.embedding AS DOUBLE[])) AS sim
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.query_id
       |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= $K""".stripMargin

  /** cb0 (first-PqK init) plus `rounds` Lloyd-round CTE groups ending in
    * `cb$rounds(k, dim, c)`. Emitted WITH a trailing comma-terminated
    * last CTE so callers append their own tail. */
  private def oraPqTrainLadder(rounds: Int): String = {
    val init =
      s"""cb0 AS (SELECT vec_id AS k, dim, c FROM codes
         |        WHERE vec_id < $PqK),""".stripMargin
    val steps = (1 to rounds).map { r =>
      val prev = s"cb${r - 1}"
      s"""dists_t$r AS (
         |  SELECT v.vec_id, b.k, v.dim // $PqD AS j,
         |    CAST(sum(CAST(v.c - b.c AS BIGINT) * (v.c - b.c)) AS BIGINT)
         |      AS dist
         |  FROM codes v JOIN $prev b ON b.dim = v.dim
         |  GROUP BY 1, 2, 3),
         |enc_t$r AS (
         |  SELECT vec_id, j, k FROM (
         |    SELECT vec_id, j, k,
         |      row_number() OVER (PARTITION BY vec_id, j
         |        ORDER BY dist ASC, k ASC) AS r
         |    FROM dists_t$r)
         |  WHERE r = 1),
         |means_t$r AS (
         |  SELECT e.k, c.dim,
         |    CAST(round(CAST(CAST(sum(c.c) AS BIGINT) AS DOUBLE)
         |         / CAST(count(*) AS DOUBLE)) AS INT) AS mc
         |  FROM enc_t$r e
         |  JOIN codes c ON c.vec_id = e.vec_id AND c.dim // $PqD = e.j
         |  GROUP BY 1, 2),
         |cb$r AS (
         |  SELECT p.k, p.dim, COALESCE(m.mc, p.c) AS c
         |  FROM $prev p LEFT JOIN means_t$r m
         |    ON m.k = p.k AND m.dim = p.dim),""".stripMargin
    }
    (init +: steps).mkString("\n")
  }

  /** Shared DuckDB CTE block for the LAYERED graph-walk oracles: the
    * flat oracle's cand/scored/ke/edges chain, the upper layer's OWN
    * signature chain over the 1-in-[[UpperSampleMod]] sample at
    * `greatest(nb − 4, 6)` bits (the sample's derived width — the same
    * hyperplane family, so sample signatures are prefixes of the base
    * ones), its candidate/rank chain (`uke`/`uedges`), and the query
    * panel. */
  private def oraGraphBase: String =
    s"""cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
       |  FROM sigs a JOIN sigs b
       |    ON a.sig = b.sig AND a.vec_id <> b.vec_id),
       |scored AS (
       |  SELECT c.vec_id, c.neighbor_id,
       |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |                           CAST(eb.embedding AS DOUBLE[])) AS sim
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.vec_id
       |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
       |ke AS (
       |  SELECT vec_id, neighbor_id FROM (
       |    SELECT vec_id, neighbor_id, sim,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, neighbor_id ASC) AS rank
       |    FROM scored)
       |  WHERE rank <= $K AND sim >= 0.3),
       |edges AS MATERIALIZED (
       |  SELECT vec_id AS x, neighbor_id AS y FROM ke
       |  UNION
       |  SELECT neighbor_id, vec_id FROM ke),
       |unb AS (SELECT greatest(nb - 4, 6) AS nb FROM nb),
       |uexpl AS (
       |  SELECT vec_id, j - 1 AS dim, CAST(embedding[j] AS DOUBLE) AS x
       |  FROM (SELECT vec_id, embedding,
       |          unnest(generate_series(1, len(embedding))) AS j
       |        FROM embeddings WHERE vec_id % $UpperSampleMod = 0)),
       |uconsts AS (
       |  SELECT t, b, b * 7919 + t * 104729 AS cst
       |  FROM (SELECT unnest(generate_series(0, 3)) AS t),
       |       (SELECT unnest(generate_series(0, 23)) AS b), unb
       |  WHERE b < unb.nb),
       |usums AS (
       |  SELECT e.vec_id, c.t, c.b,
       |    sum(e.x * CASE WHEN substr(md5(
       |          CAST(e.dim AS VARCHAR) || '_' || CAST(c.cst AS VARCHAR)),
       |        1, 1) IN ('0','1','2','3','4','5','6','7')
       |      THEN 1.0 ELSE -1.0 END) AS s
       |  FROM uexpl e CROSS JOIN uconsts c
       |  GROUP BY 1, 2, 3),
       |usigs AS (
       |  SELECT vec_id, CAST(t AS VARCHAR) || ':' ||
       |    string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
       |      ORDER BY b) AS sig
       |  FROM usums GROUP BY vec_id, t),
       |ucand AS (
       |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
       |  FROM usigs a JOIN usigs b
       |    ON a.sig = b.sig AND a.vec_id <> b.vec_id),
       |uscored AS (
       |  SELECT c.vec_id, c.neighbor_id,
       |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |                           CAST(eb.embedding AS DOUBLE[])) AS sim
       |  FROM ucand c
       |  JOIN embeddings ea ON ea.vec_id = c.vec_id
       |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
       |uke AS (
       |  -- NO sim threshold: the upper layer is a navigation graph
       |  -- (HNSW's long-range links), pruning it empties the layer
       |  SELECT vec_id, neighbor_id FROM (
       |    SELECT vec_id, neighbor_id, sim,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, neighbor_id ASC) AS rank
       |    FROM uscored)
       |  WHERE rank <= $K),
       |uedges AS MATERIALIZED (
       |  SELECT vec_id AS x, neighbor_id AS y FROM uke
       |  UNION
       |  SELECT neighbor_id, vec_id FROM uke),
       |u2nb AS (SELECT greatest(nb - 8, 6) AS nb FROM nb),
       |u2expl AS (
       |  SELECT vec_id, j - 1 AS dim, CAST(embedding[j] AS DOUBLE) AS x
       |  FROM (SELECT vec_id, embedding,
       |          unnest(generate_series(1, len(embedding))) AS j
       |        FROM embeddings
       |        WHERE vec_id % ${UpperSampleMod * UpperSampleMod} = 0)),
       |u2consts AS (
       |  SELECT t, b, b * 7919 + t * 104729 AS cst
       |  FROM (SELECT unnest(generate_series(0, 3)) AS t),
       |       (SELECT unnest(generate_series(0, 23)) AS b), u2nb
       |  WHERE b < u2nb.nb),
       |u2sums AS (
       |  SELECT e.vec_id, c.t, c.b,
       |    sum(e.x * CASE WHEN substr(md5(
       |          CAST(e.dim AS VARCHAR) || '_' || CAST(c.cst AS VARCHAR)),
       |        1, 1) IN ('0','1','2','3','4','5','6','7')
       |      THEN 1.0 ELSE -1.0 END) AS s
       |  FROM u2expl e CROSS JOIN u2consts c
       |  GROUP BY 1, 2, 3),
       |u2sigs AS (
       |  SELECT vec_id, CAST(t AS VARCHAR) || ':' ||
       |    string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
       |      ORDER BY b) AS sig
       |  FROM u2sums GROUP BY vec_id, t),
       |u2cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
       |  FROM u2sigs a JOIN u2sigs b
       |    ON a.sig = b.sig AND a.vec_id <> b.vec_id),
       |u2scored AS (
       |  SELECT c.vec_id, c.neighbor_id,
       |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |                           CAST(eb.embedding AS DOUBLE[])) AS sim
       |  FROM u2cand c
       |  JOIN embeddings ea ON ea.vec_id = c.vec_id
       |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
       |u2ke AS (
       |  -- navigation graph like uke: no sim threshold
       |  SELECT vec_id, neighbor_id FROM (
       |    SELECT vec_id, neighbor_id, sim,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, neighbor_id ASC) AS rank
       |    FROM u2scored)
       |  WHERE rank <= $K),
       |u2edges AS MATERIALIZED (
       |  SELECT vec_id AS x, neighbor_id AS y FROM u2ke
       |  UNION
       |  SELECT neighbor_id, vec_id FROM u2ke),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, embedding AS qv
       |  FROM embeddings WHERE vec_id < 8)""".stripMargin

  /** One unrolled beam walk as CTEs `{pfx}f0 … {pfx}v{rounds}` — the
    * generator form of the flat `sim_graph_search` oracle's rounds, so
    * the layered oracles (which need up to five walks in one statement)
    * stay mechanical. `f0Body` is the initial scored frontier. */
  private def oraWalkCtes(pfx: String, edges: String, width: Int,
      rounds: Int, f0Body: String): String = {
    val rs = (1 to rounds).map { i =>
      s"""${pfx}n$i AS (
         |  SELECT DISTINCT f.query_id, ed.y AS v
         |  FROM ${pfx}f${i - 1} f JOIN $edges ed ON ed.x = f.v),
         |${pfx}s$i AS MATERIALIZED (
         |  SELECT n.query_id, n.v,
         |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
         |      CAST(emb.embedding AS DOUBLE[])) AS s
         |  FROM ${pfx}n$i n JOIN q ON q.query_id = n.query_id
         |  JOIN embeddings emb ON emb.vec_id = n.v),
         |${pfx}v$i AS MATERIALIZED (
         |  SELECT * FROM ${pfx}v${i - 1} UNION SELECT * FROM ${pfx}s$i),
         |${pfx}f$i AS MATERIALIZED (
         |  SELECT query_id, v, s FROM (
         |    SELECT query_id, v, s, row_number() OVER
         |      (PARTITION BY query_id ORDER BY s DESC, v ASC) AS rk
         |    FROM (SELECT * FROM ${pfx}f${i - 1}
         |          UNION SELECT * FROM ${pfx}s$i))
         |  WHERE rk <= $width)""".stripMargin
    }.mkString(",\n")
    s"""${pfx}f0 AS MATERIALIZED (
       |$f0Body),
       |${pfx}v0 AS MATERIALIZED (SELECT * FROM ${pfx}f0),
       |$rs""".stripMargin
  }

  /** f0 body: the flat walk's global min-id entry over `edges`. */
  private def oraGlobalEntryF0(edges: String): String =
    s"""  SELECT q.query_id, e.v,
       |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
       |      CAST(emb.embedding AS DOUBLE[])) AS s
       |  FROM q CROSS JOIN (SELECT min(x) AS v FROM $edges) e
       |  JOIN embeddings emb ON emb.vec_id = e.v""".stripMargin

  /** f0 body: a layered walk's per-query seed — rank-1 of the NEXT
    * layer up's visited set (score carries over, no new scoring join). */
  private def oraSeedF0(srcPfx: String): String =
    s"""  SELECT query_id, v, s FROM (
       |    SELECT query_id, v, s, row_number() OVER
       |      (PARTITION BY query_id ORDER BY s DESC, v ASC) AS rk
       |    FROM ${srcPfx}v$UpperRounds)
       |  WHERE rk = 1""".stripMargin

  /** f0 body: the hierarchy's top entry — the min-id SAMPLE vertex of
    * the sparsest layer (not an edge endpoint: a 1/256 layer on a small
    * corpus may have no edges, and the walk must degrade to
    * descent-from-entry, not to empty). Coalesce ladder mirrors the
    * engine (ADVICE r13): empty 1/256 sample → 1/16 min-id → global min,
    * so a no-sample corpus degrades to descent too, never to empty. */
  private def oraSampleEntryF0: String =
    s"""  SELECT q.query_id, e.v,
       |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
       |      CAST(emb.embedding AS DOUBLE[])) AS s
       |  FROM q CROSS JOIN (SELECT coalesce(
       |      min(CASE WHEN vec_id % ${UpperSampleMod * UpperSampleMod} = 0
       |        THEN vec_id END),
       |      min(CASE WHEN vec_id % $UpperSampleMod = 0 THEN vec_id END),
       |      min(vec_id)) AS v FROM embeddings) e
       |  JOIN embeddings emb ON emb.vec_id = e.v""".stripMargin

  /** Final serving select over a walk's visited CTE. */
  private def oraWalkTop10(pfx: String, rounds: Int): String =
    s"""SELECT query_id, v AS neighbor_id, rank FROM (
       |  SELECT query_id, v, row_number() OVER
       |    (PARTITION BY query_id ORDER BY s DESC, v ASC) AS rank
       |  FROM ${pfx}v$rounds WHERE query_id <> v)
       |WHERE rank <= 10""".stripMargin

  private val oraLshSigs: String =
    """nb AS (
      |  -- coalesce mirrors occupancyBits' 24-bit cap: past n > 8*2^24
      |  -- min(b) is NULL and an uncapped filter would silently empty
      |  -- the signature relation while the engine keeps signing at 24
      |  -- bits (ADVICE r10)
      |  SELECT coalesce(min(b), 24) AS nb
      |  FROM (SELECT unnest(generate_series(6, 24)) AS b),
      |       (SELECT count(*) AS n FROM embeddings)
      |  WHERE n <= 8 * (CAST(1 AS BIGINT) << b)),
      |expl0 AS (
      |  SELECT vec_id, embedding,
      |    unnest(generate_series(1, len(embedding))) AS j
      |  FROM embeddings),
      |expl AS (
      |  SELECT vec_id, j - 1 AS dim, CAST(embedding[j] AS DOUBLE) AS x
      |  FROM expl0),
      |consts AS (
      |  SELECT t, b, b * 7919 + t * 104729 AS cst
      |  FROM (SELECT unnest(generate_series(0, 3)) AS t),
      |       (SELECT unnest(generate_series(0, 23)) AS b), nb
      |  WHERE b < nb.nb),
      |sums AS (
      |  SELECT e.vec_id, c.t, c.b,
      |    sum(e.x * CASE WHEN substr(md5(
      |          CAST(e.dim AS VARCHAR) || '_' || CAST(c.cst AS VARCHAR)),
      |        1, 1) IN ('0','1','2','3','4','5','6','7')
      |      THEN 1.0 ELSE -1.0 END) AS s
      |  FROM expl e CROSS JOIN consts c
      |  GROUP BY 1, 2, 3),
      |sigs AS (
      |  SELECT vec_id, CAST(t AS VARCHAR) || ':' ||
      |    string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
      |      ORDER BY b) AS sig
      |  FROM sums GROUP BY vec_id, t)""".stripMargin
}
