package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Barrier, Knobs, Sessions, Tables}
import graft.operators.{Similarity, Skew}
import graft.streaming.{BatchStore, Jobs, StatefulStreaming}
import graft.SparkEntry

/** Scale-up experiments: materialize k× copies of the fixture tables (ids
  * offset per replica so keys stay distinct and dedup/ANN don't collapse)
  * and time the scale paths at increasing k. Near-linear growth here is
  * the evidence behind the 100 TB design claims in PLANS.md; SCALING.md
  * records the readings. Every mode runs on `core.Sessions.local()`
  * (`SPARK_GRAFT_CPUS` cores); knobs are set as `-Dspark.graft.…` system
  * properties, e.g. through `JAVA_TOOL_OPTIONS`.
  *
  * Usage: runMain graft.tools.Scaling <baseSfDir> <mode>, where mode is
  *  - `<factors e.g. 1,2,4,8> [q1,q2,…]`: the query sweep, best-of-2 per
  *    query and factor
  *  - `ingest <simhash|containment> [k=16] [batches=8]`: a streaming
  *    ingest tier over k× documents, per-batch times, then set parity
  *    with its batch twin
  *  - `layerdiag [k=64]`: what the layered kNN-graph ladder buys
  *  - `skew [rows=20000000]`: unsalted vs salted join on a hot key
  *  - `soak [k=16] [srcFiles=8]`: the streaming soak graph, lineage guard
  *    on, per-stage times and store sizes
  *  - `ivfsweep [k=64]`: the IVF (query volume × list count) grid
  *  - `zipf [V=50000]`: prefix-filter pruning on a Zipf-vocabulary twin
  */
object Scaling {

  /** Sample-scale calibration tiers — exhaustive or all-pairs truths that
    * audit a swept twin. SCALING.md "Round-17: sweep-list hygiene audit"
    * lists each with its twin and reason; a new exclusion adds a row
    * there. */
  val excluded: Set[String] = Set("dedup_ngram_jaccard",
    "dedup_char_ngram_jaccard", "sim_pairs_threshold",
    "dedup_method_matrix", "dedup_blocking_quality", "dedup_lsh_scurve",
    "dedup_containment_stats", "dedup_prefix_filter_stats",
    "mm_phash_band_coverage")

  /** The sweep list: every oracle-checked query but the exclusions. */
  def queries: Seq[String] =
    SparkEntry.queries.keys.filterNot(excluded).toSeq.sorted

  /** Scale-dir cache path. The `fk2` suffix versions the HARNESS: r14
    * extended the FK offsets below to customer/supplier/part (and froze
    * nation/region at 1×), so pre-r14 cached dirs — whose replicated
    * dims carried k DUPLICATE copies of every key — must never be
    * silently reused by the fixed harness. The BASE is part of the name:
    * a bare `_16x` dir built from sf0.01 once masqueraded as sf0.1×16. */
  def scaleDir(base: String, k: Int): String =
    s"/tmp/graft_scale_${new java.io.File(base).getName}_${k}x_fk2"

  def scaled(spark: SparkSession, base: String, name: String, k: Int): DataFrame = {
    val df = Tables.load(spark, base, name)
    // geo dims stay CONSTANT under scale (a 16× business has 16× the
    // customers and suppliers, not 16× the nations): replicating them
    // un-offset gave every nation join k duplicate matches
    if (name == "nation" || name == "region") return df
    // FK columns offset by the PARENT table's cardinality so replica i of
    // a child still joins exactly replica i of its parent — on EVERY FK
    // edge, or the scaled join turns into a k-way many-to-many
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

  /** Write `table(name)` to `dir/name.parquet` for each of `names` the dir
    * lacks (a dir is reused across runs); returns `dir`. */
  private def materialize(dir: String, names: Seq[String])(
      table: String => DataFrame): String = {
    names.foreach { n =>
      val out = s"$dir/$n.parquet"
      if (!new java.io.File(out).exists())
        table(n).write.mode("overwrite").parquet(out)
    }
    dir
  }

  /** The k× dir of `base` with `names` materialized. */
  private def scaledDir(spark: SparkSession, base: String, k: Int,
      names: Seq[String] = Tables.names): String =
    materialize(scaleDir(base, k), names)(scaled(spark, base, _, k))

  /** Size on disk of `path`, in MiB. */
  private def mib(path: String): Double = {
    def du(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(du).sum)
      else f.length()
    du(new java.io.File(path)) / 1024.0 / 1024.0
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    def arg(i: Int, default: Int): Int = args.lift(i).fold(default)(_.toInt)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    try args.lift(1) match {
      case Some("ingest") =>
        ingest(spark, base, args.lift(2).getOrElse(""), arg(3, 16), arg(4, 8))
      case Some("layerdiag") => layerdiag(spark, base, arg(2, 64))
      case Some("skew") =>
        skewDemo(spark, rows = args.lift(2).fold(20000000L)(_.toLong))
      case Some("soak") => soak(spark, base, arg(2, 16), arg(3, 8))
      case Some("ivfsweep") => ivfsweep(spark, base, arg(2, 64))
      case Some("zipf") => zipf(spark, base, arg(2, 50000))
      case factors =>
        sweep(spark, base, factors.getOrElse("1,2,4").split(",")
          .map(_.trim.toInt), args.lift(2).map(_.split(",").toSet))
    } finally spark.stop()
  }

  /** Best-of-2 seconds per (factor, query), barriers released after every
    * run so the in-sequence reading measures the query, not accumulated
    * barrier storage. */
  private def sweep(spark: SparkSession, base: String, factors: Seq[Int],
      only: Option[Set[String]]): Unit = {
    val toRun = queries.filter(q => only.forall(_.contains(q)))
    spark.read.parquet(s"$base/lineitem.parquet").queryExecution.toRdd.count()
    factors.foreach { k =>
      val dir = scaledDir(spark, base, k)
      // mm content diversity scales WITH the corpus (VERDICT r15 #2):
      // classes ∝ k holds clones-per-class constant, where a fixed cap
      // made the phash-neardup row measure the fixture's k² clone
      // density; 100·k is the default at k=1, so 1× rows stay comparable
      // to the oracle-gated runs. The sampled band audit keeps a CONSTANT
      // kept-class count as classes grow (default mod 2 = k=1's).
      spark.conf.set(Knobs.MmClasses, (100L * k).toString)
      spark.conf.set(Knobs.BandAuditMod, (2L * k).toString)
      toRun.foreach { q =>
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count()
          val t = seconds(t0)
          Barrier.releaseAll(spark)
          t
        }
        println(f"[scale] k=$k%-3d $q%-26s ${times.min}%7.3fs")
      }
    }
  }

  /** A streaming ingest tier under the scale lens: hash-split the k×
    * documents into micro-batches, run each through the tier against one
    * growing store, report per-batch wall time, emitted pairs and store
    * size — then SET-level parity of the union of emissions with the
    * tier's batch twin over the same corpus (count-only parity would miss
    * a duplicate emission compensating a missed pair). A flat per-batch
    * time at constant batch size is the O(touched) store-IO claim. */
  private def ingest(spark: SparkSession, base: String, kind: String,
      k: Int, nBatches: Int): Unit = {
    val (tag, tier, twinQuery) = kind match {
      case "simhash" => ("simhash-ingest",
        StatefulStreaming.simhashIngestBatch _, "dedup_simhash_pairs")
      case "containment" => ("cont-ingest",
        StatefulStreaming.containmentIngestBatch _, "dedup_containment")
      case _ => throw new IllegalArgumentException(
        s"ingest <simhash|containment>, got '$kind'")
    }
    val dir = scaledDir(spark, base, k)
    val store = java.nio.file.Files.createTempDirectory(s"${kind}_scale").toString
    // emissions accumulate to parquet, written outside the per-batch
    // timer as sink IO would be in a real pipeline
    val emitted = java.nio.file.Files.createTempDirectory(s"${kind}_emit").toString
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    var total = 0L
    (0 until nBatches).foreach { i =>
      val b = docs.filter(pmod(hash(col("doc_id")), lit(nBatches)) === i)
      val t0 = System.nanoTime()
      val out = tier(b, store).localCheckpoint()
      val n = out.count()
      val t = seconds(t0)
      out.write.mode("append").parquet(emitted)
      Barrier.releaseAll(spark)
      total += n
      println(f"[$tag] k=$k batch=$i%-3d $t%7.3fs pairs=$n")
    }
    println(f"[$tag] k=$k store=${mib(store)}%8.2f MiB emitted_total=$total")
    val t0 = System.nanoTime()
    val twin = SparkEntry.queries(twinQuery)(spark, dir).localCheckpoint()
    val batchPairs = twin.count()
    val em = spark.read.parquet(emitted)
    val missed = twin.exceptAll(em).count()
    val spurious = em.exceptAll(twin).count()
    Barrier.releaseAll(spark)
    println(f"[$tag] k=$k batch_twin ${seconds(t0)}%7.3fs pairs=$batchPairs " +
      s"missed=$missed spurious=$spurious parity=" +
      (if (missed == 0 && spurious == 0) "EQUAL(set)" else "MISMATCH"))
  }

  /** What the geometric layer ladder BUYS (verdict r12 #5): per level, the
    * per-query best-seed cosine after its 3-hop beam-2 walk and the
    * distinct visited count, against the flat walk's global min-id entry
    * cosine as the baseline the ladder replaces. k = 0 runs `base`. */
  private def layerdiag(spark: SparkSession, base: String, k: Int): Unit = {
    val dir = if (k == 0) base else scaledDir(spark, base, k)
    val l = Similarity.layeredLadder(spark, dir)
    val flatEntry = l.edges.agg(min(col("x")).as("v"))
    val flatF0 = l.scoreEntry(l.queries.select(col("query_id"))
      .crossJoin(broadcast(flatEntry)))
    def stats(tag: String, df: DataFrame): Unit = {
      val r = df.agg(avg(col("s")), min(col("s")), count(lit(1))).collect()(0)
      println(f"[layerdiag] k=$k $tag%-28s avg_s=${r.getDouble(0)}%.4f " +
        f"min_s=${r.getDouble(1)}%.4f rows=${r.getLong(2)}")
    }
    stats("flat_global_entry", flatF0)
    stats("L2_entry(1/256 min-id)", l.u2f0)
    stats("L2_best(3 hops, beam 2)", l.seedOf(l.u2visited))
    stats("L1_best(3 hops, beam 2)", l.seedOf(l.uvisited))
    Seq("L2_visited" -> l.u2visited, "L1_visited" -> l.uvisited).foreach {
      case (tag, df) =>
        val r = df.groupBy(col("query_id"))
          .agg(countDistinct(col("v")).as("nv"))
          .agg(avg(col("nv")), max(col("nv"))).collect()(0)
        println(f"[layerdiag] k=$k $tag%-28s avg_visited=" +
          f"${r.getDouble(0)}%.1f max_visited=${r.getLong(1)}")
    }
    Barrier.releaseAll(spark)
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
    def agg(df: DataFrame): (Long, Long) = {
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
          seconds(t0)
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

  /** The multi-stage streaming graph ITSELF under the scale lens (r9
    * verdict #7) — gates, signature-store compaction, pack carry — with
    * the production lineage guard ON, so a double execution fails the run
    * itself. `srcFiles` is the micro-batch count: the default 8 lets
    * batch size grow with k; 8·k holds batch size constant while the
    * store grows, which separates batch-linear work from store-size work.
    */
  private def soak(spark: SparkSession, base: String, k: Int,
      srcFiles: Int): Unit = {
    spark.conf.set(Knobs.LineageGuard, "true")
    // The soak gets its OWN scaled dir: the sweep dirs' documents are
    // EXACT k× clones, and the benchmark-fp/13-gram gates then match
    // every document via some clone. A real k× corpus is k× DISTINCT
    // documents, so the soak docs interleave a per-replica tag into the
    // text every 8 words: every 13-gram crosses a tag, so replicas share
    // no grams and no near-dup shingles.
    lazy val docsPerReplica = Tables.load(spark, base, "documents").count()
    val dir = materialize(
        s"/tmp/graft_soak_${new java.io.File(base).getName}_${k}x",
        Seq("documents", "events")) {
      case "documents" => scaled(spark, base, "documents", k)
        .withColumn("text", regexp_replace(col("text"),
          lit("((?:\\S+\\s+){8})"), concat(lit("$1"), lit("r"),
            (col("doc_id") / docsPerReplica).cast("long"), lit("x "))))
      case n => scaled(spark, base, n, k)
    }
    val work = java.nio.file.Files.createTempDirectory("soak_scale").toString
    // per-stage loadavg (r16 VERDICT #4): readings well past the run's own
    // footprint are the external-burst signature, not the code's
    def load1(): String =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0)
      catch { case _: Throwable => "?" }
    val t0 = System.nanoTime()
    Jobs.runSoak(spark, dir, work, srcFiles = srcFiles,
      stageTimer = (st, s) =>
        println(f"[soak] k=$k stage=$st%-10s $s%8.3fs loadavg=${load1()}"))
    println(f"[soak] k=$k total ${seconds(t0)}%8.3fs loadavg=${load1()}")
    Seq("sig_store", "packs", "store_kw", "store_page", "store_err",
      "admitted").foreach { s =>
      if (new java.io.File(work, s).exists())
        println(f"[soak] k=$k store=$s%-10s ${mib(s"$work/$s")}%8.2f MiB")
    }
    val (gens, live) = BatchStore.census(spark, s"$work/sig_store")
    println(s"[soak] k=$k sig_store generations=$gens live_dirs=$live")
    // an all-rejected run leaves no data files — report 0, don't die on
    // schema inference
    if (new java.io.File(work, "packs").exists())
      println(s"[soak] k=$k packs rows=" + (
        try spark.read.parquet(s"$work/packs").count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L }))
  }

  /** The query-volume crossover behind `Similarity.ivfDerivedC` (r10
    * verdict #4): the 8-query fixture panel shows C ≈ √N SLOWER; the cost
    * model puts the crossover at Q·nprobe ≈ C², so a 1k-query panel at the
    * same corpus must flip the sign. Prints a (Q × C) grid of end-to-end
    * build+serve times, best-of-2. */
  private def ivfsweep(spark: SparkSession, base: String, k: Int): Unit = {
    val dir = scaledDir(spark, base, k, Seq("embeddings"))
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val sqrtN = Similarity.isqrt(n).toInt
    for (q <- Seq(8, 1000, 4000)) {
      val derived = Similarity.ivfDerivedC(n, q, 4)
      for (c <- Seq(16, derived, sqrtN).distinct) {
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          Similarity.ivfServe(spark, dir, c, q).queryExecution.toRdd.count()
          val t = seconds(t0)
          Barrier.releaseAll(spark)
          t
        }
        val mark = if (c == derived) " <- derived" else ""
        println(f"[ivfsweep] n=$n q=$q%-5d c=$c%-4d derivedC=$derived%-4d " +
          f"${times.min}%7.3fs$mark")
      }
    }
  }

  /** The prefix-filter pruning claim, MEASURED (r11 verdict #5): the
    * fixture's 31-word vocabulary is the densest case for prefix
    * filtering, and SCALING.md claims Zipf shingle universes prune orders
    * of magnitude harder. Materializes a Zipf-vocab twin of `documents`
    * (same doc count and per-doc word counts, words drawn Zipf(1) from a
    * V-word vocabulary via the inverse-CDF pow(V, u) device) and prints
    * the Jaccard and containment prefix-filter stats for both corpora. */
  private def zipf(spark: SparkSession, base: String, v: Int): Unit = {
    // g2: the generator version is part of the dir name, so a formula fix
    // never reuses a corpus materialized by an older generator
    val dir = materialize(
        s"/tmp/graft_zipf_g2_${new java.io.File(base).getName}_v$v",
        Seq("documents")) { _ =>
      Tables.load(spark, base, "documents").select(col("doc_id"),
          greatest(size(graft.functions.Text.tokenize(col("text"))),
            lit(1)).as("nw"))
        // inverse-CDF rank = floor(V^u) + 1 clamped to V, so rank 1
        // carries its full Zipf head mass P(rank=1) = ln 2 / ln V
        .select(col("doc_id"), concat_ws(" ",
          transform(sequence(lit(1), col("nw")), i =>
            concat(lit("w"), least(floor(pow(lit(v.toDouble),
              pmod(hash(col("doc_id"), i), lit(1000000))
                .cast("double") / 1000000.0)).cast("long") + 1,
              lit(v.toLong)))))
          .as("text"))
    }
    Seq("fixture" -> base, s"zipf(V=$v)" -> dir).foreach { case (tag, d) =>
      val r = SparkEntry.queries("dedup_prefix_filter_stats")(spark, d)
        .collect()(0)
      Barrier.releaseAll(spark)
      val (nPoss, nCand) = (r.getLong(1), r.getLong(5))
      println(f"[zipf] $tag%-14s n_docs=${r.getLong(0)}%-6d " +
        f"n_sets=${r.getLong(2)}%-6d n_shingle_rows=${r.getLong(3)}%-9d " +
        f"n_prefix_rows=${r.getLong(4)}%-8d n_candidates=$nCand%-9d " +
        f"n_pairs=${r.getLong(6)}%-5d " +
        f"cand_ratio=${nCand.toDouble / math.max(nPoss, 1)}%.6f")
      // the containment twin: its B-side full index makes candidate
      // volume MORE df-sensitive than the Jaccard one
      val c = SparkEntry.queries("dedup_containment_stats")(spark, d)
        .collect()(0)
      Barrier.releaseAll(spark)
      val dPoss = c.getLong(0) * (c.getLong(0) - 1)
      println(f"[zipf] $tag%-14s containment: n_sets=${c.getLong(0)}%-6d " +
        f"n_prefix_rows=${c.getLong(2)}%-8d " +
        f"n_candidates=${c.getLong(3)}%-9d " +
        f"n_set_pairs=${c.getLong(4)}%-5d " +
        f"cand_ratio=${c.getLong(3).toDouble / math.max(dPoss, 1)}%.6f")
    }
  }
}
