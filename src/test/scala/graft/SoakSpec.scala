package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.{Jobs, Sinks, StatefulStreaming}

/** Whole-graph streaming soak: ingest hygiene (contamination gate →
  * near-dup ingest dedup → keyword DWS) chained with the reference DAG
  * (splitter → DWD facts → DWS windows → bucketed serving stores) as one
  * multi-micro-batch run (Jobs.runSoak), with every final store equal to
  * the batch composition of the same transforms. Closes the "each piece
  * streams, the whole graph never has" residual from round 2–4 and, since
  * round 6, the "hygiene stages only run in their own specs" residual.
  */
class SoakSpec extends SparkSpec {

  /** The whole soak + every store-vs-batch-twin assertion; returns the
    * DWS state operators' custom-metric keys so the cluster-tier variant
    * can prove WHICH provider held the streaming aggregate state.
    */
  private def runSoakAndAssert(): Seq[String] = {
    val work = Files.createTempDirectory("soak").toString
    val stateMetricKeys = Jobs.runSoak(spark, sfDir, work, srcFiles = 4)

    // STAGE 0: streamed hygiene admissions ≡ batch gates (classifier +
    // exact fp + 13-gram) + GLOBAL greedy keep-first (arrival order = id
    // order by construction)
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val benchDocs =
      docs.filter(pmod(col("doc_id"), lit(13L)) === 0).select("text")
    val benchFps = StatefulStreaming.benchmarkFps(benchDocs)
    val benchGramFps = StatefulStreaming.benchmarkGramFps(benchDocs)
    val gatedAll = StatefulStreaming.ngramGateBatch(
      StatefulStreaming.contaminationGateFps(
        StatefulStreaming.classifierGateBatch(docs), benchFps),
      benchGramFps)
    val pairs = graft.operators.Dedup.verifiedPairs(
      graft.operators.Dedup.bandedSigs(gatedAll), 4)
    val admittedTwinDf = gatedAll.join(
      graft.operators.Dedup.greedyDroppedDocs(pairs), Seq("doc_id"),
      "left_anti")
    val admittedTwin = admittedTwinDf.select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // batch twin of the keyword DWS over the admitted twin — materialized
    // BEFORE the barrier release below (its plan rides the greedy barriers)
    val kwTwin = admittedTwinDf
      .select(explode(graft.functions.Text.tokenizeCjk(col("text")))
        .as("keyword"))
      .groupBy(col("keyword")).agg(count(lit(1)).as("keyword_count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.core.Barrier.releaseAll(spark)
    val admittedGot = spark.read.parquet(s"$work/admitted/batch_*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admittedGot === admittedTwin,
      "streamed hygiene admissions must equal the batch gate + greedy twin")
    assert(!admittedGot.exists(_ % 13 == 0),
      "no benchmark member survives the contamination gate")
    // the signature store compacted instead of growing per batch
    val sigDirs = new java.io.File(s"$work/sig_store")
      .listFiles().filter(_.isDirectory).map(_.getName)
    assert(sigDirs.exists(_.startsWith("__gen=")),
      s"hygiene store must have compacted: ${sigDirs.toList}")
    assert(sigDirs.length <= 5, s"store must stay bounded: ${sigDirs.toList}")

    // keyword DWS consumed the ADMITTED stream: store ≡ batch keyword
    // counts over the admitted twin
    val kwGot = Sinks.readStore(spark, s"$work/store_kw")
      .select("keyword", "keyword_count")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kwGot === kwTwin,
      "keyword DWS store differs from the batch twin over admitted docs")
    assert(kwGot.nonEmpty)

    // stage 1 streamed DWD facts ≡ batch splitter outputs
    val batchSplits = graft.operators.LogSplit
      .splits(graft.core.Tables.load(spark, sfDir, "events"), Seq("ts"))
    Seq("page", "start", "err", "display", "action").foreach { name =>
      val streamed = spark.read.parquet(s"$work/dwd/$name/batch_*")
      val batch = batchSplits(name)
      assert(streamed.exceptAll(batch).count() === 0 &&
        batch.exceptAll(streamed).count() === 0,
        s"streamed DWD fact $name differs from batch split")
    }

    // STAGE 1.5: the streamed SCD2 dim history ≡ the batch k8 window
    // over the same events
    val scd2Got = Sinks.readStore(spark, s"$work/scd2_store")
      .select("user_id", "version", "event_type", "value",
        "valid_from", "valid_to", "is_current")
    val scd2Twin = graft.operators.Relational
      .queries("k8_scd2_history")(spark, sfDir)
    assert(scd2Got.exceptAll(scd2Twin).count() === 0 &&
      scd2Twin.exceptAll(scd2Got).count() === 0,
      "streamed SCD2 history differs from the batch k8 window")
    assert(scd2Got.filter(col("is_current")).count() ===
      scd2Got.select("user_id").distinct().count(),
      "exactly one current interval per key")

    // DWS page-view store ≡ batch aggregate over the batch splitter
    val pageTwin = batchSplits("page")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("cur_date"),
        pmod(col("k"), lit(3L)).as("ch"))
      .agg(count(lit(1)).as("pv"), sum(col("k")).as("k_sum"))
    val pageGot = Sinks.readStore(spark, s"$work/store_page")
      .select("cur_date", "ch", "pv", "k_sum")
    assert(pageGot.exceptAll(pageTwin).count() === 0 &&
      pageTwin.exceptAll(pageGot).count() === 0,
      "page DWS store differs from batch twin")
    assert(pageGot.count() > 0)

    // DWS error store ≡ batch aggregate
    val errTwin = batchSplits("err")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("cur_date"))
      .agg(count(lit(1)).as("err_ct"))
    val errGot = Sinks.readStore(spark, s"$work/store_err")
      .select("cur_date", "err_ct")
    assert(errGot.exceptAll(errTwin).count() === 0 &&
      errTwin.exceptAll(errGot).count() === 0,
      "err DWS store differs from batch twin")

    // TERMINAL stage: the training packs on disk ≡ an INDEPENDENT
    // re-derivation of the span index over the admitted corpus (plain
    // global-window cumsum — test-scale only; the engine side uses the
    // distributed prefix-sum), and each pack's token payload length
    // equals its indexed n_toks
    val admittedDocs = spark.read.parquet(s"$work/admitted/batch_*")
      .select("doc_id", "text")
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
    val cums = admittedDocs
      .select(col("doc_id"), graft.functions.Text
        .bpeishTokenCount(col("text")).cast("long").as("toks"))
      .filter(col("toks") > 0L)
      .withColumn("cum", sum(col("toks")).over(wCum))
    // the STREAM-maintained pack index (appended per admitted micro-batch
    // in stage 0, no global recompute) ≡ the same independent twin
    val idxGot = spark.read.parquet(s"$work/pack_stream/__batch=*")
      .select("doc_id", "toks", "start_tok")
    val idxTwin = cums.select(col("doc_id"), col("toks"),
      (col("cum") - col("toks")).as("start_tok"))
    assert(idxGot.exceptAll(idxTwin).count() === 0 &&
      idxTwin.exceptAll(idxGot).count() === 0,
      "stream-maintained pack index differs from the independent twin")
    val expectedPacks = cums
      .select((col("cum") - col("toks")).as("start"), col("cum"))
      .select(col("start"), col("cum"),
        explode(expr("sequence(start div 512, (cum - 1) div 512)"))
          .as("pack_id"))
      .select(col("pack_id"),
        (least(col("cum"), (col("pack_id") + 1) * 512L) -
          greatest(col("start"), col("pack_id") * 512L)).as("n"))
      .groupBy("pack_id").agg(sum(col("n")).as("n_toks"))
    val packStore = Sinks.readStore(spark, s"$work/packs")
      .select("pack_id", "n_toks", "tokens").cache()
    val packCounts = packStore.select("pack_id", "n_toks")
    assert(packCounts.exceptAll(expectedPacks).count() === 0 &&
      expectedPacks.exceptAll(packCounts).count() === 0,
      "pack store counts differ from the independent span-index twin")
    assert(packStore.filter(
        size(split(col("tokens"), " ")) =!= col("n_toks")).count() === 0,
      "a pack's token payload length must equal its indexed n_toks")
    // every pack but the last is exactly full
    val lastPack = packStore.agg(max(col("pack_id"))).first().getLong(0)
    assert(packStore.filter(col("pack_id") < lastPack &&
        col("n_toks") =!= 512L).count() === 0,
      "every pack but the last must hold exactly L tokens")
    // replaying the terminal stage rewrites the same winners — commit
    // idempotence, same contract as every other soak store
    val before = packStore.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    packStore.unpersist()
    Jobs.runPackStage(spark, work)
    val after = Sinks.readStore(spark, s"$work/packs")
      .select("pack_id", "n_toks", "tokens").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(after === before, "pack stage replay must be idempotent")

    // the STREAM-materialized packs (per-batch carry tier in stage 0)
    // plus the final carry equal the terminal batch store — the same
    // training batches, built incrementally as each micro-batch admitted
    val streamedPacks = spark.read
      .parquet(s"$work/pack_stream/packs/__batch=*")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // the final carry is the LATEST batch's dir — empty or not (an empty
    // latest carry SHADOWS older ones; the engine applies the same rule)
    val carryRoot = new java.io.File(s"$work/pack_stream/__carry")
    val lastCarryDir = carryRoot.listFiles().filter(_.isDirectory)
      .maxBy(_.getName.stripPrefix("__batch=").toLong)
    val finalCarry =
      if (!lastCarryDir.listFiles().exists(_.getName.startsWith("part-")))
        Array.empty[(Long, Long, String)]
      else graft.operators.TextAnalysis.assemblePacks(
        spark.read.parquet(lastCarryDir.toString))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert((streamedPacks ++ finalCarry).toSet === before,
      "stream-materialized packs + carry differ from the terminal store")
    streamedPacks.foreach { case (p, n, _) =>
      assert(n === 512L, s"streamed pack $p not full") }

    // the run was genuinely multi-micro-batch at every stage: the commit
    // log records one entry per micro-batch
    def commits(chk: String): Int =
      new java.io.File(s"$chk/commits").list().count(!_.startsWith("."))
    assert(commits(s"$work/_chk_hygiene") >= 4,
      "hygiene front stage ran >=4 micro-batches")
    assert(commits(s"$work/_chk_kw") >= 2, "keyword DWS ran >=2 micro-batches")
    assert(commits(s"$work/_chk_dwd") >= 4, "splitter ran >=4 micro-batches")
    assert(commits(s"$work/_chk_page") >= 2, "page DWS ran >=2 micro-batches")
    assert(commits(s"$work/_chk_err") >= 2, "err DWS ran >=2 micro-batches")
    stateMetricKeys
  }

  test("chained streaming DAG final state equals the batch composition") {
    runSoakAndAssert()
    ()
  }

  test("the full soak is green under the RocksDB state store (cluster tier)") {
    // provider class is read at query start, so setting it on the shared
    // session configures exactly what
    // -Dspark.sql.streaming.stateStore.providerClass=…RocksDBStateStoreProvider
    // would — every streaming aggregate in the soak then keeps its state
    // in RocksDB while all the store-vs-batch-twin assertions still hold
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      graft.core.Sessions.RocksDbProvider)
    try {
      val metricKeys = runSoakAndAssert()
      assert(metricKeys.nonEmpty, "DWS stages must report state operators")
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"soak state must live in RocksDB, got metrics: ${metricKeys.distinct.toList}")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
