package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.{Barrier, Tables}
import graft.core.Barrier.BarrierOps
import graft.operators.Dedup
import graft.streaming.StatefulStreaming

/** reference_stream's corpus phase: the LLM-corpus front door (classifier →
  * bloom → 13-gram gates → near-dup signature store → pack index) as a
  * closed-loop backlog drain in doc_id order: the next source file is
  * offered only once the previous micro-batch has committed. stage.py
  * splits the corpus into the backlog files. Arrival order is fixed (the
  * batch twin depends on it), so the seed is unused. */
object CorpusStream {

  /** Signature-store compaction threshold of the reference front door. */
  val CompactThreshold = 2

  /** The static gate sets, built and cached once. */
  final class Gates(docs: DataFrame) {
    private val bench =
      docs.filter(pmod(col("doc_id"), lit(13L)) === 0).select("text")
    val fps: DataFrame = StatefulStreaming.benchmarkFps(bench).cache()
    val bloom: DataFrame = StatefulStreaming.benchmarkBloom(fps).cache()
    val gramFps: DataFrame = StatefulStreaming.benchmarkGramFps(bench).cache()
    fps.count(); bloom.count(); gramFps.count()
  }

  /** The front door's micro-batch body, as the reference soak runs it. */
  private def body(ctx: Main.Ctx, gates: Gates, root: String)(
      batch: Dataset[Row], id: Long): Unit = Trace.span("batch") {
    val spark = ctx.spark
    val cls = Trace.span("streaming.gate_classifier") {
      StatefulStreaming.classifierGateBatch(batch.toDF()).barrier()
    }
    val bld = Trace.span("streaming.gate_bloom") {
      StatefulStreaming.contaminationGateBloom(cls, gates.fps, gates.bloom)
        .barrier()
    }
    val gated = StatefulStreaming.ngramGateBatch(bld, gates.gramFps)
    val admitted = Trace.span("streaming.neardup") {
      StatefulStreaming.nearDupIngestBatch(gated, s"$root/sig_store", id,
        compactThreshold = CompactThreshold,
        timer = (ph, s) => Trace.ended(s"streaming.neardup.$ph", s))
    }
    Trace.span("sinks.admit_write") {
      admitted.write.mode(SaveMode.Overwrite)
        .parquet(s"$root/admitted/batch_$id")
    }
    Trace.span("streaming.pack") {
      StatefulStreaming.packIngestBatch(
        spark.read.schema(admitted.schema).parquet(s"$root/admitted/batch_$id")
          .select(col("doc_id"), col("text")), s"$root/pack_stream", id)
    }
    Trace.span("core.barrier_release") { Barrier.releaseAll(spark) }
  }

  private def start(ctx: Main.Ctx, gates: Gates, root: String,
      schema: org.apache.spark.sql.types.StructType): StreamingQuery = {
    Files.createDirectories(Paths.get(s"$root/src"))
    ctx.spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/src")
      .writeStream.queryName("corpus")
      .foreachBatch(body(ctx, gates, root) _)
      .option("checkpointLocation", s"$root/_chk").start()
  }

  private def offer(f: java.nio.file.Path, root: String, i: Int): Unit = {
    Files.move(f, Paths.get(s"$root/src", f"c-$i%05d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Builds the static gate sets and warms up on the small fixture, then
    * returns the timed phase. */
  def setup(ctx: Main.Ctx): Main.Phase = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val docs = Tables.load(spark, ctx.sf("sf0.1"), "documents")
      .select("doc_id", "text")
    val staged = ctx.staged("docs")
    val gates = new Gates(docs)
    ctx.record.put("setup_corpus_gates_s", (System.nanoTime() - t0) / 1e9)

    // warm-up: the same front door over the small fixture
    val tw = System.nanoTime()
    val warm = ctx.dir("warm_corpus")
    val wq = start(ctx, gates, warm, docs.schema)
    try ctx.staged("warm_docs").zipWithIndex.foreach { case ((f, _), i) =>
      offer(f, warm, i); wq.processAllAvailable()
    } finally wq.stop()
    ctx.record.put("setup_corpus_warmup_s", (System.nanoTime() - tw) / 1e9)

    new Main.Phase {
      private val root = ctx.dir("run_corpus")
      private var done = 0

      def timed(): Unit = {
        val q = start(ctx, gates, root, docs.schema)
        val batches = new java.util.ArrayList[Map[String, Any]]()
        try ctx.timedRegion {
          val base = System.nanoTime()
          while (done < staged.size && (done == 0 ||
              (System.nanoTime() - base) / 1e9 < ctx.args.seconds)) {
            val (f, docsIn) = staged(done)
            val s = System.nanoTime()
            val close = Trace.adopt(s"offer:$done")
            ctx.attempted.incrementAndGet()
            offer(f, root, done)
            try q.processAllAvailable()
            catch { case e: Throwable => ctx.fail(s"batch $done", e) }
            close()
            batches.add(Map("file" -> done, "docs" -> docsIn,
              "offered_s" -> (s - base) / 1e9,
              "committed_s" -> (System.nanoTime() - base) / 1e9))
            done += 1
          }
        } finally q.stop()
        ctx.record.put("corpus", Map("root" -> root, "batches" -> batches))
      }

      def check(): Unit = CorpusStream.check(ctx, root, gates, done)
    }
  }

  /** Admitted set ≡ batch gates + greedy keep-first over the drained
    * prefix; pack index ≡ an independent cumulative-sum twin. Also records
    * the exact per-gate counts. */
  private def check(ctx: Main.Ctx, root: String, gates: Gates,
      nFiles: Int): Unit = try {
    val spark = ctx.spark
    val prefix = (0 until nFiles).map(i => f"$root/src/c-$i%05d.parquet")
    val drained = spark.read.parquet(prefix: _*).select("doc_id", "text")
    val cls = StatefulStreaming.classifierGateBatch(drained).cache()
    val bld = StatefulStreaming.contaminationGateFps(cls, gates.fps).cache()
    val gated = StatefulStreaming.ngramGateBatch(bld, gates.gramFps).cache()
    val pairs = Dedup.verifiedPairs(Dedup.bandedSigs(gated), 4)
    val twin = gated.join(Dedup.greedyDroppedDocs(pairs), Seq("doc_id"),
      "left_anti").select("doc_id").collect().map(_.getLong(0)).toSet
    val n = Seq(drained, cls, bld, gated).map(_.count())
    Barrier.releaseAll(spark)
    val got = spark.read.parquet(s"$root/admitted/batch_*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    if (got != twin) ctx.mismatch(
      s"corpus.admitted (${got.size} streamed vs ${twin.size} batch)")
    // bounded-window: untimed twin over the drained prefix of the corpus
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
    val idxTwin = spark.read.parquet(s"$root/admitted/batch_*")
      .select(col("doc_id"), graft.functions.Text.bpeishTokenCount(col("text"))
        .cast("long").as("toks"))
      .filter(col("toks") > 0L)
      .withColumn("cum", sum(col("toks")).over(wCum))
      .select(col("doc_id"), col("toks"),
        (col("cum") - col("toks")).as("start_tok"))
    val idxGot = spark.read.parquet(s"$root/pack_stream/__batch=*")
      .select("doc_id", "toks", "start_tok")
    if (idxGot.exceptAll(idxTwin).count() != 0 ||
        idxTwin.exceptAll(idxGot).count() != 0)
      ctx.mismatch("corpus.pack_index")
    Seq(cls, bld, gated).foreach(_.unpersist())
    val sig = new java.io.File(s"$root/sig_store").listFiles()
      .filter(_.isDirectory)
    ctx.record.put("corpus_counts", Map(
      "attempted" -> n(0), "admitted" -> got.size,
      "classifier_rejected" -> (n(0) - n(1)),
      "bloom_rejected" -> (n(1) - n(2)), "ngram_rejected" -> (n(2) - n(3)),
      "neardup_rejected" -> (n(3) - got.size),
      "sig_store_generations" -> sig.count(_.getName.startsWith("__gen=")),
      "sig_store_dirs" -> sig.length))
  } catch { case e: Throwable => ctx.fail("corpus check", e) }
}
