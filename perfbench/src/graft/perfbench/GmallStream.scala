package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.core.Tables
import graft.operators.{LogSplit, Relational}
import graft.streaming.Sinks

/** reference_stream's gmall phase: the warehouse graph as four concurrently
  * running streaming queries, fed open loop. ODS `events` files arrive on a
  * fixed schedule; DWD splits each micro-batch five ways; DIM keeps the
  * SCD2 history store; the DWS page and error aggregates (complete mode)
  * upsert into keyed stores. stage.py deals the events into the ODS files
  * by seed, so arrival is out of event-time order. */
object GmallStream {

  /** The graph rooted at `root`; `commits` records every foreachBatch
    * body's (stage, batch, start, end) in seconds since `base`. */
  final class Graph(ctx: Main.Ctx, root: String, evSchema: StructType,
      base: () => Long) {
    private val spark = ctx.spark
    val ods = s"$root/ods"
    val commits = new ConcurrentLinkedQueue[Map[String, Any]]()
    private def since(t: Long) = (t - base()) / 1e9

    private def commit(stage: String, id: Long)(body: => Unit): Unit = {
      val s = System.nanoTime()
      try Trace.span(s"batch:$stage") { body }
      catch { case e: Throwable => ctx.fail(s"$stage batch $id", e); throw e }
      finally commits.add(Map("stage" -> stage, "batch" -> id,
        "start_s" -> since(s), "end_s" -> since(System.nanoTime())))
      ()
    }

    private val facts = LogSplit.splits(
      spark.createDataFrame(java.util.List.of[Row](), evSchema), Seq("ts"))

    def start(): Seq[StreamingQuery] = {
      Files.createDirectories(Paths.get(ods))
      val src = spark.readStream.schema(evSchema).parquet(ods)
      val dwd = src.writeStream.queryName("dwd")
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          commit("dwd", id) {
            val p = b.persist()
            try Trace.span("dwd.split_write") {
              LogSplit.splits(p.toDF(), Seq("ts")).foreach { case (n, df) =>
                df.write.mode(SaveMode.Overwrite)
                  .parquet(s"$root/dwd/$n/batch_$id")
              }
            } finally { p.unpersist(); () }
          }
        }
        .option("checkpointLocation", s"$root/_chk_dwd").start()
      val dim = src.writeStream.queryName("dim")
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          commit("dim", id) {
            Trace.span("dim.scd2_upsert") {
              Sinks.scd2Upsert(spark, b.toDF().filter(col("user_id").isNotNull)
                .select("user_id", "event_id", "ts", "event_type", "value"),
                "user_id", "event_id", "ts", s"$root/dim_scd2")
            }
          }
        }
        .option("checkpointLocation", s"$root/_chk_dim").start()
      Seq(dwd, dim, dws("page")(pageAgg), dws("err")(errAgg))
    }

    private def dws(fact: String)(agg: DataFrame => DataFrame)
        : StreamingQuery =
      agg(spark.readStream.schema(facts(fact).schema)
          .parquet(s"$root/dwd/$fact/batch_*"))
        .writeStream.queryName(s"dws_$fact").outputMode("complete")
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          commit(s"dws_$fact", id) {
            Trace.span("dws.upsert") {
              Sinks.upsert(spark, b.toDF().withColumn("__seq", lit(id)),
                "__k", "__seq", s"$root/dws_$fact")
            }
          }
        }
        .option("checkpointLocation", s"$root/_chk_dws_$fact").start()

    /** Every query drains what is available, upstream first. */
    def drain(qs: Seq[StreamingQuery]): Unit = qs.foreach(_.processAllAvailable())
  }

  def pageAgg(df: DataFrame): DataFrame =
    df.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("cur_date"),
        pmod(col("k"), lit(3L)).as("ch"))
      .agg(count(lit(1)).as("pv"), sum(col("k")).as("k_sum"))
      .withColumn("__k", concat(col("cur_date"), lit("|"), col("ch")))

  def errAgg(df: DataFrame): DataFrame =
    df.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("cur_date"))
      .agg(count(lit(1)).as("err_ct"))
      .withColumn("__k", col("cur_date"))

  private def release(f: java.nio.file.Path, ods: String, i: Int): Unit = {
    Files.move(f, Paths.get(ods, f"ods-$i%05d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Warms up on the small fixture, then returns the timed phase. */
  def setup(ctx: Main.Ctx): Main.Phase = {
    val spark = ctx.spark
    val filesPerSecond = ctx.manifest.get("files_per_second").asDouble()
    val nFiles = ctx.staged("files").size
    val events = Tables.load(spark, ctx.sf("sf0.1"), "events")

    // warm-up: the same graph over the small fixture, released at once
    val tw = System.nanoTime()
    val warm = new Graph(ctx, ctx.dir("warm"), events.schema, () => tw)
    val wq = warm.start()
    ctx.staged("warm").zipWithIndex.foreach { case ((f, _), i) =>
      release(f, warm.ods, i)
    }
    try warm.drain(wq) finally wq.foreach(_.stop())
    ctx.record.put("setup_gmall_warmup_s", (System.nanoTime() - tw) / 1e9)

    new Main.Phase {
      private val root = ctx.dir("run")
      @volatile private var base = 0L
      private val g = new Graph(ctx, root, events.schema, () => base)

      def timed(): Unit = {
        val qs = g.start()
        // the feed is run.py's generator, a process apart from the engine:
        // it releases file i at base + i / rate, base being announced here
        val baseMs = System.currentTimeMillis() + 500
        val marker = ctx.dir("feed_base.json")
        Json.write(s"$marker.tmp", Map("base_epoch_ms" -> baseMs,
          "ods" -> g.ods))
        Files.move(Paths.get(s"$marker.tmp"), Paths.get(marker),
          StandardCopyOption.ATOMIC_MOVE)
        Thread.sleep(math.max(0L, baseMs - System.currentTimeMillis()))
        try ctx.timedRegion {
          base = System.nanoTime()
          val feed = Trace.adopt("feed")
          while (new java.io.File(g.ods).list().length < nFiles)
            Thread.sleep(5)
          feed()
          val drain = Trace.adopt("drain")
          try g.drain(qs) catch { case e: Throwable => ctx.fail("drain", e) }
          drain()
        } finally qs.foreach(_.stop())
        ctx.attempted.addAndGet(g.commits.size.toLong)
        ctx.record.put("gmall", Map("root" -> root,
          "base_epoch_ms" -> baseMs, "commits" -> g.commits.asScala.toSeq,
          "rate_files_per_s" -> filesPerSecond))
      }

      def check(): Unit = {
        // the batch twin reads exactly the released files, through the same
        // fixture loader the batch queries use
        spark.read.parquet(g.ods).write.parquet(ctx.dir("twin/events.parquet"))
        GmallStream.check(ctx, root, ctx.dir("twin"))
      }
    }
  }

  /** The stores equal their batch twins (the equalities SoakSpec asserts). */
  def check(ctx: Main.Ctx, root: String, twin: String): Unit = {
    val spark = ctx.spark
    val events = Tables.load(spark, twin, "events")
    // multiset equality in one job: rows of `got` count +1, rows of `want`
    // -1, and every row must net to zero
    def same(what: String, got: DataFrame, want: DataFrame): Unit =
      try {
        val cols = want.columns.toSeq.map(col)
        val diff = got.select(cols: _*).withColumn("__n", lit(1L))
          .unionByName(want.withColumn("__n", lit(-1L)))
          .groupBy(cols: _*).agg(sum(col("__n")).as("__n"))
          .filter(col("__n") =!= 0L).count()
        if (diff != 0) ctx.mismatch(s"$what ($diff rows differ)")
      } catch { case e: Throwable => ctx.fail(s"check $what", e) }
    val splits = LogSplit.splits(events, Seq("ts"))
    splits.foreach { case (n, df) =>
      same(s"dwd.$n", spark.read.parquet(s"$root/dwd/$n/batch_*"), df)
    }
    same("dim.scd2", Sinks.readStore(spark, s"$root/dim_scd2")
        .select("user_id", "version", "event_type", "value",
          "valid_from", "valid_to", "is_current"),
      Relational.queries("k8_scd2_history")(spark, twin))
    same("dws.page", Sinks.readStore(spark, s"$root/dws_page")
      .select("cur_date", "ch", "pv", "k_sum"),
      pageAgg(splits("page")).drop("__k"))
    same("dws.err", Sinks.readStore(spark, s"$root/dws_err")
      .select("cur_date", "err_ct"), errAgg(splits("err")).drop("__k"))
  }
}
