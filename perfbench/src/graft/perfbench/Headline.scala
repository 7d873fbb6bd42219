package graft.perfbench

import scala.jdk.CollectionConverters._
import graft.SparkEntry
import graft.core.Barrier

/** headline_batch: the headline queries (listed by stage.py) at sf0.1, one
  * closed-loop client running full passes, each pass in a seed-shuffled
  * order. Correctness: every query's output is written once after the
  * timed passes, for the DuckDB oracle compare in run.py. */
object Headline {

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val sf = ctx.sf("sf0.1")
    val queries = ctx.manifest.get("queries").elements().asScala
      .map(_.asText()).toSeq
    val outDir = ctx.dir("verify")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    Json.write(s"$outDir/oracle_sql.json",
      queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    // warm-up: one pass on nproc threads over the same fixture — JIT,
    // codegen (the ingest spread makes some sf0.1 plans differ from those
    // of a smaller fixture) and footer caches — so the timed pass measures
    // the plans, not first-use costs
    val tw = System.nanoTime()
    Main.parallel(spark, ctx.args.cores, queries) { q =>
      try SparkEntry.queries(q)(spark, sf)
        .queryExecution.toRdd.count()
      catch { case e: Throwable => ctx.fail(s"warm-up $q", e) }
      ()
    }
    ctx.record.put("setup_warmup_s", (System.nanoTime() - tw) / 1e9)

    val rnd = new scala.util.Random(ctx.args.seed)
    val execs = new java.util.ArrayList[Map[String, Any]]()
    val passes = new java.util.ArrayList[Double]()
    ctx.timedRegion {
      val t0 = System.nanoTime()
      var pass = 0
      while (pass == 0 || (System.nanoTime() - t0) / 1e9 < ctx.args.seconds) {
        val order = rnd.shuffle(queries)
        val (_, passS) = Trace.timed("pass") {
          order.foreach { q =>
            ctx.attempted.incrementAndGet()
            spark.sparkContext.setLocalProperty(JobListener.Label, q)
            val (ok, latency) = Trace.timed(s"query:$q") {
              try {
                val df = Trace.span("operators.build") {
                  SparkEntry.queries(q)(spark, sf)
                }
                Trace.span("spark.execute") {
                  df.queryExecution.toRdd.count()
                }
                true
              } catch { case e: Throwable => ctx.fail(q, e); false }
            }
            spark.sparkContext.setLocalProperty(JobListener.Label, null)
            // release after the query's timer, before the next query: blocks
            // must not pile up across queries, and the pass pays for it
            Trace.span("core.barrier_release") { Barrier.releaseAll(spark) }
            execs.add(Map("query" -> q, "pass" -> pass, "ok" -> ok,
              "latency_s" -> latency))
          }
        }
        passes.add(passS)
        pass += 1
      }
    }
    ctx.record.put("passes_s", passes)
    ctx.record.put("executions", execs)

    // untimed correctness: one output per query for the oracle compare,
    // which run.py starts as soon as each output is complete
    Main.parallel(spark, ctx.args.cores, queries) { q =>
      try SparkEntry.queries(q)(spark, sf).write
        .mode("overwrite").parquet(s"$outDir/$q")
      catch { case e: Throwable => ctx.fail(s"verify $q", e) }
    }
  }
}
