package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.core.{Barrier, Sessions}

/** Inspect driver queries on the engine's own session defaults
  * (`core.Sessions.local`: AQE on, shuffle partitions = cores, graft
  * extensions registered), so what it prints is the plan the engine runs.
  * PLANS.md and the SCALING.md readings are written from this output.
  *
  * Usage: runMain graft.tools.Inspect <explain|final|show|count> <sfDir>
  *   <q1,q2,...|all> [maxRows]
  *  - explain: the formatted physical plan, before execution
  *  - final:   runs the query, then prints the final adaptive plan (AQE's
  *             runtime reuse/broadcast/coalesce decisions)
  *  - show:    up to maxRows (default 50) result rows
  *  - count:   output row count and seconds, construction included
  */
object Inspect {
  private val modes = Set("explain", "final", "show", "count")
  private val usage = "usage: Inspect <explain|final|show|count> <sfDir> " +
    "<q1,q2,...|all> [maxRows]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && modes(args(0)), usage)
    val spark = Sessions.local()
    val failed =
      try run(spark, args(0), args(1), args(2), args.lift(3).fold(50)(_.toInt))
      finally spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** Inspect each query of `which` (a comma list, or `all`) on `spark`,
    * printing one block per query. A failing query prints its error and
    * the next one runs; barrier blocks are released after every query.
    * Returns the number of failed queries.
    */
  def run(spark: SparkSession, mode: String, dir: String, which: String,
      maxRows: Int = 50): Int = {
    require(modes(mode), usage)
    val names =
      if (which == "all") SparkEntry.queries.keys.toSeq.sorted
      else which.split(",").toSeq
    names.count { name =>
      println(s"\n===== $name ($mode) =====")
      try {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, dir)
        mode match {
          case "explain" => df.explain("formatted")
          case "final" =>
            df.queryExecution.toRdd.count()
            println(df.queryExecution.executedPlan)
          case "show" => df.show(maxRows, truncate = false)
          case "count" =>
            val n = df.queryExecution.toRdd.count()
            println(f"rows=$n (${(System.nanoTime() - t0) / 1e9}%.1fs)")
        }
        false
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"[inspect] $name failed: $e")
          true
      } finally Barrier.releaseAll(spark)
    }
  }
}
