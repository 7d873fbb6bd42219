package graft.tools

import graft.streaming.Jobs

/** CLI entry: run one (or all) of the 13 reference jobs in batch.
  * Usage: runMain graft.tools.RunJob <job|all> <sfDir> <outDir>
  */
object RunJob {
  def main(args: Array[String]): Unit = {
    val Array(job, sfDir, outDir) = args.take(3)
    val spark = graft.core.Sessions.local()
    val names = if (job == "all") Jobs.jobs.keys.toSeq.sorted else Seq(job)
    names.foreach { n =>
      val counts = Jobs.run(n, spark, sfDir, outDir)
      println(s"[job] $n -> " +
        counts.map { case (o, c) => s"$o=$c" }.mkString(", "))
    }
    spark.stop()
  }
}
