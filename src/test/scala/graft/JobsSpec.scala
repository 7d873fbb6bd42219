package graft

import java.nio.file.Files
import graft.streaming.Jobs

/** Every reference entry point (13 jobs) runs end-to-end in batch over the
  * fixtures and produces non-empty, readable output — the "a user of the
  * reference could switch" smoke.
  */
class JobsSpec extends SparkSpec {

  test("log splitter: streaming run produces exactly the batch outputs") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("logstream").toString
    Jobs.runLogSplitStreaming(spark, sfDir, out)
    val batchSplits = graft.operators.LogSplit
      .splits(graft.core.Tables.load(spark, sfDir, "events"))
    batchSplits.foreach { case (name, batchDf) =>
      val streamed = spark.read.parquet(s"$out/$name")
      assert(streamed.count() === batchDf.count(), s"split $name count")
      // exact same rows, not just counts
      assert(streamed.exceptAll(batchDf).count() === 0 &&
        batchDf.exceptAll(streamed).count() === 0,
        s"split $name rows differ between batch and streaming")
    }
  }

  test("routed streaming sink partitions by sink_table and matches batch") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("routedstream").toString
    Jobs.runRoutedStreaming(spark, sfDir, out)
    val parts = new java.io.File(out).list()
      .filter(_.startsWith("sink_table=")).toSet
    assert(parts === Set("sink_table=dwd_trade_order_add",
      "sink_table=dwd_trade_order_upd"))
    val batch = graft.operators.LogSplit
      .queries("x2_fact_router")(spark, sfDir)
    def assertEqualsBatch(what: String): Unit = {
      val streamed = spark.read.parquet(out)
        .select(col("id"), col("sink_table").cast("string"))
      assert(streamed.exceptAll(batch).count() === 0 &&
        batch.exceptAll(streamed).count() === 0,
        s"streaming routed output must equal the batch router ($what)")
    }
    assertEqualsBatch("first run")
    // a crash between the newest batch's write and its commit: drop the
    // commit and restart — the replayed batch must not append twice
    val commits = new java.io.File(out, "_chk/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(commits.nonEmpty, "the stream committed no batch")
    val newest = commits.maxBy(_.getName.toLong)
    assert(newest.delete())
    new java.io.File(newest.getParent, s".${newest.getName}.crc").delete()
    Jobs.runRoutedStreaming(spark, sfDir, out)
    assertEqualsBatch("after replaying the uncommitted batch")
  }

  test("all 13 reference jobs run and write non-empty outputs") {
    assert(Jobs.jobs.size === 13)
    val out = Files.createTempDirectory("jobs").toString
    Jobs.jobs.keys.toSeq.sorted.foreach { name =>
      val counts = Jobs.run(name, spark, sfDir, out)
      assert(counts.nonEmpty, s"$name produced no outputs")
      counts.foreach { case (o, n) =>
        assert(n > 0, s"$name/$o wrote 0 rows")
      }
    }
  }
}
