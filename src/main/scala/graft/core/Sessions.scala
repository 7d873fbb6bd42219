package graft.core

import org.apache.spark.sql.SparkSession

/** One place for the engine's session defaults: UTC (oracle parity), AQE
  * (runtime re-plan + skew split), shuffle partitions sized to the env
  * (32 locally; cluster-sized in prod), graft extensions registered.
  */
object Sessions {

  /** The RocksDB streaming state store — the CLUSTER tier, conf-gated like
    * the reuse barrier. The default HDFS-backed provider keeps every
    * stateful operator's state ON-HEAP per executor: fine for local[n]
    * tests, an OOM at 100 TB ingest where per-key dedup/join state runs to
    * hundreds of GB per executor. RocksDB spills to local disk with an
    * off-heap block cache, which is what the StatefulStreaming scale notes
    * assume. Select with SPARK_GRAFT_STATESTORE=rocksdb (or set the Spark
    * conf directly before starting a query — the provider is read per
    * query start). StreamingSpec runs the A4 state machine under it.
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // bucketed-table metadata (Tables.writeBucketed) needs a catalog
      // location; keep it out of the working tree in local runs (a real
      // deployment points this at its warehouse)
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_warehouse")
    if (sys.env.get("SPARK_GRAFT_STATESTORE").contains("rocksdb"))
      b.config("spark.sql.streaming.stateStore.providerClass",
        RocksDbProvider)
    // cluster-profile reuse barrier (persist(DISK_ONLY) instead of
    // localCheckpoint — see core.Barrier): SPARK_GRAFT_BARRIER=persist
    // lets the whole Verify/perfbench surface run under the cluster tier
    sys.env.get("SPARK_GRAFT_BARRIER").foreach(m => b.config(Barrier.ConfKey, m))
    // prefix-sum bucket-count override (TextAnalysis.prefixBuckets) —
    // output-invariant by design; the env hook lets the whole
    // Verify/localcheck gate run under a different count to prove it
    sys.env.get("SPARK_GRAFT_PREFIX_BUCKETS")
      .foreach(n => b.config("spark.graft.prefixSumBuckets", n))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
