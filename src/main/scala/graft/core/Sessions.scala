package graft.core

import org.apache.spark.sql.SparkSession

/** The one session builder of the engine and its CLI mains: UTC (oracle
  * parity), AQE (runtime re-plan + skew split), shuffle partitions = the
  * core count, graft extensions registered, parquet NANOS timestamps read
  * as longs (see `Tables.load`), a generated-code cache sized to the
  * engine's working set ([[CodegenCacheEntries]]), and a local file
  * system that starts no OS process (below). The core
  * count is the only environment setting (`SPARK_GRAFT_CPUS`, else every
  * available core); every other setting is a Spark conf, and a `spark.*`
  * JVM system property that this builder does not set reaches the
  * session, e.g. `JAVA_TOOL_OPTIONS=-Dspark.graft.reuseBarrier=persist`
  * (the knobs are listed in [[Knobs]]).
  *
  * The local file system. Without the native Hadoop library (`libhadoop`,
  * which Spark's distribution does not ship), Hadoop's
  * `RawLocalFileSystem` starts a `chmod` for every file and directory it
  * creates, `.crc` files included, and a `readlink` for the link-status
  * checks behind every `FileContext` rename, the way Spark commits each
  * checkpoint file. Every `Sinks` store write, `BatchStore` contribution,
  * streaming offset and commit log entry and state-store delta waited on
  * those processes: one perfbench `reference_stream` run (seed 7, 4
  * cores) started 3,378 of them, 1,945 `chmod` and 1,400 `readlink`
  * (JFR `jdk.ProcessStart` events). The two `file:` confs below name
  * [[LocalRawFileSystem]]'s wrappers, which do both through `java.nio`:
  * same files, permission bits, `.crc` checksums, committers and
  * checkpoint renames. The same run then starts 31, none of them
  * Hadoop's `chmod` or `readlink` (29 are Spark's own `rm -rf` of its
  * session artifact directories). Hadoop caches one `file:` FileSystem
  * per JVM, keyed on scheme, authority and user, not on the conf, so
  * these confs hold only when this builder runs before anything else
  * touches a Hadoop FileSystem; every main, perfbench and the test
  * suite's session call it first.
  */
object Sessions {

  /** The RocksDB streaming state store — the CLUSTER tier. The default
    * HDFS-backed provider keeps every stateful operator's state ON-HEAP
    * per executor: fine for local[n] tests, an OOM at 100 TB ingest where
    * per-key dedup/join state runs to hundreds of GB per executor.
    * RocksDB spills to local disk with an off-heap block cache, which is
    * what the StatefulStreaming scale notes assume. Select it by setting
    * `spark.sql.streaming.stateStore.providerClass` to this class (read
    * per query start), e.g. as a `-D` system property. StreamingSpec runs
    * the A4 state machine under it.
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** `spark.sql.codegen.cache.maxEntries`: how many compiled classes
    * Spark's `CodeGenerator` keeps per JVM (an LRU; Spark's default is
    * 100). The rule: at least twice the largest number of distinct
    * classes one run compiles, so a repeated pass or micro-batch finds
    * every class it compiled before. Measured with a cache large enough
    * to evict nothing: one 23-query headline pass at sf0.1 compiles about
    * 300 classes, and a whole perfbench `reference_stream` run (gmall
    * graph, then the corpus front door) about 780. With 100 entries
    * every pass evicted what the next one needed — a repeated headline pass
    * recompiled 265–299 classes at a mean 15 ms each (p95 43 ms), and one
    * 500-doc corpus micro-batch 125–170 — while with the larger cache a
    * repeated pass compiles none and a corpus micro-batch 6–14. One
    * entry averages 5.4 K chars of source (p95 16 K) and 2.4 KB of
    * bytecode, so a full cache is tens of MB. The size is read once per
    * JVM, at the first compile, so it only takes effect through the
    * first session a JVM builds — which is why the test suite's session
    * is built here too.
    */
  private val CodegenCacheEntries = 2000

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      // parquet TIMESTAMP(NANOS) columns read as longs, which
      // `Tables.load`/`loadStream` convert (Spark 4 refuses them otherwise)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the fork-free local file system (see above), for FileSystem and
      // FileContext callers alike
      .config("spark.hadoop.fs.file.impl",
        classOf[LocalChecksumFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[LocalChecksumFs].getName)
      // bucketed-table metadata (Tables.writeBucketed) needs a catalog
      // location; keep it out of the working tree in local runs (a real
      // deployment points this at its warehouse)
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
