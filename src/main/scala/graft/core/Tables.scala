package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Fixture-table IO + declared schemas.
  *
  * Design note (SURVEY §7.1): every pipeline in this engine is a pure
  * `DataFrame => DataFrame` so the same transform runs identically in batch
  * (DuckDB-oracle correctness) and Structured Streaming (production shape).
  * This is the analog of the reference's BaseApp/SQLUtil source plumbing
  * (ref: realtime-common/.../base/BaseApp.java:24-67, util/SQLUtil.java:14-37)
  * but declarative: schemas are data, reads are one-liners, and Catalyst sees
  * the whole plan (pushdown + pruning reach the parquet scan).
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Declared schemas for every fixture table (no per-query literals). */
  val schemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))

  /** Batch read of one fixture table. Parquet is self-describing; the scan
    * gets column pruning + predicate pushdown from Catalyst for free.
    *
    * `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
    * natively — read it as a long (legacy conf) and convert. Integer `div`
    * (not `/`): ns-epoch values exceed 2^53, double division would corrupt
    * the low bits. The fixture's timestamps are micro-aligned, so the
    * conversion is lossless.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val stamp = pathStamp(spark, path)
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val r = read(spark, path, stamp)
      // ns-fixture: ts arrives as a nanos long (convert); derived copies
      // written by this library already carry a real timestamp
      if (r.schema("ts").dataType == LongType)
        r.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      else r
    } else read(spark, path, stamp)
  }

  /** Schema-cache key for a parquet path — one filesystem listing. The
    * key folds in EVERY data file's (name, length, mtime) — not just the
    * totals (ADVICE r17: a rewrite preserving total bytes within one mtime
    * tick must still miss) — so a path REWRITTEN mid-session (spec
    * fixtures regenerate into the same tmp dir) never serves a stale
    * schema; fixture files themselves are immutable for a session's life.
    * Directory listings skip `_`/`.`-prefixed entries (_SUCCESS,
    * .crc) to match Spark's own data-file filter.
    * None = path unreadable; the plain reader surfaces the real error.
    * Only NonFatal errors downgrade — OOM/interrupts propagate.
    */
  private def pathStamp(spark: SparkSession, path: String): Option[String] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val files =
        if (st.isDirectory)
          fs.listStatus(p).toSeq.filter(f => f.isFile && {
            val n = f.getPath.getName
            !n.startsWith("_") && !n.startsWith(".")
          })
        else Seq(st)
      val sig = files.map(f =>
        s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        .mkString(",")
      Some(s"$path#$sig")
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Read a parquet path with the SESSION-CACHED inferred schema
    * (OPTIMIZATION r17). A bare `spark.read.parquet(p)` runs a one-task
    * schema-inference JOB on every call — profiled at 30–70 ms per `t()`
    * reference, paid again for every query construction of every bench
    * run (the stage listener shows it as `parquet at Tables.scala` in
    * front of every query). The schema of an immutable fixture file never
    * changes, so the first load infers and caches, and every later load
    * passes the SAME StructType back explicitly, which skips the
    * inference job entirely. This caches METADATA only — never rows, so
    * every run still computes from the parquet inputs; it is exactly
    * what a catalog/manifest-backed table format provides at scale
    * (guide §6). Keyed by (path, bytes, mtime): a rewritten path
    * re-infers.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def read(spark: SparkSession, path: String,
      stamp: Option[String]): DataFrame =
    stamp match {
      case Some(key) =>
        // bound the cache (ADVICE r17): every rewrite strands its old
        // entry, so a long session regenerating fixtures could grow this
        // without limit; schemas are tiny but the keys embed file lists.
        // A rare full clear is cheaper than LRU bookkeeping — the next
        // loads just re-infer once each.
        if (schemaCache.size > 512) schemaCache.clear()
        val sch = schemaCache.computeIfAbsent(key,
          _ => spark.read.parquet(path).schema)
        spark.read.schema(sch).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** Streaming read of the same table — identical downstream transforms.
    * (Kafka source analog, ref FlinkSourceUtil.java:24-56; in production
    * this becomes readStream.format("kafka") + from_json.)
    */
  def loadStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    // same ns-long vs real-timestamp dual case as load(): probe the actual
    // file schema, since library-written events copies carry a TIMESTAMP
    val tsIsLong = name == "events" && {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$dir/$name.parquet")
        .schema("ts").dataType == LongType
    }
    if (tsIsLong) {
      val raw = StructType(schemas("events").map {
        case StructField("ts", _, n, m) => StructField("ts", LongType, n, m)
        case f => f
      })
      // `{name}` glob: FileStreamSource force-sets basePath to the literal
      // path when it is NOT a glob, and a single-file basePath is rejected
      // downstream; a glob path keeps our directory basePath.
      spark.readStream.schema(raw).option("basePath", dir)
        .parquet(s"$dir/{$name}.parquet")
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
    } else
      spark.readStream.schema(schemas(name)).option("basePath", dir)
        .parquet(s"$dir/{$name}.parquet")
  }

  /** Persist a relation as a BUCKETED table (hash-bucketed + sorted by
    * `key` into `buckets` files per partition dir): the co-located-join
    * layout. Two tables bucketed the same way join WITHOUT any Exchange —
    * each task zips matching buckets — which is the difference between
    * "every daily merge reshuffles 100 TB" and "every daily merge streams
    * matching files" for repeat-join workloads (snapshot diff, roster
    * patch, upsert merge). Bucket pruning also serves point lookups.
    * Requires a table name (bucket metadata lives in the catalog);
    * `spark.sql.warehouse.dir` decides the physical location.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(table)
}
