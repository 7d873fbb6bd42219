package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import graft.core.Knobs

/** Sink library — the K1-K7 surface of the reference re-expressed for
  * Spark's micro-batch model. The reference writes to Kafka/Doris/HBase;
  * the portable analog here is keyed/partitioned parquet directories (no
  * Kafka broker in this environment).
  *
  * K1 exactly-once topic sink     (ref FlinkSinkUtil.java:31-42)
  * K2 dynamic-topic routing       (ref FlinkSinkUtil.java:44-60) — the
  *                                file sink in `Jobs.runRoutedStreaming`
  * K3/K4 Doris serving tables     (ref FlinkSinkUtil.java:63-86)
  * K5 upsert latest-per-key       (ref SQLUtil.java:54-62)
  * K6 dim MERGE put/delete        (ref DimHBaseSinkFunction.java:33-70)
  * K7 dim DDL on config change    (ref DimApp.java:112-178, HBaseUtil.java:69-122)
  *
  * Exactly-once: Spark's file sinks are exactly-once per micro-batch via
  * the write-ahead commit log; the keyed stores (K3-K6, the DWS and DIM
  * layers) are written from foreachBatch and are replay-idempotent — the
  * same batch merged twice leaves the same store — which makes
  * micro-batch retries exactly-once in effect. Scale: every write is a
  * distributed `DataFrame` write, and each keyed merge runs one bounded
  * driver collect: the batch's distinct (bucket, key) pairs, capped by
  * `spark.graft.keyedSplitMaxKeys`, which give both the touched buckets
  * and the key set (a bulk backfill past the cap adds the touched-bucket
  * collect, at most the bucket count).
  */
object Sinks {

  /** Hash-bucket partition column of the keyed stores (K5/K6). The store
    * is laid out as `dir/__bucket=N/...`; a micro-batch reads and rewrites
    * ONLY the buckets its keys hash into — O(touched buckets), not
    * O(table), per batch. At 100 TB, size the bucket count so one bucket
    * is a few GB — set `spark.graft.storeBuckets` once per deployment
    * (see [[DefaultBuckets]]); the built-in fallback 16 keeps local
    * tests fast.
    */
  private val BucketCol = "__bucket"

  /** Sentinel default for the `buckets` parameters: "use the session
    * conf". A NEW store created with the default sizes itself from
    * `spark.graft.storeBuckets` (falling back to 16 — right for local
    * tests); an EXISTING store always keeps its marker-pinned layout
    * regardless. This is the 100 TB sizing knob: one conf sets every
    * ingest tier's store fan-out (size so one bucket is a few GB)
    * without threading a parameter through every call site. An explicit
    * `buckets` argument still wins over the conf.
    */
  val DefaultBuckets: Int = -1
  // a NEW store reads the conf exactly once (its count is then
  // marker-pinned), so a mid-stream conf change only affects stores
  // created after it, never an existing one
  private def requestedBuckets(spark: SparkSession, buckets: Int): Int =
    if (buckets > 0) buckets
    else Knobs.positiveInt(spark, Knobs.StoreBuckets).getOrElse(16)

  /** The store's bucket count is LAYOUT, not a per-call knob: it is
    * pinned in a `_graft_buckets` marker on first write and reused on
    * every later call (parquet readers skip `_`-prefixed files). Without
    * this, a caller passing a different count than the store was written
    * with would hash keys into buckets `readTouched` never looks at and
    * silently break the latest-per-key invariant with duplicates.
    * The marker is staged then atomically moved, so a crash mid-write
    * can't leave a half-written count. A store that has bucket
    * directories but no marker (foreign or pre-marker layout) is
    * refused loudly rather than guessed at. Single writer per store is
    * the operating model (one foreachBatch owns a store), as with any
    * file-based sink.
    */
  private def resolveBuckets(dir: String, requested: Int): Int = {
    val d = new java.io.File(dir)
    val marker = new java.io.File(d, "_graft_buckets")
    if (marker.exists()) {
      val txt = new String(java.nio.file.Files.readAllBytes(marker.toPath),
        "UTF-8").trim
      require(txt.nonEmpty && txt.forall(_.isDigit),
        s"corrupt bucket marker $marker: '$txt'")
      txt.toInt
    } else {
      require(!d.exists() ||
          d.listFiles() == null ||
          !d.listFiles().exists(_.getName.startsWith(s"$BucketCol=")),
        s"store $dir has bucket directories but no _graft_buckets marker; " +
          "write the marker matching the existing layout before merging")
      d.mkdirs()
      writeMarker(d, "_graft_buckets", requested.toString)
      requested
    }
  }

  /** Write a marker file `d/name`: staged next to it, then atomically
    * moved over it, so a reader or a crash never sees half a marker.
    */
  private def writeMarker(d: java.io.File, name: String, text: String): Unit = {
    val tmp = java.nio.file.Files.createTempFile(d.toPath, name, ".tmp")
    java.nio.file.Files.write(tmp, text.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, new java.io.File(d, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The store's columns (bucket column excluded) as a DDL string,
    * rewritten by every merge before its bucket swap. A K6 merge that
    * deletes every key leaves no parquet footer to infer a schema from;
    * [[readStore]] then takes the columns from this marker.
    */
  private val SchemaMarker = "_graft_schema"

  /** `df` plus the store's bucket column: `keyCol` hashed into the
    * store's marker-pinned bucket count (created on first use).
    */
  private def withBucket(spark: SparkSession, df: DataFrame, keyCol: String,
      dir: String, buckets: Int): DataFrame =
    df.withColumn(BucketCol, pmod(hash(col(keyCol)),
      lit(resolveBuckets(dir, requestedBuckets(spark, buckets)))))

  /** Read a keyed store back without its internal bucket column. A store
    * with no bucket left (every key deleted) reads as an empty relation
    * with the columns its [[SchemaMarker]] names.
    */
  def readStore(spark: SparkSession, dir: String): DataFrame = {
    val marker = new java.io.File(dir, SchemaMarker)
    val emptied = marker.exists() &&
      !new java.io.File(dir).list().exists(_.startsWith(s"$BucketCol="))
    val reader = if (!emptied) spark.read else spark.read.schema(new String(
      java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8"))
    reader.parquet(dir).drop(BucketCol)
  }

  /** K5: upsert-by-key into a keyed store: merge incoming rows with the
    * existing rows OF THE TOUCHED BUCKETS ONLY, keep the newest version
    * per key (version = seq column). Used from foreachBatch in streaming;
    * idempotent under replays (same input → same winner), which is what
    * makes micro-batch retries exactly-once in effect.
    */
  def upsert(spark: SparkSession, incoming: DataFrame, keyCol: String,
      seqCol: String, dir: String, buckets: Int = DefaultBuckets): Unit = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol).desc)
    mergeTouchedKeyed(spark, incoming, keyCol, dir, buckets)(changed =>
      changed.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn"))
  }

  /** Cap on the distinct batch keys the changed-key split will carry to
    * the driver; past it the merge falls back to the unsplit path
    * automatically (r16 left the fallback as a docstring instruction —
    * nothing enforced it, so a bulk backfill batch with millions of
    * distinct keys could stress driver memory before anyone re-read the
    * doc). The default 1M keys is ~tens of MB collected — well inside any
    * driver — while every real micro-batch stays far below it; size it
    * per deployment like `storeBuckets`.
    */
  private def keyedSplitMaxKeys(spark: SparkSession): Int =
    Knobs.positiveInt(spark, Knobs.KeyedSplitMaxKeys).getOrElse(1000000)

  /** Diagnostic: how many keyed merges fell back to the unsplit path this
    * JVM (bulk-backfill gate above). A test hook: SinksSpec reads it.
    */
  private[graft] val keyedSplitFallbacks = new java.util.concurrent.atomic.AtomicLong

  /** Split a touched-bucket read around the batch's key set (null-safe, so
    * null-key rows keep their pre-split window semantics): stored rows of
    * keys the batch CHANGES go to the merge, every other stored row rides
    * through untouched. This is the r16 compute bound: per-batch shuffle +
    * window work is ∝ the changed keys' history, not the touched buckets'
    * whole content — the difference between "reprocess every key that
    * shares a bucket with a change" and "reprocess what changed" once
    * buckets hold many keys (always true at 100 TB sizing).
    *
    * `keyRows` are the (bucket, key) rows of [[mergeKeyed]]'s one
    * discovery collect, so the split collects nothing itself. That
    * collect is capped at [[keyedSplitMaxKeys]]; a bulk backfill past the
    * cap never reaches here (the caller merges unsplit), and with that
    * many changed keys the split buys little anyway: most stored rows are
    * in the merge either way.
    *
    * The key set is materialized on the DRIVER and re-planted as a
    * LocalRelation rather than broadcast-joined straight off the batch
    * lineage: building a BroadcastExchange from the persisted batch plan
    * MISSES the cache inside foreachBatch and re-executes the whole
    * micro-batch stateful plan per broadcast — the exact r15
    * double-execution class, caught the day it was written by the
    * LineageExecGuard streaming gate. A broadcast collects to the driver
    * anyway, so this moves no more data than the hinted join would; it
    * just routes through an action on the persisted DataFrame itself,
    * the one path the cache provably serves, and makes execute-once
    * STRUCTURAL (a LocalRelation has no lineage to re-run).
    *
    * One scan, not two: a marker column off a single left-outer broadcast
    * join replaces the r16 semi/anti pair, and the joined frame is
    * persisted so the changed and passthrough branches — consumed in two
    * subtrees of the rewrite's one union plan, which Spark does not
    * common-subexpression — read the touched buckets' parquet ONCE
    * (ADVICE r16; per-batch store IO halves). The third tuple element
    * releases that cache; callers run it after [[overwriteTouched]].
    */
  private def splitByBatchKeys(spark: SparkSession, ex: DataFrame,
      keyRows: Seq[Row], field: StructField)
      : (DataFrame, DataFrame, () => Unit) = {
    import scala.jdk.CollectionConverters._
    val keys = spark.createDataFrame(keyRows.map(r => Row(r.get(1))).asJava,
      StructType(Seq(field.copy(name = "__mk")))).withColumn("__ch", lit(true))
    val marked = ex.join(broadcast(keys), col(field.name) <=> col("__mk"), "left")
      .persist()
    (marked.filter(col("__ch").isNotNull).drop("__mk", "__ch"),
      marked.filter(col("__ch").isNull).drop("__mk", "__ch"),
      () => { marked.unpersist(); () })
  }

  /** Opt-in production twin of the test-scope LineageExecGuard (r16
    * VERDICT #6): `spark.graft.lineageGuard=true` embeds a row
    * accumulator in the incoming lineage BELOW the persist boundary of
    * every store merge and asserts execute-once when the merge completes,
    * so harness runs (the 16x soak, the scale sweeps) catch a
    * reintroduced double-execution in situ, not only the spec fixtures.
    * Off by default: the nondeterministic filter fences optimizer
    * movement around itself, which is exactly what makes the count exact
    * but costs pushdown through the batch plan. The check snapshots the
    * accumulator BEFORE the verification count so a cache-evicted
    * partition recomputed BY the count cannot false-positive; an eviction
    * recompute DURING the merge does trip it — acceptable for a debug
    * conf, and says something real about memory sizing when it fires.
    */
  private def guarded(spark: SparkSession, incoming: DataFrame)
      : (DataFrame, Option[org.apache.spark.util.LongAccumulator]) =
    if (!Knobs.flag(spark, Knobs.LineageGuard)) (incoming, None)
    else {
      val acc = spark.sparkContext.longAccumulator("graft-lineage-guard")
      val tick = udf(() => { acc.add(1L); true }).asNondeterministic()
      (incoming.filter(tick()), Some(acc))
    }

  /** Guard epilogue: executed-row count vs the persisted batch's true
    * row count (a cache read, costing one cheap job only when the guard
    * conf is on).
    */
  private def assertExecutedOnce(site: String, inc: DataFrame,
      acc: Option[org.apache.spark.util.LongAccumulator]): Unit =
    acc.foreach { a =>
      val executed = a.value
      val rows = inc.count()
      require(executed == rows, s"[graft] lineageGuard: $site executed the " +
        s"incoming micro-batch plan ${executed}/${rows} row-increments — " +
        "the r15 double-execution class is back (or the batch cache was " +
        "evicted mid-merge)")
    }

  /** The one keyed-merge body every bucketed store runs through. It
    * buckets the incoming rows by `keyCol` and persists them: the batch
    * lineage feeds two actions below (the discovery collect and the
    * staged write), and inside a streaming foreachBatch that lineage is
    * the micro-batch's whole stateful plan (measured 2–4 s per
    * re-execution in the r15 soak DWS stages), so it must execute once.
    * One collect of the batch's distinct (bucket, key) pairs, capped at
    * [[keyedSplitMaxKeys]] + 1, yields both the touched buckets and the
    * key set. The merge then reads ONLY the touched buckets' stored rows,
    * splits them around the batch's keys ([[splitByBatchKeys]]), hands
    * `merge` the rows `combine(stored rows of the changed keys, batch)`
    * returns — or the batch alone on a fresh bucket set — and rewrites
    * just the touched buckets with the merged rows plus the untouched
    * keys' stored rows ([[overwriteTouched]]). Past the cap the key set
    * is incomplete, so the touched buckets come from their own collect
    * and, when the store holds any of them, every stored row of those
    * buckets re-merges (the bulk-backfill gate). Everything from bucket
    * discovery on sits inside the try, so the persisted blocks are
    * released on every failure path too (a leak here accumulates across
    * a long-running streaming driver's batches).
    */
  private def mergeKeyed(site: String, spark: SparkSession,
      incoming: DataFrame, keyCol: String, dir: String, buckets: Int,
      combine: (DataFrame, DataFrame) => DataFrame)(
      merge: DataFrame => DataFrame): Unit = {
    val (src, guardAcc) = guarded(spark, incoming)
    val inc = withBucket(spark, src, keyCol, dir, buckets).persist()
    var release: () => Unit = () => ()
    try {
      val maxKeys = keyedSplitMaxKeys(spark)
      val keyRows = inc.select(col(BucketCol), col(keyCol)).distinct()
        .limit(maxKeys + 1).collect().toSeq
      val bulk = keyRows.length > maxKeys
      val touched = if (bulk) touchedBuckets(inc)
        else keyRows.map(_.getInt(0)).distinct.sorted
      val (changed, passthrough) = readTouched(spark, touched, dir) match {
        case None => (inc, None)
        case Some(ex) if bulk => // every stored row re-merges
          keyedSplitFallbacks.incrementAndGet()
          System.err.println(s"[graft] keyed split: batch exceeds $maxKeys " +
            s"distinct '$keyCol' keys (${Knobs.KeyedSplitMaxKeys}); " +
            "merging unsplit")
          (combine(ex, inc), None)
        case Some(ex) =>
          val (chEx, pass, rel) =
            splitByBatchKeys(spark, ex, keyRows, inc.schema(keyCol))
          release = rel
          (combine(chEx, inc), Some(pass))
      }
      val merged = merge(changed)
      overwriteTouched(passthrough.fold(merged)(merged.unionByName(_)),
        touched, dir)
      assertExecutedOnce(site, inc, guardAcc)
    } finally { release(); inc.unpersist(); () }
  }

  /** The keyed store merge for PER-KEY state: `merge` receives only the
    * rows of keys present in the batch (stored ∪ incoming); stored rows
    * of every other key in the touched buckets bypass it unchanged.
    * Correct whenever merge is a per-key function — its output for key k
    * depends only on k's rows — and the store already holds each key's
    * merged state. Public so streaming tiers whose per-key state is a
    * LIST rather than one newest row (the kNN-graph top-K lists, the
    * SimHash pair and containment tiers) run their own merge — e.g.
    * rank-and-keep-K per key — under the same discipline: O(touched
    * buckets) IO per batch, replay-idempotent whenever `merge` is a
    * function of the unioned SET. `merge` must preserve every column
    * (the internal bucket column rides along). The incoming lineage
    * executes exactly once (LineageExecGuard covers this path).
    */
  def mergeTouchedKeyed(spark: SparkSession, incoming: DataFrame,
      keyCol: String, dir: String, buckets: Int = DefaultBuckets)(
      merge: DataFrame => DataFrame): Unit =
    mergeKeyed("mergeTouchedKeyed", spark, incoming, keyCol, dir, buckets,
      (stored, inc) => stored.unionByName(inc))(merge)

  /** Probe-read a keyed store at O(touched buckets) IO: read back ONLY
    * the buckets `keys`' values hash into, bucket column dropped. The
    * read half of [[mergeTouchedKeyed]] for ingest tiers whose per-batch
    * emission joins batch rows against stored state (the SimHash pair
    * tier's roster and doc-expansion probes) — the store never re-reads
    * whole. None when none of the touched buckets exist yet.
    */
  def readTouchedFor(spark: SparkSession, keys: DataFrame, keyCol: String,
      dir: String, buckets: Int = DefaultBuckets): Option[DataFrame] =
    readTouched(spark,
      touchedBuckets(withBucket(spark, keys, keyCol, dir, buckets)), dir)
      .map(_.drop(BucketCol))

  /** K8 streaming tier: SCD Type-2 history maintenance — the VERSIONED
    * sibling of [[upsert]] (which keeps only the latest row per key).
    * Each micro-batch of changelog rows merges into a bucketed history
    * store where every change is a [valid_from, valid_to) interval row;
    * an interval that was current CLOSES when a later change for its key
    * arrives (including across micro-batch boundaries).
    *
    * Idempotence comes from SET semantics, not ordering: the store
    * carries the SOURCE rows (key, seq, ts, attrs), the merge unions the
    * touched buckets' existing rows with the batch and collapses
    * duplicates on (key, seq) — a replayed batch adds nothing — and the
    * presentation columns (version, valid_from/valid_to, is_current) are
    * RECOMPUTED per merge by the same partitioned window as the batch
    * `k8_scd2_history` query. History is therefore always exactly the
    * batch query over the union of all changelog rows seen so far, which
    * is what StreamingSpec pins. Scale shape matches the other tiers:
    * only touched buckets are read/rewritten, only the keys a batch
    * changes re-run the dedup + window (every other key's history rows,
    * presentation columns included, ride through exactly as stored),
    * per-key work is bounded by that key's change count, and the window
    * shuffle is on the key. `seqCol` must order a key's changes
    * (globally unique per key); `tsCol` supplies the interval bounds.
    */
  def scd2Upsert(spark: SparkSession, incoming: DataFrame, keyCol: String,
      seqCol: String, tsCol: String, dir: String, buckets: Int = DefaultBuckets): Unit = {
    val srcCols = (incoming.columns.toSeq :+ BucketCol).map(col)
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol).asc)
    mergeKeyed("scd2Upsert", spark, incoming, keyCol, dir, buckets,
      (stored, inc) => stored.select(srcCols: _*).unionByName(inc))(
      _.dropDuplicates(keyCol, seqCol)
        .withColumn("version", row_number().over(w).cast("long"))
        .withColumn("__valid_to_ts", lead(col(tsCol), 1).over(w))
        .withColumn("valid_from",
          date_format(col(tsCol), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("valid_to",
          date_format(col("__valid_to_ts"), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("is_current", col("__valid_to_ts").isNull)
        .drop("__valid_to_ts"))
  }

  /** K6: dim MERGE — apply a put/delete changelog to a keyed dim table:
    * per key the newest change (by `seqCol`, stored rows included) wins;
    * an op of 'd' deletes the key, and so does a NULL op (the keep filter
    * `op <> 'd'` is null there, as in `k6_dim_merge_state` and its
    * oracle); any other op upserts. Stored rows carry no op and join the
    * merge as 'r', so a stale change never evicts a newer stored row.
    * Bucketed like `upsert`: only the buckets the changelog touches are
    * read or rewritten.
    */
  def mergeDim(spark: SparkSession, changes: DataFrame, keyCol: String,
      seqCol: String, opCol: String, dir: String, buckets: Int = DefaultBuckets): Unit = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol).desc)
    mergeKeyed("mergeDim", spark, changes, keyCol, dir, buckets,
      (stored, inc) => stored.withColumn(opCol, lit("r"))
        .unionByName(inc, allowMissingColumns = true))(
      _.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col(opCol) =!= "d")
        .drop("__rn", opCol))
  }

  /** Distinct bucket ids of a batch — bounded by the constant bucket
    * count (layout metadata, like AQE's partition stats), NOT by data
    * size, so the driver-side collect is safe.
    */
  private def touchedBuckets(inc: DataFrame): Seq[Int] =
    inc.select(BucketCol).distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Read only the touched buckets' directories (partition pruning by
    * construction). Existence check, NOT try/catch: a transient read
    * error on a real table must propagate, or the merge would silently
    * drop existing rows.
    */
  private def readTouched(spark: SparkSession, touched: Seq[Int],
      dir: String): Option[DataFrame] = {
    val dirs = touched.map(b => new java.io.File(dir, s"$BucketCol=$b"))
      .filter(_.exists()).map(_.getPath)
    if (dirs.isEmpty) None
    else Some(spark.read.option("basePath", dir).parquet(dirs: _*))
  }

  /** Name of the staging directory [[overwriteTouched]] writes inside a
    * store. It starts with `_` and holds no `=`, so Spark's file index and
    * [[resolveBuckets]] both skip it: a leftover from a crash is never
    * read as store rows.
    */
  private[graft] val StagingDir = "_graft_staging"

  /** Rewrite only the touched buckets: write the merged rows once,
    * partitioned by bucket, into [[StagingDir]], then on the driver swap
    * each touched bucket — delete `__bucket=b`, move the staged
    * `__bucket=b` into its place if one was staged — and delete the
    * staging directory. A touched bucket with nothing staged (every key
    * deleted by a K6 merge) is thereby dropped; the [[SchemaMarker]],
    * written between the write and the swap, keeps such a store
    * readable. A staging directory left over from a crash is deleted
    * before the write.
    *
    * The rewrite never reads the files it replaces: the write job reads
    * the old bucket files and commits before any swap starts, so a task
    * retry or a lost cache block inside it recomputes from old files
    * only. A crash before the swap leaves the store as it was, and the
    * replayed batch re-merges idempotently. The swap is the same
    * delete-then-rename per partition that Spark's dynamic partition
    * overwrite does at job commit, with the same exposure: a crash
    * between one bucket's delete and its rename loses that bucket.
    */
  private def overwriteTouched(merged: DataFrame, touched: Seq[Int],
      dir: String): Unit = {
    val staging = new java.io.File(dir, StagingDir)
    deleteRec(staging)
    merged.write.partitionBy(BucketCol).parquet(staging.getPath)
    writeMarker(new java.io.File(dir), SchemaMarker,
      merged.drop(BucketCol).schema.toDDL)
    touched.foreach { b =>
      val target = new java.io.File(dir, s"$BucketCol=$b")
      val staged = new java.io.File(staging, s"$BucketCol=$b")
      deleteRec(target)
      if (staged.exists()) java.nio.file.Files.move(staged.toPath,
        target.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    deleteRec(staging)
  }

  /** K7: DDL side effects driven by config-change events — create/drop of
    * dim tables (directory-backed here; a catalog in production).
    * op: c/r → create, d → drop, u → drop + create.
    */
  def applyDimDdl(spark: SparkSession, baseDir: String, table: String,
      op: String): Unit = {
    val path = new java.io.File(baseDir, table)
    def drop(): Unit =
      if (path.exists()) { path.listFiles().foreach(deleteRec); path.delete() }
    def create(): Unit = path.mkdirs()
    op match {
      case "c" | "r" => create()
      case "d" => drop()
      case "u" => drop(); create()
      case other => throw new IllegalArgumentException(s"unknown op: $other")
    }
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete()
  }
}
