package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** The on-disk format of every per-micro-batch contribution store in this
  * package — the idempotent-sink recipe for exactly-once `foreachBatch`
  * output (Structured Streaming, SIGMOD 2018):
  *
  *   - `<dir>/__batch=<id>` holds batch `id`'s contribution, written in
  *     Overwrite mode, so a replayed batch rewrites the same directory;
  *   - a batch reads only contributions with ids STRICTLY below its own.
  *     Streaming batch ids are monotonic, so a batch replayed after later
  *     batches committed still sees exactly the state it saw live;
  *   - a directory counts as data-bearing only when Spark's reader would
  *     see a non-empty file in it ([[hasData]]): a zero-row partitioned
  *     write leaves only `_SUCCESS`, a crashed write only `_temporary`;
  *   - a compacting store ([[compacting]]) folds its batch directories
  *     into `__gen=<n>` generations and marks each folded input with an
  *     `_OBSOLETE` tombstone, which the next batch reaps.
  *
  * Directories are listed through the Hadoop FileSystem, not
  * java.io.File: stores live on the cluster FS.
  */
object BatchStore {

  private val BatchPrefix = "__batch="
  private val GenPrefix = "__gen="
  private val Tombstone = "_OBSOLETE"

  /** Overwrite batch `batchId`'s contribution under `dir`. */
  def write(df: DataFrame, dir: String, batchId: Long,
      partitionBy: String*): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(s"$dir/$BatchPrefix$batchId")
  }

  /** Schema-pinned read of every contribution under `dir`; a
    * never-ingested store is an empty relation, not a PATH_NOT_FOUND
    * error — reading before the first ingest is a clean no-result. */
  def readAll(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    if (fs(spark, dir).exists(new Path(dir)))
      spark.read.schema(schema).parquet(s"$dir/$BatchPrefix*")
    else empty(spark, schema)

  /** Schema-pinned read of the data-bearing contributions strictly before
    * `batchId` — for summed or unioned state, where an empty contribution
    * and a missing one mean the same thing. */
  def readPrior(spark: SparkSession, dir: String, batchId: Long,
      schema: StructType): DataFrame = {
    val f = fs(spark, dir)
    val dirs = prior(f, new Path(dir), batchId).filter(hasData(f, _))
    if (dirs.isEmpty) empty(spark, schema)
    else spark.read.schema(schema).parquet(dirs.map(_.toString): _*)
  }

  /** The latest contribution strictly before `batchId`, for REPLACEMENT
    * state: the latest dir wins even when it holds no data (None), so an
    * empty latest contribution shadows older non-empty ones. */
  def latestPrior(spark: SparkSession, dir: String,
      batchId: Long): Option[DataFrame] = {
    val f = fs(spark, dir)
    prior(f, new Path(dir), batchId).lastOption.filter(hasData(f, _))
      .map(p => spark.read.parquet(p.toString))
  }

  /** A compacting store as batch `batchId` finds it. The stream runs one
    * batch at a time, so opening it may clean up after earlier batches:
    * it reaps the dirs an earlier compaction tombstoned (their content
    * lives in the generation written before the tombstone, and any
    * replay reads that generation — nothing can reference them any more)
    * and tombstones every generation without visible data (a compaction
    * that crashed mid-write, which nothing else would ever clean).
    * Partial BATCH dirs need no healing: a replay Overwrites the same
    * directory.
    *
    * `prior` reads the live generations plus the data-bearing batch dirs
    * strictly before `batchId` (None when none hold data), selecting
    * `columns`: generation and batch dirs carry different partition-path
    * shapes, so each family reads under its own discovery (same
    * basePath) and the select normalizes both. Each dir is listed
    * recursively ONCE, shared by the self-heal and the read: on an object
    * store the generation trees are the bulk of the store, and
    * re-listing them per use would double the per-batch listing cost the
    * compaction exists to bound.
    */
  def compacting(spark: SparkSession, dir: String, batchId: Long,
      columns: Seq[String]): Compacting = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    val (dead, live) = children(f, root)
      .partition(p => f.exists(new Path(p, Tombstone)))
    dead.foreach(f.delete(_, true))
    val gens = numbered(live, GenPrefix)
    val batches = numbered(live, BatchPrefix).filter(_._1 < batchId)
      .map(_._2)
    val (liveGens, deadGens) = gens.map(_._2).partition(hasData(f, _))
    deadGens.foreach(tombstone(f, _))
    def read(ps: Seq[Path]): Option[DataFrame] =
      if (ps.isEmpty) None
      else Some(spark.read.option("basePath", dir)
        .parquet(ps.map(_.toString): _*)
        .select(columns.map(org.apache.spark.sql.functions.col): _*))
    val seen = (read(liveGens), read(batches.filter(hasData(f, _)))) match {
      case (Some(g), Some(b)) => Some(g.unionByName(b))
      case (g, b) => g.orElse(b)
    }
    new Compacting(f, dir, gens.map(_._1).foldLeft(0L)(math.max) + 1,
      gens.map(_._2) ++ batches, batches.length, seen)
  }

  /** See [[compacting]]. */
  final class Compacting private[BatchStore] (f: FileSystem, dir: String,
      nextGen: Long, inputs: Seq[Path], priorBatches: Int,
      val prior: Option[DataFrame]) {

    /** More than `threshold` prior batch dirs are live. */
    def due(threshold: Int): Boolean = priorBatches > threshold

    /** Write `fold(prior)` as the next generation, THEN tombstone every
      * input. Deletion waits for the next batch ([[compacting]] reaps):
      * a relation the caller still holds may reach these files through
      * its lineage. A crash in between leaves both generations readable,
      * so `fold` must collapse duplicates. The current batch's own dir is
      * never an input: replay must keep excluding it. */
    def compact(fold: DataFrame => DataFrame, partitionBy: String*): Unit = {
      prior.foreach { p => // None = all inputs empty: tombstone only
        fold(p).write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*)
          .parquet(s"$dir/$GenPrefix$nextGen")
      }
      inputs.foreach(tombstone(f, _))
    }
  }

  /** (generation dirs, live dirs) under a compacting store's `dir`, for
    * reports: how far compaction bounds the store. */
  def census(spark: SparkSession, dir: String): (Int, Int) = {
    val f = fs(spark, dir)
    val all = children(f, new Path(dir))
    (all.count(_.getName.startsWith(GenPrefix)),
      all.count(p => !f.exists(new Path(p, Tombstone))))
  }

  /** True when Spark's reader would see a non-empty file under `d`. The
    * hidden-path rule is Spark's own, applied on EVERY path segment below
    * `d`, not just the leaf: '_'-prefixed is hidden unless it contains
    * '=' (so partition dirs like `__bucket=5` stay visible),
    * '.'-prefixed always. A crashed write leaves part files under
    * `_temporary/...`; counting them would read a data-less dir and fail
    * schema inference. */
  private def hasData(f: FileSystem, d: Path): Boolean = {
    val it = f.listFiles(d, true)
    val dPath = d.toUri.getPath
    var found = false
    while (!found && it.hasNext) {
      val file = it.next()
      var p = file.getPath
      var hidden = file.getLen <= 0
      while (!hidden && p != null && p.toUri.getPath != dPath) {
        val nm = p.getName
        hidden = (nm.startsWith("_") && !nm.contains("=")) ||
          nm.startsWith(".")
        p = p.getParent
      }
      found = !hidden
    }
    found
  }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def children(f: FileSystem, root: Path): Seq[Path] =
    if (f.exists(root))
      f.listStatus(root).filter(_.isDirectory).map(_.getPath).toIndexedSeq
    else Seq.empty

  /** `<prefix><id>` dirs in id order; a non-numeric id (partial copy,
    * editor temp) is skipped, not a NumberFormatException inside
    * `foreachBatch`. */
  private def numbered(ps: Seq[Path], prefix: String): Seq[(Long, Path)] =
    ps.flatMap(p => Some(p.getName).filter(_.startsWith(prefix))
      .flatMap(_.stripPrefix(prefix).toLongOption).map(_ -> p))
      .sortBy(_._1)

  private def prior(f: FileSystem, root: Path, batchId: Long): Seq[Path] =
    numbered(children(f, root), BatchPrefix).filter(_._1 < batchId).map(_._2)

  private def tombstone(f: FileSystem, p: Path): Unit =
    f.create(new Path(p, Tombstone), true).close()

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
}
