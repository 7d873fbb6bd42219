package graft.core

import org.apache.spark.sql.SparkSession

/** Every `spark.graft.*` conf key the engine reads, and the one validated
  * reader per value type. A key is set like any Spark conf: on the
  * session (`spark.conf.set`), through `spark-submit --conf`, or as a JVM
  * system property (`JAVA_TOOL_OPTIONS=-Dspark.graft.storeBuckets=64`),
  * which `SparkConf` loads for every `spark.*` name. Defaults stay at the
  * read site, where they are documented. A malformed value fails naming
  * its key, not as a bare `NumberFormatException` deep inside a query or
  * a store merge.
  */
object Knobs {

  // positive ints
  /** New keyed stores' bucket count (`streaming.Sinks`; default 16). */
  val StoreBuckets = "spark.graft.storeBuckets"
  /** Distinct-key cap of a keyed merge's changed-key split (`Sinks`). */
  val KeyedSplitMaxKeys = "spark.graft.keyedSplitMaxKeys"
  /** Hyperplane-LSH signature width; unset derives it from the corpus. */
  val LshBits = "spark.graft.lshBits"
  /** Semantic-dedup coarse-cluster count (default 16, the oracle pin). */
  val SemanticCentroids = "spark.graft.semanticCentroids"
  /** IVF ANN inverted-list count (default 16, the oracle pin). */
  val IvfCentroids = "spark.graft.ivfCentroids"
  /** Prefix-sum bucket count (output-invariant; default from cores). */
  val PrefixSumBuckets = "spark.graft.prefixSumBuckets"
  /** Round cap of the in-batch greedy keep-first (`Dedup`; default 64). */
  val GreedyMaxRounds = "spark.graft.greedyMaxRounds"
  /** Sampled band audit keeps 1/mod of the phash classes (default 2). */
  val BandAuditMod = "spark.graft.bandAuditMod"

  // positive longs
  /** Multimodal fixture content-class count (default 100). */
  val MmClasses = "spark.graft.mmClasses"

  // flags
  /** Execute-once assertion inside every keyed store merge (`Sinks`). */
  val LineageGuard = "spark.graft.lineageGuard"

  // modes
  /** Reuse-barrier mode, `localCheckpoint` or `persist` (`core.Barrier`). */
  val ReuseBarrier = "spark.graft.reuseBarrier"

  /** The keys read by [[positiveInt]] and by [[positiveLong]]. */
  val ints: Seq[String] = Seq(StoreBuckets, KeyedSplitMaxKeys, LshBits,
    SemanticCentroids, IvfCentroids, PrefixSumBuckets, GreedyMaxRounds,
    BandAuditMod)
  val longs: Seq[String] = Seq(MmClasses)

  private def read[T](s: SparkSession, key: String, kind: String)(
      parse: String => Option[T]): Option[T] =
    s.conf.getOption(key).map(raw => parse(raw.trim).getOrElse(
      throw new IllegalArgumentException(
        s"$key must be a $kind, got '$raw'")))

  def positiveInt(s: SparkSession, key: String): Option[Int] =
    read(s, key, "positive int")(_.toIntOption.filter(_ > 0))

  def positiveLong(s: SparkSession, key: String): Option[Long] =
    read(s, key, "positive long")(_.toLongOption.filter(_ > 0))

  /** Unset reads as false. */
  def flag(s: SparkSession, key: String): Boolean =
    read(s, key, "boolean (true or false)")(_.toLowerCase.toBooleanOption)
      .getOrElse(false)
}
