package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import graft.plans._

/** Typed Column constructors for the native one-walk expressions in
  * `graft.plans` — the one way a query binds them. Each wraps its
  * Catalyst expression around the argument columns directly, so building
  * a query neither parses SQL text nor reads the session's function
  * registry: a transform builds the same plan in batch and inside
  * `foreachBatch` on any session. The SQL names (`cosine_sim(a, b)`,
  * ...) stay registered by `GraftExtensions` for `spark.sql` users;
  * SqlApiSpec pins each SQL form equal to its constructor here. Each
  * expression's semantics are in its own Scaladoc.
  */
object Natives {

  /** `cosine_sim`: cosine of two `array<float>` columns, 0 on a zero norm. */
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** `sorted_intersect_count`: common elements of two sorted string arrays. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))

  /** `text_stats`: the five text-quality features as one struct. */
  def textStats(text: Column): Column = column(TextStats(expression(text)))

  /** `classifier_stats`: the hashed classifier's (n_feats, wsum) struct. */
  def classifierStats(text: Column): Column =
    column(ClassifierStats(expression(text)))

  /** `minhash_sigs`: the MinHash slice-minima struct. */
  def minhashSigs(text: Column): Column = column(MinhashSigs(expression(text)))

  /** `simhash16`: 16-bit SimHash as a bit string. */
  def simhash16(text: Column): Column = column(Simhash16(expression(text)))

  /** `simhash60`: 60-bit SimHash as a BIGINT. */
  def simhash60(text: Column): Column = column(Simhash60(expression(text)))

  /** `cdc_chunks`: content-defined chunk fingerprints. */
  def cdcChunks(text: Column): Column = column(CdcChunks(expression(text)))

  /** `agms_signs`: the 16-coordinate AGMS sign vector. */
  def agmsSigns(key: Column): Column = column(AgmsSigns(expression(key)))

  /** `rolling_fps`: Rabin–Karp fingerprints of every `window`-char window. */
  def rollingFps(text: Column, window: Int): Column =
    column(RollingFps(expression(text), window))
}
