package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities. AQE's skew-join split is the first line of
  * defense (enabled in `core.Sessions.local`); explicit salting is the
  * fallback for the shapes AQE can't fix — e.g. a shuffle join where one
  * hot key dominates a partition, or a groupBy on a power-law key.
  */
object Skew {

  /** Salted equi-join of a skewed `big` side against `small`:
    * the big side gets a deterministic salt in [0, buckets) derived from
    * its whole row (no RNG — replays stay idempotent), the small side is
    * replicated `buckets` times, and the join key becomes (key, salt).
    * One hot key now spreads over `buckets` shuffle partitions.
    * Result is row-identical to the unsalted join (SkewSpec).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      buckets: Int): DataFrame = {
    val salted = big.withColumn("__salt",
      pmod(hash(struct(big.columns.map(col): _*)), lit(buckets)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated,
        salted("__salt") === replicated("__salt") &&
        big(key) === small(key))
      .drop("__salt")
  }

  /** Hottest-key share of `df`'s key column, measured on a SAMPLE — one
    * column-pruned narrow scan plus a partial-aggregated shuffle of
    * sampled distinct keys. Never collects the histogram to the driver
    * (only the two-number max/total reduction comes back). Deterministic
    * seed so replays of a micro-batch make the same decision.
    * Returns 0.0 for an empty sample.
    */
  def hotKeyShare(df: DataFrame, key: String,
      sampleFraction: Double = 0.05): Double = {
    val r = df.select(col(key).as("__k"))
      .sample(withReplacement = false, sampleFraction, seed = 42L)
      .groupBy(col("__k")).count()
      .agg(coalesce(max(col("count")), lit(0L)).as("mx"),
        coalesce(sum(col("count")), lit(0L)).as("tot"))
      .head()
    if (r.getLong(1) == 0L) 0.0 else r.getLong(0).toDouble / r.getLong(1)
  }

  /** Salting, auto-applied: inspect the big side's sampled key histogram
    * and salt only when one key owns more than `hotShare` of the rows —
    * the per-micro-batch guard a streaming foreachBatch join wants
    * (hotness changes batch to batch; unconditional salting taxes the
    * uniform case with `buckets`x replication of the small side).
    * Result is row-identical on both paths (SkewSpec).
    *
    * The detection sample is a SEPARATE action: on an unmaterialized
    * `big` it re-evaluates the upstream lineage once before the join
    * does. Callers probing a derived relation (a foreachBatch transform
    * chain, a multi-join intermediate) should persist/barrier `big`
    * first; on a materialized source (table scan, persisted batch) the
    * probe is one cheap column-pruned pass.
    */
  def autoSaltedJoin(big: DataFrame, small: DataFrame, key: String,
      buckets: Int = 16, hotShare: Double = 0.2,
      sampleFraction: Double = 0.05): DataFrame =
    if (hotKeyShare(big, key, sampleFraction) >= hotShare)
      saltedJoin(big, small, key, buckets)
    else
      big.join(small, big(key) === small(key))

  /** Zero-extra-job skew adaptation for per-micro-batch joins — the
    * `Observation`-based successor to [[autoSaltedJoin]]'s sampled probe.
    *
    * [[autoSaltedJoin]] pays one extra blocking Spark job per call to
    * measure the hot-key share BEFORE choosing the plan; called from a
    * streaming `foreachBatch` that is one extra job per trigger, forever.
    * This probe instead rides the batch's EXISTING materialization: an
    * `observe` node on the big side collects `mode(key)` (the most
    * frequent key), a count-min sketch of the key column, and the row
    * count in the same pass that executes the join, and the share =
    * cms(mode)/count decides the NEXT batch's plan. Skew is a property of
    * the stream, not of one micro-batch, so a one-batch-late decision is
    * the right trade for deleting a per-trigger job — and the very first
    * batch (share unknown, 0.0) takes the unsalted plan, exactly what the
    * cold-start sample would have concluded anyway on uniform data.
    *
    * At scale nothing here is driver-resident beyond the sketch (KBs,
    * eps/confidence-bounded): mode and the CMS merge per-partition and
    * only the merged result returns. CMS overestimates rare keys, never
    * underestimates the hot one, so the error direction errs toward
    * salting — the safe side.
    *
    * Per-micro-batch lifecycle (serial, matching foreachBatch):
    * {{{
    *   val joined = probe.join(batch, dim)   // plan chosen from LAST batch
    *   joined.write...                       // the batch's own action
    *   probe.refresh()                       // read this batch's metrics
    * }}}
    */
  final class SkewProbe(key: String, buckets: Int = 16,
      hotShare: Double = 0.2) {
    @volatile private var lastShare = 0.0
    private var pending: Option[Observation] = None

    /** Hot-key share observed on the most recently refreshed batch. */
    def share: Double = lastShare

    /** Join `big ⋈ small` on `key`, salted iff the LAST refreshed batch
      * ran hot; instruments `big` so [[refresh]] can read this batch's
      * stats after the caller's terminal action.
      *
      * Key-type note: `count_min_sketch` supports integral / string /
      * binary keys. For other key types (decimal, date, …) the probe
      * degrades gracefully to the plain join with no instrumentation —
      * it never fails the batch — but a caller wanting adaptation there
      * should keep [[autoSaltedJoin]]'s sampled probe instead.
      */
    def join(big: DataFrame, small: DataFrame): DataFrame = {
      val instrumented =
        try {
          val obs = Observation()
          val o = big.observe(obs,
            mode(col(key)).as("mode_k"),
            count_min_sketch(col(key), lit(0.001d), lit(0.99d), lit(42))
              .as("cms"),
            count(lit(1)).as("n"))
          pending = Some(obs)
          o
        } catch { // unsupported key type for the sketch: probe stays inert
          case _: org.apache.spark.sql.AnalysisException => big
        }
      if (lastShare >= hotShare)
        saltedJoin(instrumented, small, key, buckets)
      else
        instrumented.join(small, instrumented(key) === small(key))
    }

    /** Fold the observed metrics of the last [[join]]'s materialization
      * into the next decision. Call AFTER the batch's DATASET action (a
      * raw `toRdd` action bypasses the QueryExecutionListener that feeds
      * observations — `foreachBatch` writes fire it). Metrics ride the
      * async listener bus, so the blocking `get` runs under a `waitMs`
      * guard; on timeout — the caller never ran an action — the previous
      * decision simply stands for one more batch.
      */
    def refresh(waitMs: Long = 10000): Unit = pending.foreach { obs =>
      pending = None
      // a short-lived OWNED daemon thread, interrupted on timeout —
      // obs.get blocks in an interruptible wait(), so a no-action batch
      // costs one thread for waitMs and then nothing (a shared pool
      // would park a worker forever per timeout and eventually starve)
      val result = new java.util.concurrent.atomic.AtomicReference[
        Map[String, Any]](Map.empty)
      val t = new Thread(() => {
        try result.set(obs.get)
        catch { case _: InterruptedException => () }
      }, "skew-probe-refresh")
      t.setDaemon(true)
      t.start()
      t.join(waitMs)
      if (t.isAlive) t.interrupt()
      val m = result.get()
      if (m.nonEmpty) {
        val n = m("n").asInstanceOf[Long]
        lastShare =
          if (n == 0L || m("mode_k") == null) 0.0
          else {
            val cms = org.apache.spark.util.sketch.CountMinSketch
              .readFrom(m("cms").asInstanceOf[Array[Byte]])
            math.min(1.0, cms.estimateCount(m("mode_k")).toDouble / n)
          }
      }
    }
  }

  /** Two-stage aggregation for a skewed group key: partial aggregate on
    * (key, salt), then final on key. For algebraic aggregates Spark's
    * map-side partial aggregation already does this; use this form when
    * the per-key state is big (collect_set-like) and one key floods a
    * single reducer.
    */
  def saltedCountDistinct(df: DataFrame, key: Column, value: Column,
      buckets: Int): DataFrame =
    df.select(key.as("k"), value.as("v"))
      .withColumn("__salt", pmod(hash(col("v")), lit(buckets)))
      .groupBy(col("k"), col("__salt"))
      .agg(countDistinct(col("v")).as("partial"))
      .groupBy(col("k"))
      .agg(sum(col("partial")).as("distinct_ct"))
}
