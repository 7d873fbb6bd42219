package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.udf
import org.apache.spark.util.LongAccumulator

/** Test device for the r15 double-execution bug class: the bucketed store
  * merges (`Sinks.mergeTouchedKeyed` / `scd2Upsert` / `mergeDim`) take TWO
  * actions over the incoming micro-batch plan — the (bucket, key)
  * discovery collect and the staged write of the merged rows — and
  * without the self-contained persist each action re-executes the whole
  * incoming lineage. Inside a streaming foreachBatch that lineage is the
  * micro-batch's entire stateful plan (complete-mode state read + agg):
  * the re-execution cost 2–4 s per batch and hid for FOUR rounds because
  * every operator-level gate only checks RESULTS, which re-execution
  * doesn't change.
  *
  * The guard embeds an execution counter IN the lineage rather than
  * counting jobs from a SparkListener, because the recompute hides inside
  * existing jobs: dropping the persist adds zero jobs (the checkpoint job
  * simply re-runs the upstream stages), so a job-count pin would stay
  * green through the exact bug it exists to catch, while legitimate
  * internal changes (an extra probe collect) would trip it. A
  * row-accumulator below the store's persist boundary counts exactly one
  * increment per incoming row per plan EXECUTION — `acc.value == rows`
  * after a merge IS the executed-exactly-once invariant, and a
  * reintroduced double-execution reads 2× rows and fails `sbt test`.
  */
object LineageExecGuard {

  /** Wrap `df` so each EXECUTION of its plan increments the accumulator
    * once per row. The always-true filter is nondeterministic for two
    * load-bearing reasons: ConvertToLocalRelation must not fold it away
    * at optimization time, and Catalyst must neither push it past the
    * cache boundary nor invoke it speculatively.
    */
  def counted(df: DataFrame): (DataFrame, LongAccumulator) = {
    val acc = df.sparkSession.sparkContext
      .longAccumulator("lineage-exec-rows")
    val tick = udf(() => { acc.add(1L); true }).asNondeterministic()
    (df.filter(tick()), acc)
  }
}
