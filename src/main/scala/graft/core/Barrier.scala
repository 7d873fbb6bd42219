package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** THE reuse barrier — the one place that decides how a relation that is
  * read several times downstream (dedup signature tables, LSH bucket
  * relations, merge outputs) gets materialized.
  *
  * Two modes, selected by the `spark.graft.reuseBarrier` conf:
  *
  *  - `localCheckpoint` (the default on local masters): truncates lineage
  *    into the block manager. Fastest single-JVM barrier, but an executor
  *    loss on a real cluster kills the job (no lineage to recompute), and
  *    blocks live until released.
  *  - `persist`: `persist(DISK_ONLY)` + eager materialization. Keeps
  *    lineage (executor loss recomputes only lost blocks), never competes
  *    with execution memory, and releases deterministically via
  *    [[releaseAll]]. The cluster-mode choice — and the DEFAULT on
  *    non-local masters (see [[defaultMode]]).
  *
  * Lifecycle: barrier blocks are NOT free — SCALING.md measured a later
  * query inflating 2× at 16× data purely from accumulated barrier storage.
  * Long-lived sessions that run many queries back-to-back (perfbench,
  * Scaling, Inspect, a notebook) must call [[releaseAll]] between
  * queries; per-query driver runs (Verify) get release for free when the
  * session stops.
  *
  * OWNERSHIP — tracking is per-thread, release is caller-scoped. Every
  * `apply` records the blocks it created in the CALLING THREAD's scope, and
  * [[releaseAll]] drops only the calling thread's accumulated blocks. Two
  * concurrently running barrier users (e.g. two streaming queries, each
  * calling `barrier()` + `releaseAll` from its own stream-execution thread
  * inside `foreachBatch`) therefore never release each other's blocks — a
  * JVM-global registry would let query A's release unpersist query B's
  * in-flight localCheckpoint, which has no lineage to recompute from.
  * Caller-owned caches (a benchmark signature table `cache()`d for a whole
  * streaming job, a notebook's persisted working set) are never touched:
  * the localCheckpoint path attributes blocks EXACTLY — the returned plan
  * is a LogicalRDD over the checkpointed RDD, whose id is read straight
  * out of it — so nothing another thread registers can ever be claimed,
  * and concurrent barrier materializations run fully in parallel.
  *
  * The one contract left with the caller: create and release on the same
  * thread (true of every in-repo user — operators build their barriers on
  * the thread that runs the query, foreachBatch bodies run on their query's
  * stream-execution thread). A scope ABANDONED BY A DYING THREAD — e.g. a
  * foreachBatch body that threw after creating barriers but before its
  * trailing releaseAll, killing the stream-execution thread — is reclaimed
  * by ANY later [[releaseAll]] on any thread: the sweep only touches scopes
  * whose owner thread is no longer alive, so it can never race the owner
  * or release a live query's in-flight blocks.
  */
object Barrier {

  /** The mode conf, [[Knobs.ReuseBarrier]]. */
  val ConfKey: String = Knobs.ReuseBarrier

  /** Default barrier mode when [[ConfKey]] is unset (OPTIMIZATION r18,
    * VERDICT r17 #3): `localCheckpoint` truncates lineage into the block
    * manager, so on a REAL cluster an executor/block loss mid-query is
    * unrecoverable — the right default there is the `persist(DISK_ONLY)`
    * mode, which keeps lineage and recomputes only lost blocks. Local
    * masters (`local`, `local[n]`) keep the faster single-JVM
    * localCheckpoint (an executor loss IS the JVM dying; there is nothing
    * to recover to). `local-cluster[...]` runs separate executor JVMs, so
    * it gets `persist` like any cluster. An explicit conf always wins —
    * this only picks the unset-conf default.
    */
  private[graft] def defaultMode(master: String): String =
    if (master == "local" || master.startsWith("local[")) "localCheckpoint"
    else "persist"

  private final class Scope {
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val ckptRddIds = scala.collection.mutable.Set.empty[Int]
  }

  // global registry keyed by owner thread (NOT a ThreadLocal: dead owners'
  // scopes must stay discoverable so another thread can reclaim them).
  // Scope contents are guarded by the scope's own monitor — the owner
  // mutates while alive; a sweeper touches it only after observing
  // !isAlive, and the lock makes that handoff safe.
  private val scopes =
    new java.util.concurrent.ConcurrentHashMap[Thread, Scope]()
  private def myScope(): Scope =
    scopes.computeIfAbsent(Thread.currentThread(), _ => new Scope)

  def apply(df: DataFrame): DataFrame = {
    // opportunistic GC: without it, a session whose many short-lived
    // threads create barriers but never call releaseAll would accumulate
    // dead Thread keys (and their block references) until some later
    // releaseAll — sweeping here bounds that growth at the next barrier
    // creation from ANY thread
    sweepDead(df.sparkSession)
    val scope = myScope()
    if (holds(scope, df)) df
    else df.sparkSession.conf.getOption(ConfKey)
      .getOrElse(defaultMode(df.sparkSession.sparkContext.master)) match {
      case "persist" =>
        val p = df.persist(StorageLevel.DISK_ONLY)
        // materialize now: downstream readers hit the store instead of
        // racing to populate it, mirroring localCheckpoint's eagerness
        p.queryExecution.toRdd.count()
        scope.synchronized { scope.persisted += p }
        p
      case _ =>
        val out = df.localCheckpoint()
        // exact attribution, no registry diff: the returned plan IS a
        // LogicalRDD over the checkpointed RDD, so concurrent queries'
        // barrier jobs run fully in parallel and a concurrent caller's
        // cache() can never be captured by mistake
        val ids = out.queryExecution.logical.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
        }
        scope.synchronized { scope.ckptRddIds ++= ids }
        out
    }
  }

  /** `df` is a barrier this scope already holds — a localCheckpoint's
    * `LogicalRDD` or a persisted frame — so a second barrier over it
    * would only copy blocks it already has. */
  private def holds(scope: Scope, df: DataFrame): Boolean =
    scope.synchronized {
      scope.persisted.exists(_ eq df) || (df.queryExecution.logical match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          scope.ckptRddIds.contains(lr.rdd.id)
        case _ => false
      })
    }

  /** `df.barrier()` chain syntax at call sites. */
  implicit class BarrierOps(private val df: DataFrame) extends AnyVal {
    def barrier(): DataFrame = Barrier(df)
  }

  /** Drop every block an [[apply]] call on THIS THREAD created — and, as
    * garbage collection of last resort, every block whose creating thread
    * has since DIED without releasing (a failed foreachBatch's
    * stream-execution thread; see class doc). Never touches a live
    * thread's scope. Safe to call repeatedly.
    */
  def releaseAll(s: SparkSession): Unit = {
    releaseScope(s, scopes.remove(Thread.currentThread()))
    sweepDead(s)
  }

  /** Release and drop every scope whose owner thread has died — shared by
    * [[releaseAll]] and (opportunistically) [[apply]]. Never touches a
    * live thread's scope, so it can't race an owner or release a live
    * query's in-flight blocks.
    */
  private def sweepDead(s: SparkSession): Unit = {
    val it = scopes.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (!e.getKey.isAlive) { releaseScope(s, e.getValue); it.remove() }
    }
  }

  private def releaseScope(s: SparkSession, scope: Scope): Unit =
    if (scope != null) scope.synchronized {
      scope.persisted.foreach { p =>
        try { p.unpersist(blocking = false); () } catch { case _: Throwable => }
      }
      scope.persisted.clear()
      val registry = s.sparkContext.getPersistentRDDs
      scope.ckptRddIds.foreach(id =>
        registry.get(id).foreach(_.unpersist(blocking = false)))
      scope.ckptRddIds.clear()
    }
}
