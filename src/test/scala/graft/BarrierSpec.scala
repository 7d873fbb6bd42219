package graft

/** The pluggable reuse barrier (core.Barrier): mode equivalence and the
  * release lifecycle that keeps long sessions from accumulating blocks
  * (the 2x-at-16x inflation SCALING.md measured).
  */
class BarrierSpec extends SparkSpec {

  // a barrier-USING query (dedup_minhash_lsh went zero-barrier in r9;
  // the estimator still barriers its slice relation)
  private def runMinhash(): Set[(Long, Long)] =
    SparkEntry.queries("dedup_minhash_estimate")(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("persist mode is result-identical to localCheckpoint mode") {
    val viaLocal = runMinhash() // default mode
    spark.conf.set(graft.core.Barrier.ConfKey, "persist")
    try {
      val viaPersist = runMinhash()
      assert(viaPersist === viaLocal)
    } finally spark.conf.unset(graft.core.Barrier.ConfKey)
  }

  test("releaseAll drops barrier blocks but never caller-owned caches") {
    graft.core.Barrier.releaseAll(spark) // start from a tracked-clean slate
    // a cache the CALLER owns — e.g. a benchmark signature table held for
    // a whole streaming job — must survive barrier release
    val mine = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id").cache()
    mine.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    runMinhash() // parks localCheckpoint blocks as persistent RDDs
    assert(spark.sparkContext.getPersistentRDDs.size > before.size,
      "the barrier should have persisted something")
    graft.core.Barrier.releaseAll(spark)
    // unpersist is async (blocking=false); the registry drop is immediate
    assert(spark.sparkContext.getPersistentRDDs.keySet === before,
      "exactly the barrier blocks must be gone")
    assert(mine.storageLevel.useMemory, "caller cache must survive")
    mine.unpersist()
  }

  test("release is caller-scoped: another thread's barriers survive") {
    graft.core.Barrier.releaseAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // a concurrent query's barrier lives on ITS stream-execution thread;
    // the latches freeze the moment where both "queries" are in flight
    val parked = new java.util.concurrent.CountDownLatch(1)
    val mayRelease = new java.util.concurrent.CountDownLatch(1)
    @volatile var otherBlocks: Set[Int] = Set.empty
    val other = new Thread(() => {
      graft.core.Barrier(
        graft.core.Tables.load(spark, sfDir, "documents").select("doc_id"))
      otherBlocks =
        spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
      parked.countDown()
      mayRelease.await()
      graft.core.Barrier.releaseAll(spark) // the owner's own release works
    })
    other.setDaemon(true) // a failed assert below must not hang the JVM
    other.start()
    try {
      parked.await()
      assert(otherBlocks.nonEmpty, "the other thread parked a block")
      // this thread releases ITS scope — the other query's in-flight
      // localCheckpoint (no lineage!) must not be evicted
      graft.core.Barrier.releaseAll(spark)
      assert(otherBlocks.subsetOf(spark.sparkContext.getPersistentRDDs.keySet),
        "releaseAll must never drop another thread's barrier blocks")
    } finally mayRelease.countDown()
    other.join()
    assert(otherBlocks.intersect(
      spark.sparkContext.getPersistentRDDs.keySet).isEmpty,
      "the owning thread's release must drop its own blocks")
  }

  test("a dead thread's abandoned barriers are reclaimed by any releaseAll") {
    graft.core.Barrier.releaseAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // simulate a foreachBatch body that threw AFTER creating barriers but
    // BEFORE its trailing releaseAll: the stream-execution thread dies
    // with its scope un-released
    val t = new Thread(() => {
      graft.core.Barrier(
        graft.core.Tables.load(spark, sfDir, "documents").select("doc_id"))
    })
    t.start(); t.join()
    val orphaned =
      spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
    assert(orphaned.nonEmpty, "the dead thread left barrier blocks behind")
    // any later release on any live thread garbage-collects them
    graft.core.Barrier.releaseAll(spark)
    assert(orphaned.intersect(
      spark.sparkContext.getPersistentRDDs.keySet).isEmpty,
      "orphaned blocks of a dead thread must be reclaimed")
  }

  test("defaultMode: localCheckpoint on local masters, persist otherwise") {
    // VERDICT r17 #3: lineage truncation makes an executor loss
    // unrecoverable on a real cluster, so the unset-conf default must
    // flip to the lineage-keeping persist path off-local
    assert(graft.core.Barrier.defaultMode("local[32]") === "localCheckpoint")
    assert(graft.core.Barrier.defaultMode("local[*]") === "localCheckpoint")
    assert(graft.core.Barrier.defaultMode("local") === "localCheckpoint")
    // local-cluster runs separate executor JVMs: an executor can be lost
    // while the driver lives, so it keeps lineage like any cluster
    assert(graft.core.Barrier.defaultMode("local-cluster[2,1,1024]")
      === "persist")
    assert(graft.core.Barrier.defaultMode("yarn") === "persist")
    assert(graft.core.Barrier.defaultMode("spark://host:7077") === "persist")
    assert(graft.core.Barrier.defaultMode("k8s://https://host") === "persist")
  }

  test("persist mode keeps lineage (logical plan is not an RDD scan)") {
    spark.conf.set(graft.core.Barrier.ConfKey, "persist")
    try {
      val df = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id")
      val b = graft.core.Barrier(df)
      // localCheckpoint rewrites the plan to LogicalRDD (no lineage);
      // persist keeps the original plan wrapped in InMemoryRelation on
      // execution — the analyzed plan still reads the source
      assert(!b.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    } finally {
      spark.conf.unset(graft.core.Barrier.ConfKey)
      graft.core.Barrier.releaseAll(spark)
    }
  }

  test("a barrier over a relation this thread's scope already holds runs " +
      "no job and returns it, in both modes") {
    // jobs submitted from this thread while `body` runs: a tag in this
    // thread's local properties picks them out, and a marker job run after
    // `body` is seen last, since the listener bus delivers in order
    def jobsOf(body: => Unit): Int = {
      val tag = "barrier-spec-" + System.nanoTime()
      val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          Option(j.properties).flatMap(p => Option(p.getProperty(tag)))
            .foreach(seen.add)
          ()
        }
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      try {
        sc.setLocalProperty(tag, "body")
        try body finally sc.setLocalProperty(tag, "marker")
        sc.parallelize(Seq(1), 1).count()
        def next(): String = Option(seen.poll(60,
          java.util.concurrent.TimeUnit.SECONDS)).getOrElse(
          fail("the marker job never reached the listener"))
        Iterator.continually(next()).takeWhile(_ != "marker").size
      } finally {
        sc.setLocalProperty(tag, null)
        sc.removeSparkListener(listener)
      }
    }
    Seq("localCheckpoint", "persist").foreach { mode =>
      spark.conf.set(graft.core.Barrier.ConfKey, mode)
      try {
        val first = graft.core.Barrier(
          graft.core.Tables.load(spark, sfDir, "documents").select("doc_id"))
        var second = first
        assert(jobsOf { second = graft.core.Barrier(first) } === 0, mode)
        assert(second.collect().toSet === first.collect().toSet, mode)
        // a relation built on top of a barrier is not one: it gets its own
        val derived = first.filter("doc_id % 2 = 0")
        assert(jobsOf(graft.core.Barrier(derived)) > 0, mode)
      } finally {
        spark.conf.unset(graft.core.Barrier.ConfKey)
        graft.core.Barrier.releaseAll(spark)
      }
    }
  }
}
