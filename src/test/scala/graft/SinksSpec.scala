package graft

import java.nio.file.Files
import graft.streaming.Sinks

/** Sink semantics: upsert latest-per-key, dim MERGE with deletes,
  * dynamic routing partitions, dim DDL ops.
  */
class SinksSpec extends SparkSpec {

  test("K5 upsert keeps the newest version per key and is idempotent") {
    import spark.implicits._
    val dir = Files.createTempDirectory("upsert").toString + "/t"
    Sinks.upsert(spark, Seq((1L, "a", 1L), (2L, "b", 1L))
      .toDF("k", "v", "seq"), "k", "seq", dir)
    Sinks.upsert(spark, Seq((1L, "a2", 2L), (3L, "c", 2L))
      .toDF("k", "v", "seq"), "k", "seq", dir)
    // replay the same batch (micro-batch retry) — result must not change
    Sinks.upsert(spark, Seq((1L, "a2", 2L), (3L, "c", 2L))
      .toDF("k", "v", "seq"), "k", "seq", dir)
    // a late, older version of a stored key must not displace it
    Sinks.upsert(spark, Seq((1L, "a-stale", 1L)).toDF("k", "v", "seq"),
      "k", "seq", dir)
    val out = Sinks.readStore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "a2", 2L -> "b", 3L -> "c"))
  }

  test("K5 bucket count is pinned by the store, not the caller") {
    import spark.implicits._
    val dir = Files.createTempDirectory("buckpin").toString + "/t"
    Sinks.upsert(spark, Seq((1L, "a", 1L)).toDF("k", "v", "seq"),
      "k", "seq", dir, buckets = 16)
    // a later caller passing a different count must keep hashing into the
    // 16-bucket layout — otherwise the old row is never merged and the
    // store ends up with two versions of key 1
    Sinks.upsert(spark, Seq((1L, "a2", 2L)).toDF("k", "v", "seq"),
      "k", "seq", dir, buckets = 32)
    val out = Sinks.readStore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(out.toSeq === Seq(1L -> "a2"), s"latest-per-key broken: ${out.toList}")
  }

  test("K5 default bucket count comes from spark.graft.storeBuckets for " +
      "NEW stores; existing stores keep their pinned layout") {
    import spark.implicits._
    val root = Files.createTempDirectory("buckconf").toString
    def bucketDirs(dir: String): Int =
      Option(new java.io.File(dir).listFiles())
        .map(_.count(_.getName.startsWith("__bucket="))).getOrElse(0)
    // store created BEFORE the conf: default 16-bucket layout
    Sinks.upsert(spark, (1L to 64L).map(k => (k, "v", 1L))
      .toDF("k", "v", "seq"), "k", "seq", s"$root/pre")
    spark.conf.set("spark.graft.storeBuckets", "4")
    try {
      // NEW store under the conf: 4 buckets
      Sinks.upsert(spark, (1L to 64L).map(k => (k, "v", 1L))
        .toDF("k", "v", "seq"), "k", "seq", s"$root/post")
      assert(bucketDirs(s"$root/post") === 4,
        s"new store must honor the conf, got ${bucketDirs(s"$root/post")}")
      assert(bucketDirs(s"$root/pre") === 16,
        "pre-conf store layout must be 16")
      // EXISTING store merged under the conf keeps its 16-bucket marker
      Sinks.upsert(spark, Seq((1L, "v2", 2L)).toDF("k", "v", "seq"),
        "k", "seq", s"$root/pre")
      val out = Sinks.readStore(spark, s"$root/pre")
        .filter(org.apache.spark.sql.functions.col("k") === 1L).collect()
      assert(out.map(_.getString(1)).toSeq === Seq("v2"),
        "existing store must keep its pinned layout (no duplicate key 1)")
    } finally spark.conf.unset("spark.graft.storeBuckets")
  }

  test("store merges execute the incoming micro-batch plan exactly once " +
      "(r15 double-execution guard, all three entry points)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("execonce").toString
    def batch(n: Int, seq: Long) = spark.range(n)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"),
        lit(seq).as("seq"))
    // mergeTouchedKeyed (via upsert): fresh store, then an existing-store merge
    // (the union-with-read path must not change the execution count)
    val (b1, a1) = LineageExecGuard.counted(batch(64, 1L))
    Sinks.upsert(spark, b1, "k", "seq", s"$root/t")
    assert(a1.value === 64L,
      s"mergeTouched executed the incoming plan ${a1.value / 64.0}x on a " +
        "fresh store — the r15 double-execution bug is back")
    val (b2, a2) = LineageExecGuard.counted(batch(64, 2L))
    Sinks.upsert(spark, b2, "k", "seq", s"$root/t")
    assert(a2.value === 64L,
      s"mergeTouched executed the incoming plan ${a2.value / 64.0}x on an " +
        "existing store")
    // scd2Upsert
    val (b3, a3) = LineageExecGuard.counted(batch(64, 1L)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("k"))))
    Sinks.scd2Upsert(spark, b3, "k", "seq", "ts", s"$root/h")
    assert(a3.value === 64L,
      s"scd2Upsert executed the incoming plan ${a3.value / 64.0}x")
    // mergeDim
    val (b4, a4) = LineageExecGuard.counted(batch(64, 1L)
      .withColumn("op", lit("c")))
    Sinks.mergeDim(spark, b4, "k", "seq", "op", s"$root/d")
    assert(a4.value === 64L,
      s"mergeDim executed the incoming plan ${a4.value / 64.0}x")
    // the guard itself must not have perturbed the merges' results
    val t = Sinks.readStore(spark, s"$root/t")
    assert(t.count() === 64L && t.filter(col("seq") =!= 2L).isEmpty)
  }

  test("r16 changed-key split: unchanged keys' stored rows ride through " +
      "the per-key merges untouched (single shared bucket)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("keysplit").toString
    // ONE bucket forces every key into the touched bucket — the split,
    // not bucket pruning, is what must protect the unchanged keys
    // upsert: update key 1 only; 2 and 3 keep their stored state
    Sinks.upsert(spark, Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .toDF("k", "v", "seq"), "k", "seq", s"$root/t", buckets = 1)
    Sinks.upsert(spark, Seq((1L, "a2", 2L)).toDF("k", "v", "seq"),
      "k", "seq", s"$root/t", buckets = 1)
    assert(Sinks.readStore(spark, s"$root/t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    // scd2: extend key 1's history; key 2's history rows — presentation
    // columns included — must come back BYTE-IDENTICAL from passthrough
    def ts(n: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$n%d 00:00:00")
    Sinks.scd2Upsert(spark,
      Seq((1L, 1L, ts(1), "x"), (1L, 2L, ts(2), "y"), (2L, 1L, ts(1), "z"))
        .toDF("k", "seq", "ts", "v"), "k", "seq", "ts", s"$root/h",
      buckets = 1)
    val key2Before = Sinks.readStore(spark, s"$root/h")
      .filter(col("k") === 2L).collect().map(_.toString).toSet
    Sinks.scd2Upsert(spark, Seq((1L, 3L, ts(3), "w"))
      .toDF("k", "seq", "ts", "v"), "k", "seq", "ts", s"$root/h",
      buckets = 1)
    val after = Sinks.readStore(spark, s"$root/h")
    assert(after.filter(col("k") === 2L).collect().map(_.toString).toSet
      === key2Before, "unchanged key's history must pass through as stored")
    assert(after.filter(col("k") === 1L).count() === 3L &&
      after.filter(col("k") === 1L && col("is_current")).collect()
        .map(_.getAs[Long]("version")).toSeq === Seq(3L))
    // mergeDim: delete key 1 only; key 2 survives from passthrough
    Sinks.mergeDim(spark, Seq((1L, "x", 1L, "c"), (2L, "y", 1L, "c"))
      .toDF("k", "v", "seq", "op"), "k", "seq", "op", s"$root/d",
      buckets = 1)
    Sinks.mergeDim(spark, Seq((1L, "x", 2L, "d"))
      .toDF("k", "v", "seq", "op"), "k", "seq", "op", s"$root/d",
      buckets = 1)
    assert(Sinks.readStore(spark, s"$root/d").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap === Map(2L -> "y"))
  }

  test("r17 bulk-backfill gate: a batch past spark.graft.keyedSplitMaxKeys " +
      "merges unsplit and produces a byte-identical store") {
    import spark.implicits._
    val root = Files.createTempDirectory("bulkgate").toString
    def ts(n: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$n%d 00:00:00")
    // same two batches against two stores per entry point: `split` under
    // the default cap, `bulk` with the cap forced below the second
    // batch's key count — the gate must route through the unsplit merge
    // (bounded driver collect) and the stores must not differ in any row
    def drive(suffix: String): Unit = {
      Sinks.upsert(spark, (1L to 6L).map(k => (k, s"v$k", 1L))
        .toDF("k", "v", "seq"), "k", "seq", s"$root/t$suffix", buckets = 1)
      Sinks.upsert(spark, (1L to 4L).map(k => (k, s"w$k", 2L))
        .toDF("k", "v", "seq"), "k", "seq", s"$root/t$suffix", buckets = 1)
      Sinks.scd2Upsert(spark, (1L to 6L).map(k => (k, 1L, ts(1), s"v$k"))
        .toDF("k", "seq", "ts", "v"), "k", "seq", "ts", s"$root/h$suffix",
        buckets = 1)
      Sinks.scd2Upsert(spark, (1L to 4L).map(k => (k, 2L, ts(2), s"w$k"))
        .toDF("k", "seq", "ts", "v"), "k", "seq", "ts", s"$root/h$suffix",
        buckets = 1)
      Sinks.mergeDim(spark, (1L to 6L).map(k => (k, s"v$k", 1L, "c"))
        .toDF("k", "v", "seq", "op"), "k", "seq", "op", s"$root/d$suffix",
        buckets = 1)
      Sinks.mergeDim(spark,
        ((1L to 3L).map(k => (k, s"w$k", 2L, "u")) :+ ((4L, "x", 2L, "d")))
          .toDF("k", "v", "seq", "op"), "k", "seq", "op", s"$root/d$suffix",
        buckets = 1)
    }
    drive("split")
    val before = Sinks.keyedSplitFallbacks.get()
    spark.conf.set("spark.graft.keyedSplitMaxKeys", "2")
    try drive("bulk") finally spark.conf.unset("spark.graft.keyedSplitMaxKeys")
    // 3 second batches (4 keys each) over an existing store > cap 2 → 3
    // fallbacks; the 6-key seed batches hit empty stores (no split runs)
    assert(Sinks.keyedSplitFallbacks.get() - before === 3L,
      "the oversized batches must have taken the unsplit path")
    Seq("t", "h", "d").foreach { s =>
      val a = Sinks.readStore(spark, s"$root/${s}split").collect()
        .map(_.toString).sorted.toSeq
      val b = Sinks.readStore(spark, s"$root/${s}bulk").collect()
        .map(_.toString).sorted.toSeq
      assert(a === b, s"store '$s': split and bulk paths must agree")
      assert(a.nonEmpty)
    }
    // a typo'd cap fails naming its conf, like storeBuckets
    spark.conf.set("spark.graft.keyedSplitMaxKeys", "many")
    try {
      val e = intercept[RuntimeException] {
        Sinks.upsert(spark, Seq((1L, "a", 3L)).toDF("k", "v", "seq"),
          "k", "seq", s"$root/tsplit", buckets = 1)
      }
      assert(e.getMessage.contains("keyedSplitMaxKeys"), e.getMessage)
    } finally spark.conf.unset("spark.graft.keyedSplitMaxKeys")
  }

  test("r17 production lineage guard: spark.graft.lineageGuard=true " +
      "asserts execute-once inside every merge entry point") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("prodguard").toString
    spark.conf.set("spark.graft.lineageGuard", "true")
    try {
      // a miscounting guard (e.g. the tick filter executing twice, or the
      // verification count re-running lineage) would throw right here —
      // green means the guard's exactly-once arithmetic holds on fresh
      // AND existing-store merges of all three shapes
      def batch(seq: Long) = spark.range(8)
        .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"),
          lit(seq).as("seq"))
      Sinks.upsert(spark, batch(1L), "k", "seq", s"$root/t")
      Sinks.upsert(spark, batch(2L), "k", "seq", s"$root/t")
      Sinks.scd2Upsert(spark, batch(1L)
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("k"))),
        "k", "seq", "ts", s"$root/h")
      Sinks.mergeDim(spark, batch(1L).withColumn("op", lit("c")),
        "k", "seq", "op", s"$root/d")
      val t = Sinks.readStore(spark, s"$root/t")
      assert(t.count() === 8L && t.filter(col("seq") =!= 2L).isEmpty,
        "guard must not perturb merge results")
    } finally spark.conf.unset("spark.graft.lineageGuard")
  }

  test("K6 dim merge applies puts then deletes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dim").toString + "/d"
    Sinks.mergeDim(spark, Seq((1L, "x", 1L, "c"), (2L, "y", 1L, "c"))
      .toDF("k", "v", "seq", "op"), "k", "seq", "op", dir)
    Sinks.mergeDim(spark, Seq((1L, "x2", 2L, "u"), (2L, "y", 2L, "d"))
      .toDF("k", "v", "seq", "op"), "k", "seq", "op", dir)
    // a late, older change of a stored key must not displace it (the
    // stored row joins the merge as a put, never as a null op)
    Sinks.mergeDim(spark, Seq((1L, "x-stale", 1L, "u"))
      .toDF("k", "v", "seq", "op"), "k", "seq", "op", dir)
    val out = Sinks.readStore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "x2"))
  }

  test("K5/K6 store is bucketed: a batch rewrites only touched buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val dir = Files.createTempDirectory("bucketed").toString + "/t"
    // group candidate keys by their store bucket, pick two different ones
    val byBucket = spark.range(1, 200)
      .select(col("id"), pmod(hash(col("id")), lit(16)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    val (bA, keysA) = byBucket.head
    val (bB, keysB) = byBucket.find(_._1 != bA).get
    Sinks.upsert(spark,
      Seq(keysA.head -> "a0", keysB.head -> "b0")
        .map { case (k, v) => (k, v, 1L) }.toDF("k", "v", "seq"),
      "k", "seq", dir)
    val dirB = new java.io.File(dir, s"__bucket=$bB")
    assert(dirB.exists(), "seed batch must create bucket B")
    val before = dirB.listFiles().map(f => f.getName -> f.lastModified).toMap
    // second batch touches ONLY bucket A keys
    Sinks.upsert(spark,
      Seq((keysA.head, "a1", 2L), (keysA(1), "a2", 2L)).toDF("k", "v", "seq"),
      "k", "seq", dir)
    val after = dirB.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(after === before, "untouched bucket was rewritten")
    val out = Sinks.readStore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(keysA.head -> "a1", keysA(1) -> "a2",
      keysB.head -> "b0"))
  }

  test("K5 a staging directory left over from a crash is never read and " +
      "the next merge clears it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val dir = Files.createTempDirectory("staging").toString + "/t"
    Sinks.upsert(spark, Seq((1L, "a", 1L), (2L, "b", 1L))
      .toDF("k", "v", "seq"), "k", "seq", dir)
    // a crashed rewrite left a staged copy of key 1's bucket whose row
    // would win the merge (higher seq) if the store ever read it
    val b1 = Seq(1L).toDF("k").select(pmod(hash(col("k")), lit(16)))
      .first().getInt(0)
    val staging = new java.io.File(dir, Sinks.StagingDir)
    Seq((1L, "crash", 9L)).toDF("k", "v", "seq")
      .write.parquet(s"$staging/__bucket=$b1")
    def store() = Sinks.readStore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(store() === Map(1L -> "a", 2L -> "b"))
    Sinks.upsert(spark, Seq((1L, "a2", 2L)).toDF("k", "v", "seq"),
      "k", "seq", dir)
    assert(store() === Map(1L -> "a2", 2L -> "b"))
    assert(!staging.exists(), s"staging directory left behind: $staging")
  }

  test("K6 deleting every key of a bucket drops the bucket directory") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dimdrop").toString + "/d"
    Sinks.mergeDim(spark, Seq((1L, "x", 1L, "c"))
      .toDF("k", "v", "seq", "op"), "k", "seq", "op", dir)
    val stored = Sinks.readStore(spark, dir).schema
    Sinks.mergeDim(spark, Seq((1L, "x", 2L, "d"))
      .toDF("k", "v", "seq", "op"), "k", "seq", "op", dir)
    val buckets = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("__bucket="))
    assert(buckets.isEmpty, buckets.mkString(","))
    // no parquet footer is left, yet the emptied store reads back as an
    // empty table with the columns it had before the delete
    val emptied = Sinks.readStore(spark, dir)
    assert(emptied.schema === stored)
    assert(emptied.count() === 0L)
  }

  test("K7 dim DDL: create / drop / update") {
    val base = Files.createTempDirectory("ddl").toString
    Sinks.applyDimDdl(spark, base, "dim_user", "c")
    assert(new java.io.File(base, "dim_user").exists())
    Sinks.applyDimDdl(spark, base, "dim_user", "u")
    assert(new java.io.File(base, "dim_user").exists())
    Sinks.applyDimDdl(spark, base, "dim_user", "d")
    assert(!new java.io.File(base, "dim_user").exists())
    intercept[IllegalArgumentException] {
      Sinks.applyDimDdl(spark, base, "dim_user", "zz")
    }
  }

  test("bucketed tables: co-located join has zero shuffle exchanges") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    graft.core.Tables.writeBucketed(
      docs.select(col("doc_id"), col("lang"), col("source")),
      "b_docs", "doc_id", 8)
    graft.core.Tables.writeBucketed(
      docs.select(col("doc_id"), col("n_chars")),
      "b_meta", "doc_id", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("b_docs").join(spark.table("b_meta"), "doc_id")
      val got = j.collect().map(r => (r.getLong(0), r.getLong(3))).toMap
      // matching bucket layouts zip file-to-file: a SortMergeJoin with NO
      // Exchange on either side — the co-located-merge shape every repeat
      // join (snapshot diff, roster patch, upsert merge) relies on at
      // 100 TB
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
      assert(!plan.contains("Exchange"), plan.take(3000))
      val want = docs.select(col("doc_id"), col("n_chars"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want)
      // bucket pruning: an equality lookup touches ONE bucket file, not 8
      // (autoBucketedScan would drop the bucketed layout for a bare
      // filter because no join needs it — disable it to expose pruning)
      spark.conf
        .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val point = spark.table("b_docs").filter(col("doc_id") === 42L)
        point.collect()
        val pplan = point.queryExecution.executedPlan.toString
        assert(pplan.contains("SelectedBucketsCount: 1 out of 8"),
          pplan.take(3000))
      } finally spark.conf
        .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_docs")
      spark.sql("DROP TABLE IF EXISTS b_meta")
      ()
    }
  }
}
