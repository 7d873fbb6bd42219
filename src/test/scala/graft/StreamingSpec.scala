package graft

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.StatefulStreaming
import graft.streaming.StatefulStreaming.KeyedEvent

/** Streaming-semantics tests with MemoryStream micro-batches: per-key state
  * carries across batches (A4/A5), watermark drops late rows (W4/W5), and
  * windows emit once finalized.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))
  private def ms(s: String): Long = Instant.parse(s).toEpochMilli

  test("A4 streaming: state dedupes across micro-batches, 7-day back rule") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    // ttl=None: an armed ProcessingTimeTimeout makes the engine loop
    // timeout-check batches, so processAllAvailable would never settle
    val q: StreamingQuery = StatefulStreaming.firstOfDayStream(input.toDS(), ttl = None)
      .writeStream.format("memory").queryName("a4_stream")
      .outputMode("append").start()
    try {
      // batch 1: user 1 twice on day 2024-01-01 -> one emission
      input.addData(
        KeyedEvent(1, 1, ms("2024-01-01T10:00:00Z"), 0),
        KeyedEvent(2, 1, ms("2024-01-01T11:00:00Z"), 0))
      q.processAllAvailable()
      // batch 2: same user same day -> state suppresses re-emission
      input.addData(KeyedEvent(3, 1, ms("2024-01-01T12:00:00Z"), 0))
      q.processAllAvailable()
      // batch 3: 9 days later -> counts again, flagged returning
      input.addData(KeyedEvent(4, 1, ms("2024-01-10T09:00:00Z"), 0))
      q.processAllAvailable()
      val rows = spark.table("a4_stream")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      assert(rows.toSet === Set(
        (1L, "2024-01-01", 0),
        (1L, "2024-01-10", 1)))
    } finally q.stop()
  }

  test("A4 streaming under the RocksDB state store (cluster tier)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the provider class is read at QUERY start, so setting it on the
    // shared session here exercises exactly what the cluster profile
    // (-Dspark.sql.streaming.stateStore.providerClass=…RocksDBStateStoreProvider)
    // would configure
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      graft.core.Sessions.RocksDbProvider)
    var q: StreamingQuery = null
    try {
      // inside the try: if start() itself throws, the finally still
      // unsets the provider on the SHARED session
      val input = MemoryStream[KeyedEvent]
      q = StatefulStreaming.firstOfDayStream(input.toDS(), ttl = None)
        .writeStream.format("memory").queryName("a4_rocksdb")
        .outputMode("append").start()
      input.addData(
        KeyedEvent(1, 1, ms("2024-01-01T10:00:00Z"), 0),
        KeyedEvent(2, 1, ms("2024-01-01T11:00:00Z"), 0))
      q.processAllAvailable()
      input.addData(KeyedEvent(3, 1, ms("2024-01-01T12:00:00Z"), 0))
      q.processAllAvailable()
      input.addData(KeyedEvent(4, 1, ms("2024-01-10T09:00:00Z"), 0))
      q.processAllAvailable()
      // the state genuinely lives in RocksDB for this query: the provider
      // exports its own custom metrics into the progress events
      assert(q.lastProgress.stateOperators.nonEmpty)
      val metricKeys = q.lastProgress.stateOperators.flatMap(
        _.customMetrics.keySet().toArray(Array.empty[String]))
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"state operator must report RocksDB metrics, got: ${metricKeys.toList}")
      val rows = spark.table("a4_rocksdb")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      assert(rows.toSet === Set(
        (1L, "2024-01-01", 0),
        (1L, "2024-01-10", 1)),
        "per-key state must carry across micro-batches under RocksDB")
    } finally {
      if (q != null) q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("A5 streaming: is_new repaired across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    val q = StatefulStreaming.isNewRepairStream(input.toDS())
      .writeStream.format("memory").queryName("a5_stream")
      .outputMode("append").start()
    try {
      // day 1: claims new -> kept
      input.addData(KeyedEvent(1, 7, ms("2024-01-01T00:00:00Z"), 1))
      q.processAllAvailable()
      // day 2: claims new again -> repaired to 0 (state crossed the batch)
      input.addData(KeyedEvent(2, 7, ms("2024-01-02T00:00:00Z"), 1))
      q.processAllAvailable()
      val rows = spark.table("a5_stream")
        .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
      assert(rows === Map(1L -> 1, 2L -> 0))
    } finally q.stop()
  }

  test("foreachBatch store merge executes the stateful batch plan exactly " +
      "once per micro-batch (r15 double-execution guard)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    // The r15 soak's shape: a complete-mode aggregation whose foreachBatch
    // maintains a bucketed store. Each action over the handed-in batch DF
    // re-runs the state read + agg, so a merge that takes two unguarded
    // actions doubles every micro-batch's stateful work — invisible to
    // result checks. The lineage counter sits between the agg output and
    // the store entry point, exactly where the soak paid.
    val input = MemoryStream[(Long, Long)]
    val agg = input.toDF().toDF("k", "v")
      .groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val base = java.nio.file.Files.createTempDirectory("fbexec").toString
    val acc = spark.sparkContext.longAccumulator("fb-exec-rows")
    val tick = udf(() => { acc.add(1L); true }).asNondeterministic()
    val q = agg.writeStream.outputMode("complete")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          val src = batch.toDF().filter(tick()).withColumn("__seq", lit(id))
          graft.streaming.Sinks.upsert(spark, src, "k", "__seq",
            s"$base/store")
          ()
      }
      .option("checkpointLocation", s"$base/chk").start()
    try {
      input.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      // complete-mode batch 0 emits keys {1,2} = 2 rows, counted ONCE each
      assert(acc.value === 2L,
        s"batch 0 stateful plan ran ${acc.value / 2.0}x")
      input.addData((1L, 5L), (3L, 7L))
      q.processAllAvailable()
      // batch 1 emits the cumulative keys {1,2,3} = 3 rows → 5 total
      assert(acc.value === 5L,
        s"batch 1: expected 5 cumulative row-executions, got ${acc.value} " +
          "— the micro-batch plan ran more than once inside the store merge")
      // and the guard didn't perturb the store contents
      val out = graft.streaming.Sinks.readStore(spark, s"$base/store")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(out === Map(1L -> ((2L, 15L)), 2L -> ((1L, 20L)),
        3L -> ((1L, 7L))))
    } finally q.stop()
  }

  test("J3/W7 streaming: interval join matches within band across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val pay = MemoryStream[(Long, Timestamp, Long)]
    val click = MemoryStream[(Long, Timestamp, Long)]
    val payDf = pay.toDF().toDF("pay_id", "pay_ts", "pay_user")
    val clickDf = click.toDF().toDF("click_id", "click_ts", "click_user")
    val q = graft.streaming.StatefulStreaming
      .intervalJoinStream(payDf, clickDf)
      .writeStream.format("memory").queryName("j3_stream")
      .outputMode("append").start()
    try {
      // click arrives first (batch 1), matching pay arrives later (batch 2)
      // -> the buffered click state joins across the batch boundary.
      // band (ref DwdTradeOrderPaySucDetail.java:123):
      //   pay_ts ∈ [click_ts - 15min, click_ts + 15s]
      click.addData((100L, ts("2024-01-01T00:20:00Z"), 1L))
      q.processAllAvailable()
      pay.addData(
        (200L, ts("2024-01-01T00:10:00Z"), 1L), // inside the band
        (201L, ts("2024-01-01T00:10:00Z"), 2L), // wrong user -> no match
        (202L, ts("2024-01-01T02:00:00Z"), 1L)) // outside the band
      q.processAllAvailable()
      val rows = spark.table("j3_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows === Set((200L, 100L)))
    } finally q.stop()
  }

  test("J3 streaming == banded batch on the boundary-adversarial fixture " +
      "with every edge pair split across micro-batch boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    // The r15 batch j3 re-plan is pinned banded==naive (OperatorsSpec);
    // this pins the STREAMING twin against the same adversarial fixture —
    // exact window edges ±1 µs — with each boundary pair's two sides
    // arriving in different micro-batches, so the cross-batch join state
    // is what carries every edge case (VERDICT r15 #3).
    val rs = J3Fixture.rows(cloudUsers = 10, perUser = 20)
    val dir = java.nio.file.Files.createTempDirectory("j3stream").toString
    J3Fixture.eventsDf(spark, rs).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val expected = graft.operators.Relational
      .queries("j3_interval_join")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pay = MemoryStream[(Long, Timestamp, Long)]
    val click = MemoryStream[(Long, Timestamp, Long)]
    val q = StatefulStreaming.intervalJoinStream(
        pay.toDF().toDF("pay_id", "pay_ts", "pay_user"),
        click.toDF().toDF("click_id", "click_ts", "click_user"))
      .writeStream.format("memory").queryName("j3_stream_band")
      .outputMode("append").start()
    val nEdge = 2 * J3Fixture.edges.size
    val batchOf = scala.collection.mutable.Map.empty[Long, Int]
    try {
      // feed in global event-time order — never late against the
      // min-policy watermark, and state retention bounds are respected
      // because the later side of a pair always arrives second. Flush a
      // micro-batch after EVERY edge-pair event (forcing its partner
      // into a later batch) and after every 40 cloud events.
      def tstamp(us: Long): Timestamp = {
        val t = new Timestamp((us / 1000000L) * 1000L)
        t.setNanos(((us % 1000000L) * 1000L).toInt) // keep the ±1 µs edges
        t
      }
      var batchIdx = 0
      var pending = 0
      def flush(): Unit = if (pending > 0) {
        q.processAllAvailable(); batchIdx += 1; pending = 0
      }
      rs.sortBy(e => (e._2, e._1)).foreach { case (eid, us, uid, tpe) =>
        if (tpe == "purchase") pay.addData((eid, tstamp(us), uid))
        else click.addData((eid, tstamp(us), uid))
        batchOf(eid) = batchIdx
        pending += 1
        if (eid < nEdge || pending >= 40) flush()
      }
      flush()
      // the split actually happened: every boundary pair crossed batches
      J3Fixture.edges.indices.foreach { i =>
        assert(batchOf(2L * i) !== batchOf(2L * i + 1),
          s"edge pair $i landed in one batch — the fixture lost its point")
      }
      val got = spark.table("j3_stream_band")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected,
        s"stream-only=${got -- expected} batch-only=${expected -- got}")
      // and the in-window boundary pairs are all present (non-vacuous)
      val inWindow = J3Fixture.edges.zipWithIndex.collect {
        case (o, i) if o >= -900000000L && o <= 15000000L =>
          (2L * i, 2L * i + 1)
      }.toSet
      assert(inWindow.subsetOf(got),
        s"missing boundary pairs: ${inWindow -- got}")
    } finally q.stop()
  }

  test("J2 streaming: left join emits matches now, null-padding at watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val orders = MemoryStream[(Long, Timestamp)]
    val details = MemoryStream[(Long, Long, Timestamp)]
    val q = graft.streaming.StatefulStreaming.leftJoinStream(
        orders.toDF().toDF("o_id", "o_ts"),
        details.toDF().toDF("d_id", "d_order_id", "d_ts"))
      .writeStream.format("memory").queryName("j2_stream")
      .outputMode("append").start()
    try {
      // order 1 gets a detail; order 2 never will
      orders.addData((1L, ts("2024-01-01T00:00:00Z")),
        (2L, ts("2024-01-01T00:00:00Z")))
      details.addData((10L, 1L, ts("2024-01-01T00:00:30Z")))
      q.processAllAvailable()
      val matchedOnly = spark.table("j2_stream")
        .collect().map(r => (r.getLong(0), r.get(1))).toSet
      assert(matchedOnly === Set((1L, 10L)),
        "matched row emits immediately; unmatched must WAIT for the watermark")
      // advance both watermarks past order 2's band -> null-padded row emits
      orders.addData((9L, ts("2024-01-01T01:00:00Z")))
      details.addData((99L, 9L, ts("2024-01-01T01:00:00Z")))
      q.processAllAvailable()
      // one more batch so the watermark-triggered output is committed
      orders.addData((8L, ts("2024-01-01T02:00:00Z")))
      details.addData((98L, 8L, ts("2024-01-01T02:00:00Z")))
      q.processAllAvailable()
      val all = spark.table("j2_stream")
        .collect().map(r => (r.getLong(0), r.get(1))).toSet
      assert(all.contains((2L, null)),
        s"null-padded row for the never-matched order must appear, got $all")
    } finally q.stop()
  }

  test("A6 streaming: session windows merge across batches, emit when finalized") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long)]
    val df = input.toDF().toDF("event_id", "ts", "user_id")
    val q = StatefulStreaming.sessionizedCounts(df, gap = "30 seconds")
      .writeStream.format("memory").queryName("a6_stream")
      .outputMode("append").start()
    try {
      // batch 1: two events 10s apart -> same session (gap 30s)
      input.addData((1L, ts("2024-01-01T00:00:00Z"), 1L))
      q.processAllAvailable()
      // batch 2: extends the SAME session across the batch boundary
      input.addData((2L, ts("2024-01-01T00:00:10Z"), 1L))
      q.processAllAvailable()
      assert(spark.table("a6_stream").isEmpty,
        "open session must not emit before the watermark closes it")
      // batch 3: far-future event advances the watermark -> session closes
      input.addData((3L, ts("2024-01-01T01:00:00Z"), 1L))
      q.processAllAvailable()
      input.addData((4L, ts("2024-01-01T02:00:00Z"), 1L))
      q.processAllAvailable()
      val rows = spark.table("a6_stream").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(3)))
      // one merged session [00:00:00, 00:00:40) with both events
      assert(rows.contains(("2024-01-01 00:00:00", "2024-01-01 00:00:40", 2L)),
        rows.mkString("; "))
    } finally q.stop()
  }

  test("topN streaming: ranking refreshes across batches, latest-ver wins") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import StatefulStreaming.{Scored, TopNEntry}
    val input = MemoryStream[Scored]
    val q = StatefulStreaming.topNStream(input.toDS(), n = 2)
      .writeStream.format("memory").queryName("topn_stream")
      .outputMode("append").start()
    try {
      input.addData(Scored("A", 1L, 10.0), Scored("A", 2L, 20.0))
      q.processAllAvailable()
      // a new leader displaces item 1 from the top-2
      input.addData(Scored("A", 3L, 30.0))
      q.processAllAvailable()
      // a row that does NOT change the top-2 -> no re-emission
      input.addData(Scored("A", 4L, 1.0))
      q.processAllAvailable()
      val all = spark.table("topn_stream").as[TopNEntry].collect()
      assert(all.map(_.ver).max === 2L,
        s"no-change batch must not bump ver: ${all.mkString("; ")}")
      // downstream upsert semantics: latest ver per (group, rn)
      val latest = all.groupBy(e => (e.group, e.rn))
        .map { case (k, vs) => k -> vs.maxBy(_.ver).item_id }
      assert(latest === Map(("A", 1) -> 3L, ("A", 2) -> 2L))
    } finally q.stop()
  }

  test("topN streaming: a score update replaces the item, never ranks twice") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import StatefulStreaming.{Scored, TopNEntry}
    val input = MemoryStream[Scored]
    val q = StatefulStreaming.topNStream(input.toDS(), n = 3)
      .writeStream.format("memory").queryName("topn_update")
      .outputMode("append").start()
    try {
      input.addData(Scored("A", 1L, 10.0), Scored("A", 2L, 20.0))
      q.processAllAvailable()
      // item 1's score is UPDATED — retract semantics: the old (1, 10.0)
      // must not survive beside the new (1, 50.0)
      input.addData(Scored("A", 1L, 50.0))
      q.processAllAvailable()
      val all = spark.table("topn_update").as[TopNEntry].collect()
      val ver = all.map(_.ver).max
      val ranking = all.filter(_.ver == ver).sortBy(_.rn)
        .map(e => (e.rn, e.item_id, e.score)).toList
      assert(ranking === List((1, 1L, 50.0), (2, 2L, 20.0)),
        s"stale score must be replaced: $ranking")
    } finally q.stop()
  }

  test("streaming ingest dedup: repeated fingerprints dropped across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = StatefulStreaming.dedupIngest(docs, "ts")
      .select("doc_id", "text")
      .writeStream.format("memory").queryName("dedup_ingest")
      .outputMode("append").start()
    try {
      input.addData((1L, "alpha", ts("2024-01-01T00:00:00Z")),
        (2L, "beta", ts("2024-01-01T00:00:01Z")),
        (3L, "alpha", ts("2024-01-01T00:00:02Z"))) // in-batch dup
      q.processAllAvailable()
      // cross-batch dup of "beta" + one fresh doc
      input.addData((4L, "beta", ts("2024-01-01T00:00:03Z")),
        (5L, "gamma", ts("2024-01-01T00:00:04Z")))
      q.processAllAvailable()
      val texts = spark.table("dedup_ingest").select("text")
        .collect().map(_.getString(0)).sorted.toList
      assert(texts === List("alpha", "beta", "gamma"),
        s"each content fingerprint must survive exactly once: $texts")
    } finally q.stop()
  }

  test("streaming as-of join: in-order feed reproduces the batch operator") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StatefulStreaming.AsOfEvent]
    val q = StatefulStreaming.asOfStream(input.toDS())
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      // feed the whole fixture in event-time order, split mid-stream so
      // the carried PayState does cross-batch work
      val ev = StatefulStreaming.asOfEvents(
        graft.core.Tables.load(spark, sfDir, "events"))
        .collect().sortBy(e => (e.tsMicros, e.side, e.id))
      val (b1, b2) = ev.splitAt(ev.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      // compare id AND value: the value must come from the SAME purchase
      // as the id (streaming doubles rounded to the batch's 2dp contract)
      val got = spark.table("asof_stream").collect()
        .map(r => (r.getLong(0), (Option(r.get(2)).map(_.toString.toLong),
          Option(r.get(3)).map(v => BigDecimal(v.toString)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP)))))
        .toMap
      val want = graft.operators.Relational
        .queries("j7_asof_join")(spark, sfDir).collect()
        .map(r => (r.getLong(0),
          (if (r.isNullAt(3)) None else Some(r.getLong(3)),
            Option(r.getString(4)).map(BigDecimal(_)))))
        .toMap
      assert(got === want,
        "in-order streaming attribution must equal the batch as-of join")
      assert(want.values.exists(_._1.isEmpty) &&
        want.values.exists(_._1.nonEmpty),
        "fixture must exercise both attribution branches")
    } finally q.stop()
  }

  test("streaming as-of join: late old purchase never regresses attribution") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StatefulStreaming.AsOfEvent]
    val q = StatefulStreaming.asOfStream(input.toDS())
      .writeStream.format("memory").queryName("asof_late")
      .outputMode("append").start()
    try {
      import StatefulStreaming.AsOfEvent
      // batch 1: pay#10 at t=1000, click#20 at t=2000 → attributed to 10
      input.addData(AsOfEvent(1, 1000, 0, 10, Some(5.0)),
        AsOfEvent(1, 2000, 1, 20, None))
      q.processAllAvailable()
      // batch 2: a LATE purchase OLDER than the held one (t=500) must not
      // replace state; the next click still attributes to pay#10
      input.addData(AsOfEvent(1, 500, 0, 11, Some(9.0)),
        AsOfEvent(1, 3000, 1, 21, None))
      q.processAllAvailable()
      // batch 3: a NULL-valued purchase advances state and its null must
      // survive to the emitted asof_value (no silent 0.0 coalesce — the
      // batch twin carries NULL through)
      input.addData(AsOfEvent(1, 4000, 0, 12, None),
        AsOfEvent(1, 5000, 1, 22, None))
      q.processAllAvailable()
      val got = spark.table("asof_late").collect()
        .map(r => (r.getLong(0), r.get(2).toString.toLong)).toMap
      assert(got === Map(20L -> 10L, 21L -> 10L, 22L -> 12L))
      val values = spark.table("asof_late").collect()
        .map(r => (r.getLong(0), Option(r.get(3)))).toMap
      assert(values(20L) === Some(5.0) && values(22L) === None,
        "null purchase value must stay null in the attribution")
    } finally q.stop()
  }

  test("streaming contamination gate: benchmark clones dropped, parity with batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // benchmark = a slice of the corpus, so real cross-set clones exist
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    val benchmark = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0)
      .select("text")
    // fingerprints computed once + cached — the static side must not pay
    // its scan/distinct per trigger
    val fps = StatefulStreaming.benchmarkFps(benchmark).cache()
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StatefulStreaming.contaminationGateFps(stream, fps)
      .writeStream.format("memory").queryName("contam_gate")
      .outputMode("append").start()
    try {
      val rows = docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val (b1, b2) = rows.splitAt(rows.length / 2) // two micro-batches
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      val got = spark.table("contam_gate").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      // batch twin: same gate applied as a plain batch anti-join
      val want = StatefulStreaming.contaminationGate(
        docs.select("doc_id", "text"), benchmark)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === want, "streamed gate must equal the batch gate")
      // the gate actually dropped the benchmark members (and any clones)
      assert(got.size < rows.length, "something must be dropped")
      assert(!got.exists(_ % 7 == 0), "no benchmark member survives the gate")
    } finally { q.stop(); fps.unpersist(); () }
  }

  test("bloom contamination tier: identical to exact gate, verify input pruned") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    val benchmark = docs
      .filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0)
      .select("text")
    val fps = StatefulStreaming.benchmarkFps(benchmark).cache()
    val bloom = StatefulStreaming.benchmarkBloom(fps).cache()
    // PRUNING: the bitmap must cut the verify join's input to a strict
    // subset of the corpus — and, since bloom false negatives cannot
    // exist, every true benchmark member must still be in that subset
    val (_, cand) = StatefulStreaming.bloomSplit(
      docs.select("doc_id", "text"), bloom)
    val candIds = cand.select("doc_id").collect().map(_.getLong(0)).toSet
    val total = docs.count()
    assert(candIds.size < total,
      s"bitmap pruned nothing: ${candIds.size} of $total")
    assert(candIds.filter(_ % 7 == 0).size ===
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0)
        .count(),
      "a benchmark member escaped the bitmap — false negatives must not exist")
    // IDENTITY: the bloom-gated stream admits exactly the exact gate's set
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StatefulStreaming.contaminationGateBloom(stream, fps, bloom)
      .writeStream.format("memory").queryName("contam_bloom")
      .outputMode("append").start()
    try {
      val rows = docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      val got = spark.table("contam_bloom").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val want = StatefulStreaming.contaminationGateFps(
        docs.select("doc_id", "text"), fps)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === want, "bloom-gated output must equal the ungated gate")
      assert(!got.exists(_ % 7 == 0), "no benchmark member survives")
    } finally { q.stop(); fps.unpersist(); bloom.unpersist(); () }
  }

  test("streaming funnel: in-order batches reproduce the batch stage counts") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StatefulStreaming.FunnelEvent]
    val q = StatefulStreaming.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      val rows = graft.core.Tables.load(spark, sfDir, "events")
        .filter(org.apache.spark.sql.functions.col("user_id").isNotNull &&
          org.apache.spark.sql.functions.col("ts").isNotNull)
        .select(org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts")
              .cast("timestamp_ltz")).as("us"),
          org.apache.spark.sql.functions.col("event_type"))
        .collect().map(r => StatefulStreaming.FunnelEvent(
          r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(e => (e.usMicros, e.event_id))
      // split TIME-ORDERED so per-key arrival stays in order across
      // micro-batches — the contract under which streaming ≡ batch
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      val got = spark.table("funnel_stream")
        .groupBy("stage").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = graft.operators.Stateful
        .queries("a7_funnel_steps")(spark, sfDir)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got === want,
        "streamed stage advances must equal the batch funnel counts")
      // a stage advance is emitted at most once per (user, stage)
      val dupes = spark.table("funnel_stream")
        .groupBy("user_id", "stage").count()
        .filter(org.apache.spark.sql.functions.col("count") > 1).count()
      assert(dupes === 0L)
    } finally { q.stop(); () }
  }

  test("classifier gate tier: streamed keep set equals the batch query's") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StatefulStreaming.classifierGateBatch(stream)
      .writeStream.format("memory").queryName("qc_gate")
      .outputMode("append").start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      val got = spark.table("qc_gate").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      // batch twin: the oracle-gated query's keep column (the tier is
      // stateless, so batch split must be invisible)
      val want = graft.operators.TextAnalysis
        .queries("text_quality_classifier")(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("keep"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
        .filter(_ >= 0L) // the query unions its own planted fixtures
      assert(got === want, "streamed keep set must equal the batch query")
      assert(got.nonEmpty && got.size < rows.length,
        "classifier gate must be discriminative on the fixture")
      // the tier stays stateless and narrow per micro-batch
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty)
    } finally { q.stop(); () }
  }

  test("line-dedup ingest: lines strip from the threshold-crossing batch on") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("linestore").toString
    val banner = "Accept cookies to continue"
    def doc(id: Long, body: String) = (id, s"$body\n$banner")
    def dropped(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    try {
      val b1 = Seq(doc(1, "first body"), doc(2, "second body"))
        .toDF("doc_id", "text")
      val out1 = dropped(
        StatefulStreaming.lineDedupIngestBatch(b1, store, 0L))
      // 2 distinct docs = maxDocs: the banner is not yet boilerplate
      assert(out1 === Map(1L -> 0L, 2L -> 0L), s"nothing drops yet: $out1")
      graft.core.Barrier.releaseAll(spark)
      // REPLAY of batch 0 (the real recovery scenario: before any later
      // batch commits): own dir excluded + rewritten -> identical output
      val replay = dropped(
        StatefulStreaming.lineDedupIngestBatch(b1, store, 0L))
      assert(replay === out1, "replay must be idempotent")
      graft.core.Barrier.releaseAll(spark)
      // batch 1 pushes the banner to 3 distinct docs (> maxDocs): the
      // crossing batch strips it; the banner-free doc is untouched; docs
      // 1 and 2 were already admitted — the documented arrival horizon
      val b2 = Seq(doc(3, "third body"), (4L, "no banner here"))
        .toDF("doc_id", "text")
      val out2 = dropped(
        StatefulStreaming.lineDedupIngestBatch(b2, store, 1L))
      assert(out2 === Map(3L -> 1L, 4L -> 0L),
        s"crossing batch must strip the now-hot line: $out2")
      graft.core.Barrier.releaseAll(spark)
      // LATE replay of batch 0 after batch 1 committed: the count reads
      // strictly-earlier batches only, so batch 1's banner doc cannot
      // push the total past maxDocs and strip docs 1 and 2
      val lateReplay = dropped(
        StatefulStreaming.lineDedupIngestBatch(b1, store, 0L))
      assert(lateReplay === out1,
        s"late replay must be idempotent: $lateReplay")
      graft.core.Barrier.releaseAll(spark)
      // single-batch parity with the batch operator: all occurrences in
      // ONE batch -> every doc stripped, including an all-banner doc
      // cleaning to the empty fingerprint
      val store2 =
        java.nio.file.Files.createTempDirectory("linestore2").toString
      val all = Seq(doc(1, "first body"), doc(2, "second body"),
        (3L, banner)).toDF("doc_id", "text")
      val out3 = StatefulStreaming.lineDedupIngestBatch(all, store2, 0L)
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(out3(1L)._3 === 1L && out3(2L)._3 === 1L)
      assert(out3(3L) === (("d41d8cd98f00b204e9800998ecf8427e", 0L, 1L)),
        s"all-boilerplate doc must clean to empty: ${out3(3L)}")
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("pack-index ingest: stream-maintained index equals batch corpus_pack_sequences") {
    val store = java.nio.file.Files.createTempDirectory("packstore").toString
    try {
      // the admission contract: arrival order = doc_id order, chunked
      // into micro-batches like the soak's hygiene stream
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text")
      val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
      val cuts = Seq(ids.length / 3, 2 * ids.length / 3, ids.length)
      val batches = cuts.zip(0 +: cuts).map { case (hi, lo) =>
        val (loId, hiId) = (ids(lo), ids(hi - 1))
        docs.filter(org.apache.spark.sql.functions.col("doc_id")
          .between(loId, hiId))
      }
      val outs = batches.zipWithIndex.map { case (b, i) =>
        val out = StatefulStreaming.packIngestBatch(b, store, i.toLong)._1
          .collect()
        graft.core.Barrier.releaseAll(spark)
        out
      }
      val streamed = outs.flatten
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      val batchTwin = graft.operators.TextAnalysis
        .queries("corpus_pack_sequences")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      graft.core.Barrier.releaseAll(spark)
      assert(streamed === batchTwin,
        "stream-maintained pack index must equal the batch query")
      // the store's persisted union is the same loader-facing index
      val persisted = spark.read.parquet(s"$store/__batch=*")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      assert(persisted === batchTwin, "persisted per-batch dirs drifted")
      // REPLAY of the middle batch AFTER the last batch committed: the
      // base sums strictly-earlier batches only, so even a late retry
      // reproduces the rows it emitted live and cannot shift any offset
      val replay = StatefulStreaming
        .packIngestBatch(batches(1), store, 1L)._1.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      graft.core.Barrier.releaseAll(spark)
      assert(replay === outs(1).map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet,
        "pack-index batch replay must be idempotent")
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("BM25 ingest: stream-maintained index answers exactly like the " +
      "batch query, replay-idempotent") {
    val store = java.nio.file.Files.createTempDirectory("bm25store").toString
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text")
      val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
      val cuts = Seq(ids.length / 3, 2 * ids.length / 3, ids.length)
      val batches = cuts.zip(0 +: cuts).map { case (hi, lo) =>
        docs.filter(org.apache.spark.sql.functions.col("doc_id")
          .between(ids(lo), ids(hi - 1)))
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.bm25IngestBatch(b, store, i.toLong)
        graft.core.Barrier.releaseAll(spark)
      }
      def top(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val streamed = top(StatefulStreaming.bm25SearchFrom(spark, store,
        graft.operators.TextAnalysis.bm25Terms))
      val batchTwin = top(graft.operators.TextAnalysis
        .queries("text_bm25_topk")(spark, sfDir))
      graft.core.Barrier.releaseAll(spark)
      // EXACT order-sensitive equality: same integer scores, same global
      // top-20 in the same (score DESC, doc_id ASC) order
      assert(streamed === batchTwin,
        s"stream-maintained index drifted:\n$streamed\nvs\n$batchTwin")
      // replay of the middle batch after later commits: Overwrite per
      // __batch dir + additive rollups → search unchanged
      StatefulStreaming.bm25IngestBatch(batches(1), store, 1L)
      graft.core.Barrier.releaseAll(spark)
      val replayed = top(StatefulStreaming.bm25SearchFrom(spark, store,
        graft.operators.TextAnalysis.bm25Terms))
      assert(replayed === batchTwin, "replay must not change the index")
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("IVF ingest: stream-maintained index answers exactly like the " +
      "batch query, replay-idempotent; adds before train refuse loudly") {
    val store = java.nio.file.Files.createTempDirectory("ivfstore").toString
    try {
      val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
        .select("vec_id", "embedding")
      val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
      val cuts = Seq(ids.length / 3, 2 * ids.length / 3, ids.length)
      val batches = cuts.zip(0 +: cuts).map { case (hi, lo) =>
        emb.filter(org.apache.spark.sql.functions.col("vec_id")
          .between(ids(lo), ids(hi - 1)))
      }
      // train-then-add: an add WITHOUT the centroid prefix must refuse
      val bad = java.nio.file.Files.createTempDirectory("ivfbad").toString
      intercept[IllegalArgumentException] {
        StatefulStreaming.ivfIngestBatch(batches(2), bad, 0L)
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.ivfIngestBatch(b, store, i.toLong)
        graft.core.Barrier.releaseAll(spark)
      }
      def top(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val streamed = top(StatefulStreaming.ivfSearchFrom(spark, store))
      val batchTwin = top(graft.operators.Similarity
        .queries("sim_ivf_ann")(spark, sfDir))
      assert(streamed === batchTwin,
        "stream-maintained inverted lists must answer row-identically " +
          "to sim_ivf_ann over the same corpus")
      // replay of the middle batch after later commits: Overwrite per
      // __batch dir + fixed quantizer → identical lists, search unchanged
      StatefulStreaming.ivfIngestBatch(batches(1), store, 1L)
      graft.core.Barrier.releaseAll(spark)
      val replayed = top(StatefulStreaming.ivfSearchFrom(spark, store))
      assert(replayed === batchTwin, "replay must not change the index")
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("graph ingest: maintained top-K lists equal the batch kNN graph, " +
      "replay-idempotent, beam serve row-identical to sim_graph_search") {
    val store = java.nio.file.Files.createTempDirectory("graphstore")
      .toString
    try {
      val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
        .select("vec_id", "embedding")
      // the index width is fixed at creation; the batch twin derives the
      // same value from the final corpus count
      val bits = graft.functions.Vectors.occupancyBits(emb.count())
      val batches = (0 until 3).map(i => emb.filter(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.lit(3)) === i))
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.graphIngestBatch(b, store, i.toLong, bits)
        graft.core.Barrier.releaseAll(spark)
      }
      def edgeSet(df: org.apache.spark.sql.DataFrame) = df
        .select("vec_id", "neighbor_id", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val maintained = edgeSet(
        StatefulStreaming.graphEdgesFrom(spark, store))
      val batchKe = edgeSet(graft.operators.Similarity
        .knnGraph(spark, sfDir).drop("rank"))
      graft.core.Barrier.releaseAll(spark)
      assert(maintained === batchKe,
        "stream-maintained top-K lists must equal the batch kNN graph " +
          "over the same corpus (same K, same tie order, same sims)")
      // replay of the middle batch after later commits: same __batch
      // dirs, list merge dedups on (vec_id, neighbor_id) → unchanged
      StatefulStreaming.graphIngestBatch(batches(1), store, 1L, bits)
      graft.core.Barrier.releaseAll(spark)
      assert(edgeSet(StatefulStreaming.graphEdgesFrom(spark, store))
        === batchKe, "replay must not change the maintained lists")
      // serve parity: the walk over the maintained graph is the batch
      // walk (same entry, rounds, width, rank), so rows must be equal
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val served = rows(StatefulStreaming.graphSearchFrom(spark, store))
      graft.core.Barrier.releaseAll(spark)
      val batchWalk = rows(graft.operators.Similarity
        .queries("sim_graph_search")(spark, sfDir))
      graft.core.Barrier.releaseAll(spark)
      assert(served === batchWalk,
        "beam search over the maintained graph must answer " +
          "row-identically to sim_graph_search")
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("simhash ingest: union of per-batch emitted pairs equals the " +
      "batch banded pair relation; in-order replay re-emits its own") {
    val store = java.nio.file.Files.createTempDirectory("simhashstore")
      .toString
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text")
      val batches = (0 until 3).map(i => docs.filter(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.lit(3)) === i))
      def pairSet(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_a", "doc_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val emitted = batches.map { b =>
        val p = pairSet(StatefulStreaming.simhashIngestBatch(b, store))
        graft.core.Barrier.releaseAll(spark)
        p
      }
      val batchTwin = pairSet(graft.operators.Dedup
        .queries("dedup_simhash_pairs")(spark, sfDir))
      graft.core.Barrier.releaseAll(spark)
      assert(emitted.reduce(_ ++ _) === batchTwin,
        "union of per-batch emissions must equal the batch " +
          "dedup_simhash_pairs relation over the same corpus")
      // a pair is discovered exactly once, by its later-arriving member
      assert(emitted(0).intersect(emitted(1)).isEmpty &&
        (emitted(0) ++ emitted(1)).intersect(emitted(2)).isEmpty,
        "no pair may be emitted by two different batches")
      // in-order replay: set-semantics merges make the store a no-op and
      // the final batch re-emits exactly its own pairs
      val replayed = pairSet(
        StatefulStreaming.simhashIngestBatch(batches(2), store))
      graft.core.Barrier.releaseAll(spark)
      assert(replayed === emitted(2),
        "an in-order replayed batch must re-emit exactly its own pairs")
      // an EMPTY micro-batch (idle trigger / recovery) emits 0 pairs —
      // it must not throw on the not-yet-probed roster read, including
      // against a FRESH store where no bucket exists at all
      val fresh = java.nio.file.Files
        .createTempDirectory("simhashstore_empty").toString
      Seq(store, fresh).foreach { st =>
        val none = pairSet(StatefulStreaming.simhashIngestBatch(
          docs.filter(org.apache.spark.sql.functions.lit(false)), st))
        graft.core.Barrier.releaseAll(spark)
        assert(none.isEmpty, s"empty batch must emit no pairs against $st")
      }
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("containment ingest: union of per-batch emitted pairs equals the " +
      "batch composed dedup_containment; replay and empty batch safe") {
    val store = java.nio.file.Files.createTempDirectory("contstore")
      .toString
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text")
      val batches = (0 until 3).map(i => docs.filter(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.lit(3)) === i))
      def pairSet(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_a", "doc_b", "n_a", "n_b", "inter", "cont_ppm")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      val emitted = batches.map { b =>
        val p = pairSet(StatefulStreaming.containmentIngestBatch(b, store))
        graft.core.Barrier.releaseAll(spark)
        p
      }
      val batchTwin = pairSet(graft.operators.Dedup
        .queries("dedup_containment")(spark, sfDir))
      graft.core.Barrier.releaseAll(spark)
      assert(emitted.reduce(_ ++ _) === batchTwin,
        "union of per-batch emissions must equal the batch composed " +
          "dedup_containment relation over the same corpus")
      // a directed doc pair is emitted exactly once across a
      // non-replayed split (emission A covers the verifying batch,
      // emission B each later-arriving member)
      assert(emitted(0).intersect(emitted(1)).isEmpty &&
        (emitted(0) ++ emitted(1)).intersect(emitted(2)).isEmpty,
        "no pair may be emitted by two different batches")
      // in-order replay: set-semantics merges no-op; re-emissions are a
      // subset of already-emitted rows (set-level idempotence)
      val replayed = pairSet(
        StatefulStreaming.containmentIngestBatch(batches(2), store))
      graft.core.Barrier.releaseAll(spark)
      assert(replayed.subsetOf(batchTwin),
        "replayed-batch emissions must stay inside the batch relation")
      // serving read: the store reassembles the WHOLE batch relation
      val served = pairSet(
        StatefulStreaming.containmentPairsFrom(spark, store))
      graft.core.Barrier.releaseAll(spark)
      assert(served === batchTwin,
        "containmentPairsFrom must equal the batch dedup_containment " +
          "relation after full ingest")
      // empty micro-batch: no throw, no emission — including on a fresh
      // store where no bucket exists at all
      val fresh = java.nio.file.Files
        .createTempDirectory("contstore_empty").toString
      Seq(store, fresh).foreach { st =>
        val none = pairSet(StatefulStreaming.containmentIngestBatch(
          docs.filter(org.apache.spark.sql.functions.lit(false)), st))
        graft.core.Barrier.releaseAll(spark)
        assert(none.isEmpty, s"empty batch must emit no pairs against $st")
      }
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("containment ingest: a LATE clone of an already-verified set " +
      "expands through emission B, and a failed pair is verified once") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("contstore_b")
      .toString
    // set A = prefix of set B (planted asymmetric containment); x1/x3
    // are clones (same gram set), so batch 3's x3 arrives AFTER pair
    // (A,B) was verified in batch 2 — the emission-B path by
    // construction
    val a = "the quick brown fox jumps over the fence again and again"
    val b = a + " while the lazy dog sleeps"
    val b1 = Seq((101L, a)).toDF("doc_id", "text")
    val b2 = Seq((202L, b)).toDF("doc_id", "text")
    val b3 = Seq((303L, a)).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e1 = rows(StatefulStreaming.containmentIngestBatch(b1, store))
    graft.core.Barrier.releaseAll(spark)
    val e2 = rows(StatefulStreaming.containmentIngestBatch(b2, store))
    graft.core.Barrier.releaseAll(spark)
    val e3 = rows(StatefulStreaming.containmentIngestBatch(b3, store))
    graft.core.Barrier.releaseAll(spark)
    assert(e1.isEmpty, s"single doc cannot pair: $e1")
    // fixture sanity: the planted pair must actually be band-reachable
    // and pass verify (else this test exercises nothing)
    assert(e2.contains((101L, 202L)),
      s"batch 2 must verify and expand the planted pair, got $e2")
    // the late clone expands against the stored partner WITHOUT
    // re-verifying — emission B, the pre-batch reach read
    assert(e3.contains((303L, 202L)),
      s"late clone must expand through emission B, got $e3")
    assert(!e3.exists { case (x, y) => x == 101L || y == 101L },
      s"batch 3 must not re-emit batch-2 rows, got $e3")
    // failed-pair store: the reach store carries pass=false rows for
    // band-reachable candidates that failed verify (if any arose) and
    // pass=true for the planted pair — and NO candidate is verified
    // twice, which the disjoint e2/e3 emissions above already witness
    val reach = graft.streaming.Sinks.readStore(spark, s"$store/reach")
    assert(reach.filter(col("pass") === lit(true)).count() >= 2,
      "both orientations of the passing pair must be stored")
  }

  test("PCA stats ingest: streamed sufficient statistics reproduce the " +
      "batch Gram bit-for-bit, replay-idempotent; from-Gram component " +
      "aligns with the batch ladder") {
    val store = java.nio.file.Files.createTempDirectory("pcastore").toString
    try {
      val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
        .select("vec_id", "embedding")
      val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
      val cuts = Seq(ids.length / 3, 2 * ids.length / 3, ids.length)
      val batches = cuts.zip(0 +: cuts).map { case (hi, lo) =>
        emb.filter(org.apache.spark.sql.functions.col("vec_id")
          .between(ids(lo), ids(hi - 1)))
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.pcaStatsIngestBatch(b, store, i.toLong)
        graft.core.Barrier.releaseAll(spark)
      }
      def cellsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val streamed = cellsOf(StatefulStreaming.pcaGramFrom(spark, store))
      val batchG = cellsOf(graft.operators.Similarity
        .queries("sim_pca_gram")(spark, sfDir))
      assert(streamed === batchG,
        "additive G_raw/sums + algebraic centering must equal the " +
          "batch centered Gram EXACTLY — both are integer identities")
      StatefulStreaming.pcaStatsIngestBatch(batches(1), store, 1L)
      graft.core.Barrier.releaseAll(spark)
      assert(cellsOf(StatefulStreaming.pcaGramFrom(spark, store)) === batchG,
        "replay must not change the statistics")
      // the d²-sized tail, exact contract: the SAME arithmetic over the
      // streamed store and over the batch query's Gram must agree
      // bit-for-bit (equal inputs were just proven, so this pins the
      // tail's determinism end-to-end through the store)
      def vecOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val vg = vecOf(StatefulStreaming
        .pcaPowerFromGram(StatefulStreaming.pcaGramFrom(spark, store)))
      val vb = vecOf(StatefulStreaming.pcaPowerFromGram(
        graft.operators.Similarity.queries("sim_pca_gram")(spark, sfDir)))
      assert(vg === vb,
        "from-Gram component must be identical on streamed vs batch Gram")
      // directional sanity vs the batch cells-route ladder: one Gc
      // application per round either way, but the cells route rescales
      // the INTERMEDIATE t relation, so at 3 rounds on the tiny fixture
      // the two partially-converged vectors agree in direction, not bits
      val vp = vecOf(graft.operators.Similarity
        .queries("sim_pca_power")(spark, sfDir))
      val dot = vg.keys.map(d => vg(d) * vp(d)).sum.toDouble
      val cos = math.abs(dot /
        (math.sqrt(vg.values.map(v => v * v).sum.toDouble) *
          math.sqrt(vp.values.map(v => v * v).sum.toDouble)))
      assert(cos > 0.9,
        s"Gram-route and cells-route power iteration must agree on the " +
          s"leading direction; |cos| = $cos")
      // sim_pca_topk runs entirely on the Gram, so the maintained store
      // gives it a streaming tier FOR FREE: the same scale+deflation
      // ladder over the store-derived Gram must reproduce the batch
      // query bit-for-bit (Gram parity was proven above; this pins the
      // whole k-component tail through the store)
      val d = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("embedding"))).head.getInt(0)
      def topkOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val tkStream = topkOf(graft.operators.Similarity.pcaTopkFrom(
        graft.operators.Similarity.pcaScaleGram(
          StatefulStreaming.pcaGramFrom(spark, store)), d, spark))
      val tkBatch = topkOf(graft.operators.Similarity
        .queries("sim_pca_topk")(spark, sfDir))
      assert(tkStream === tkBatch,
        "top-k components from the maintained Gram store must equal the " +
          "batch query exactly")
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("WordPiece ingest: stream-maintained inventory statistics segment " +
      "exactly like the batch query, replay-idempotent") {
    val store = java.nio.file.Files.createTempDirectory("wpstore").toString
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text")
      val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
      val cuts = Seq(ids.length / 3, 2 * ids.length / 3, ids.length)
      val batches = cuts.zip(0 +: cuts).map { case (hi, lo) =>
        docs.filter(org.apache.spark.sql.functions.col("doc_id")
          .between(ids(lo), ids(hi - 1)))
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.wordpieceIngestBatch(b, store, i.toLong)
        graft.core.Barrier.releaseAll(spark)
      }
      def segs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) -> (r.getLong(3), r.getString(4))).toMap
      val streamed = segs(StatefulStreaming
        .wordpieceSegmentsFrom(spark, store))
      val batchTwin = segs(graft.operators.TextAnalysis
        .wordpieceSegments(spark, sfDir))
      graft.core.Barrier.releaseAll(spark)
      assert(streamed === batchTwin,
        "additive word/gram statistics must reproduce the batch " +
          "inventory and with it the exact segmentations")
      StatefulStreaming.wordpieceIngestBatch(batches(1), store, 1L)
      graft.core.Barrier.releaseAll(spark)
      assert(segs(StatefulStreaming.wordpieceSegmentsFrom(spark, store))
        === batchTwin, "replay must not change the statistics")
      // the unigram-LM family consumes the SAME two additive relations,
      // so this one store serves both tokenizer tiers: the full hard-EM
      // chain over the store statistics must reproduce the batch
      // query's Viterbi segmentations exactly
      def usegs(df: org.apache.spark.sql.DataFrame) = df
        .filter(org.apache.spark.sql.functions.col("pos") ===
          org.apache.spark.sql.functions.col("len"))
        .select("word", "np", "seg", "sc").collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
      val uStream = usegs(StatefulStreaming.unigramSegmentsFrom(spark, store))
      graft.core.Barrier.releaseAll(spark)
      val (uw, um) = graft.operators.TextAnalysis.unigramModel(spark, sfDir)
      val uBatch = usegs(graft.operators.TextAnalysis.unigramViterbi(uw,
        graft.operators.TextAnalysis.unigramScore(um)))
      assert(uStream === uBatch,
        "unigram hard-EM over the maintained statistics must equal the " +
          "batch chain exactly")
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("BM25/bigram-LM stores: querying before the first ingest is a " +
      "clean empty result, not an error") {
    val empty = java.nio.file.Files.createTempDirectory("neverstore")
      .toString
    assert(StatefulStreaming.bm25SearchFrom(spark, empty,
      graft.operators.TextAnalysis.bm25Terms).count() === 0L)
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").limit(3)
    // scoring against an EMPTY model: every probability term is the
    // unseen fallback, so docs still score (all-backoff), with 0 sums
    val scored = StatefulStreaming
      .bigramLmScoreFrom(spark, empty, docs).collect()
    assert(scored.nonEmpty)
    scored.foreach(r => assert(r.getLong(2) === 0L,
      "empty model must give zero micro-probability mass"))
  }

  test("bigram-LM ingest: stream-maintained model scores exactly like " +
      "the batch query, replay-idempotent") {
    val store = java.nio.file.Files.createTempDirectory("lmstore").toString
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text")
      val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
      val cuts = Seq(ids.length / 3, 2 * ids.length / 3, ids.length)
      val batches = cuts.zip(0 +: cuts).map { case (hi, lo) =>
        docs.filter(org.apache.spark.sql.functions.col("doc_id")
          .between(ids(lo), ids(hi - 1)))
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.bigramLmIngestBatch(b, store, i.toLong)
        graft.core.Barrier.releaseAll(spark)
      }
      def scores(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
        .toMap
      val streamed = scores(
        StatefulStreaming.bigramLmScoreFrom(spark, store, docs))
      graft.core.Barrier.releaseAll(spark)
      val batchTwin = scores(graft.operators.TextAnalysis
        .queries("text_bigram_lm")(spark, sfDir))
      graft.core.Barrier.releaseAll(spark)
      assert(streamed === batchTwin,
        "stream-maintained model must score identically to the batch query")
      // mid-sequence replay: Overwrite + additive contributions
      StatefulStreaming.bigramLmIngestBatch(batches(1), store, 1L)
      graft.core.Barrier.releaseAll(spark)
      val replayed = scores(
        StatefulStreaming.bigramLmScoreFrom(spark, store, docs))
      assert(replayed === batchTwin, "replay must not change the model")
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("kneser-ney from the bigram-LM store ≡ batch query, replay ok") {
    val store = java.nio.file.Files.createTempDirectory("knstore").toString
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text")
      val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
      val cuts = Seq(ids.length / 3, 2 * ids.length / 3, ids.length)
      val batches = cuts.zip(0 +: cuts).map { case (hi, lo) =>
        docs.filter(org.apache.spark.sql.functions.col("doc_id")
          .between(ids(lo), ids(hi - 1)))
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.bigramLmIngestBatch(b, store, i.toLong)
        graft.core.Barrier.releaseAll(spark)
      }
      def scores(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toMap
      // ONE store serves both smoothing families: the KN read derives
      // its whole model from the summed (w1, w2, cb) relation
      val streamed = scores(
        StatefulStreaming.knScoreFrom(spark, store, docs))
      graft.core.Barrier.releaseAll(spark)
      val batchTwin = scores(graft.operators.TextAnalysis
        .queries("text_kneser_ney")(spark, sfDir))
      graft.core.Barrier.releaseAll(spark)
      assert(streamed === batchTwin,
        "stream-maintained cb must KN-score identically to the batch")
      StatefulStreaming.bigramLmIngestBatch(batches(1), store, 1L)
      graft.core.Barrier.releaseAll(spark)
      assert(scores(StatefulStreaming.knScoreFrom(spark, store, docs))
        === batchTwin, "replay must not change the KN model")
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("pack materialization ingest: streamed full packs + carry equal batch packs") {
    val store = java.nio.file.Files.createTempDirectory("packmat").toString
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text")
      val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
      val cuts = Seq(ids.length / 3, 2 * ids.length / 3, ids.length)
      val batches = cuts.zip(0 +: cuts).map { case (hi, lo) =>
        docs.filter(org.apache.spark.sql.functions.col("doc_id")
          .between(ids(lo), ids(hi - 1)))
      }
      val fulls = batches.zipWithIndex.map { case (b, i) =>
        val out = StatefulStreaming
          .packIngestBatch(b, store, i.toLong)._2.collect()
        graft.core.Barrier.releaseAll(spark)
        out
      }
      // every streamed pack is COMPLETE — exactly L tokens
      fulls.flatten.foreach(r =>
        assert(r.getLong(1) === 512L, s"pack ${r.getLong(0)} not full"))
      val streamed = fulls.flatten
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      // the trailing partial pack lives in the last batch's carry
      val carry = graft.operators.TextAnalysis.assemblePacks(
        spark.read.parquet(s"$store/__carry/__batch=2")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val batchTwin = graft.operators.TextAnalysis
        .queries("corpus_pack_tokens")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      graft.core.Barrier.releaseAll(spark)
      assert(streamed.map(_._1).toSet
          .intersect(carry.map(_._1).toSet).isEmpty,
        "a pack must be either complete or carried, never both")
      assert((streamed ++ carry).toSet === batchTwin,
        "streamed packs + final carry must equal the batch materializer")
      // REPLAY of the middle batch AFTER the last batch committed: base
      // and carry read strictly-earlier state, so the retry writes the
      // same completed packs it wrote live
      val replay = StatefulStreaming
        .packIngestBatch(batches(1), store, 1L)._2.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      graft.core.Barrier.releaseAll(spark)
      assert(replay === fulls(1)
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet,
        "pack materialization replay must be idempotent")
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("pack materialization ingest: empty carry shadows older carries") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("packcarry").toString
    try {
      // "w " * n tokenizes to exactly n bpeish tokens
      def doc(id: Long, n: Int) = (id, Seq.fill(n)("w").mkString(" "))
      val f0 = StatefulStreaming.packIngestBatch(
        Seq(doc(1, 300)).toDF("doc_id", "text"), store, 0L)._2.collect()
      graft.core.Barrier.releaseAll(spark)
      assert(f0.isEmpty, "300 tokens complete no pack")
      // batch 1 lands EXACTLY on the pack boundary (300 + 724 = 2·512):
      // packs 0..1 complete, carry is EMPTY
      val f1 = StatefulStreaming.packIngestBatch(
        Seq(doc(2, 724)).toDF("doc_id", "text"), store, 1L)._2.collect()
      graft.core.Barrier.releaseAll(spark)
      assert(f1.map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L))
      assert(f1.forall(_.getLong(1) === 512L))
      // batch 2 must see the EMPTY carry — falling back to batch 0's
      // stale carry would re-emit a bogus incomplete "pack 0"
      val f2 = StatefulStreaming.packIngestBatch(
        Seq(doc(3, 100)).toDF("doc_id", "text"), store, 2L)._2.collect()
      graft.core.Barrier.releaseAll(spark)
      assert(f2.isEmpty,
        s"stale carry re-injected: packs ${f2.map(_.getLong(0)).toList}")
      val carry = spark.read.parquet(s"$store/__carry/__batch=2")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(carry.toSeq === Seq((2L, 0L)),
        s"carry must hold only doc 3's piece at pack 2 offset 0: ${carry.toList}")
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("near-dup gate: paraphrased benchmark text dropped across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    // benchmark: one real doc; the stream carries an exact clone under a
    // new id, a PARAPHRASE (token appended — near-dup, not exact), and
    // the rest of the corpus
    val benchText = docs.filter(org.apache.spark.sql.functions.col("doc_id") === 0)
      .head.getString(1)
    val benchmark = Seq((0L, benchText)).toDF("doc_id", "text")
    val benchSigs = graft.operators.Dedup.bandedSigs(benchmark)
      .cache() // computed once at job start, reused every micro-batch
    val paraphrase = benchText + " zzzz"
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))) ++
      Seq((100001L, benchText), (100002L, paraphrase))

    val out = java.nio.file.Files.createTempDirectory("ndgate").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          StatefulStreaming.nearDupGateBatch(b.toDF(), benchSigs)
            .write.mode("append").parquet(out)
          // the gate's per-batch barrier blocks are released after the
          // write — the long-running-ingest lifecycle
          graft.core.Barrier.releaseAll(b.sparkSession)
          ()
      }.start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      val got = spark.read.parquet(out).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(!got.contains(100001L), "exact benchmark clone must be dropped")
      assert(!got.contains(100002L), "PARAPHRASED benchmark text must be dropped")
      assert(!got.contains(0L), "the benchmark doc itself is contaminated")
      // parity: streamed union of per-batch gates == one batch gate
      val want = StatefulStreaming.nearDupGateBatch(
        rows.toSeq.toDF("doc_id", "text"), benchSigs)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === want)
    } finally {
      q.stop()
      benchSigs.unpersist()
    }
  }

  test("ngram gate: a quoted benchmark passage is dropped, 12-token overlap passes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    // a 17-token benchmark doc; the stream carries a doc QUOTING a
    // 13-token run of it inside novel text (neither an exact clone nor a
    // whole-doc paraphrase — only the n-gram tier catches this), one
    // overlapping just 12 tokens (must pass), and the corpus
    val benchText = "the quick brown fox jumps over the lazy dog while " +
      "seven wizards brew strong coffee at dawn"
    val quoting = "students report that the quick brown fox jumps over " +
      "the lazy dog while seven wizards brew tea instead"
    val twelve = "the quick brown fox jumps over the lazy dog while " +
      "seven wizards dance happily through the night and morning"
    val benchmark = Seq(benchText).toDF("text")
    val benchGrams = StatefulStreaming.benchmarkGramFps(benchmark).cache()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))) ++
      Seq((200001L, quoting), (200002L, twelve))

    val out = java.nio.file.Files.createTempDirectory("nggate").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          StatefulStreaming.ngramGateBatch(b.toDF(), benchGrams)
            .write.mode("append").parquet(out)
          graft.core.Barrier.releaseAll(b.sparkSession)
          ()
      }.start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      val got = spark.read.parquet(out).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(!got.contains(200001L), "13-token quote must be dropped")
      assert(got.contains(200002L), "12-token overlap is below threshold")
      // parity: streamed union of per-batch gates == one batch gate
      val want = StatefulStreaming.ngramGateBatch(
        rows.toSeq.toDF("doc_id", "text"), benchGrams)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === want)
    } finally {
      q.stop()
      benchGrams.unpersist()
      ()
    }
  }

  test("IVF index ingest: streamed store equals the batch assignment, replay-idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"))
    val storeDir = java.nio.file.Files.createTempDirectory("ivfstore").toString
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          StatefulStreaming.ivfIngestBatch(b.toDF(), cents, storeDir, id)
          ()
      }.start()
    try {
      input.addData(h1.toSeq); q.processAllAvailable()
      input.addData(h2.toSeq); q.processAllAvailable()
    } finally q.stop()
    def store(): Set[(Long, Long)] = graft.streaming.Sinks
      .readStore(spark, storeDir).select("vec_id", "cluster")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = store()
    // incremental assign-only ingest ≡ one batch assignment of the corpus
    val want = graft.operators.Similarity.ivf(spark, sfDir, 16, 4)._1
      .select(col("vec_id"), col("cluster").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want,
      "streamed IVF store must equal the batch centroid assignment")
    // a replayed micro-batch rewrites the same winners — store unchanged
    StatefulStreaming.ivfIngestBatch(
      emb.filter(col("vec_id") >= h2.head._1).select("vec_id", "embedding"),
      cents, storeDir, 1L)
    assert(store() === got, "replaying the last batch must be a no-op")
  }

  test("near-dup ingest: clones dropped across AND within micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val base = docs.head._2
    val storeDir = java.nio.file.Files.createTempDirectory("ndstore").toString
    val outDir = java.nio.file.Files.createTempDirectory("ndout").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          StatefulStreaming.nearDupIngestBatch(b.toDF(), storeDir, id)
            .write.mode("append").parquet(outDir)
          graft.core.Barrier.releaseAll(b.sparkSession)
          ()
      }.start()
    try {
      // batch 1: originals + an IN-BATCH paraphrase of doc 0
      input.addData(docs.take(10).toSeq :+ (200001L, base + " xyzzy"))
      q.processAllAvailable()
      // batch 2: a CROSS-BATCH paraphrase + exact clone + fresh docs
      input.addData(Seq((200002L, base + " plugh"), (200003L, base)) ++
        docs.slice(10, 20).toSeq)
      q.processAllAvailable()
      val got = spark.read.parquet(outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got.contains(0L), "the FIRST copy is admitted")
      assert(!got.contains(200001L), "in-batch paraphrase dropped")
      assert(!got.contains(200002L), "cross-batch paraphrase dropped")
      assert(!got.contains(200003L), "cross-batch exact clone dropped")
      // expected admissions among the originals: greedy keep-first over
      // the verified pair relation in arrival (= id) order. A doc drops
      // only if it pairs with an EARLIER doc that was itself ADMITTED —
      // the store holds admitted docs only, so a dup chain (a drops, b
      // pairs only with a) admits b. Simulating that exactly keeps this
      // oracle valid under any fixture regeneration.
      val presented = docs.take(20).map(_._1).toSet
      val pairs = SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter(p => presented(p._1) && presented(p._2))
      var droppedSim = Set.empty[Long]
      docs.take(20).map(_._1).sorted.foreach { id =>
        if (pairs.exists(p => p._2 == id && !droppedSim(p._1)))
          droppedSim += id
      }
      docs.take(20).foreach { case (id, _) =>
        assert(got.contains(id) === !droppedSim(id),
          s"doc $id admission must match greedy keep-first")
      }
    } finally q.stop()
  }

  test("near-dup ingest: greedy keep-first — a dropped doc never blocks its chain") {
    import spark.implicits._
    // dup CHAIN a<b<c: (a,b) and (b,c) verify at >=0.6 but (a,c) does not —
    // 5 base tokens give J(a,b)=5/6, J(b,c)=6/9≈0.667, J(a,c)=5/9≈0.556
    val aText = "alpha bravo charlie delta echo"
    val bText = aText + " xyzzy"
    val cText = aText + " xyzzy plugh waldo fred"
    val (a, b, c) = (10L, 11L, 12L)
    // precondition: the LSH pipeline must see exactly the chain pairs — if
    // a fixture tweak breaks the band collisions, fail HERE with a clear
    // message rather than deep in the semantics asserts below
    val pairs = graft.operators.Dedup.verifiedPairs(
      graft.operators.Dedup.bandedSigs(
        Seq((a, aText), (b, bText), (c, cText)).toDF("doc_id", "text")), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((a, b), (b, c)),
      s"fixture must form the chain (a,b),(b,c) and nothing else: $pairs")
    try {
      // in-batch tier: one batch [a,b,c] — b drops against admitted a;
      // c's ONLY match b was dropped, so greedy ADMITS c (the old
      // drop-every-doc_b semantics would wrongly drop it)
      val store1 = java.nio.file.Files.createTempDirectory("ndchain1").toString
      val adm1 = StatefulStreaming.nearDupIngestBatch(
        Seq((a, aText), (b, bText), (c, cText)).toDF("doc_id", "text"),
        store1, 0L).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(adm1 === Set(a, c), s"in-batch greedy keep-first: $adm1")
      // cross-tier seed: batch 1 admits a; batch 2 carries [b, c] — b
      // drops against the STORE, and that store-drop must not block c
      val store2 = java.nio.file.Files.createTempDirectory("ndchain2").toString
      val admA = StatefulStreaming.nearDupIngestBatch(
        Seq((a, aText)).toDF("doc_id", "text"), store2, 0L)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(admA === Set(a))
      val admBc = StatefulStreaming.nearDupIngestBatch(
        Seq((b, bText), (c, cText)).toDF("doc_id", "text"), store2, 1L)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(admBc === Set(c),
        s"store-dropped b must not block its in-batch chain sibling c: $admBc")
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("near-dup ingest: a crashed generation write self-heals, store keeps deduping") {
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).take(4)
    val store = java.nio.file.Files.createTempDirectory("ndcrash").toString
    def run(rows: Seq[(Long, String)], id: Long): Set[Long] = {
      val adm = StatefulStreaming.nearDupIngestBatch(
        rows.toDF("doc_id", "text"), store, id)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      graft.core.Barrier.releaseAll(spark)
      adm
    }
    run(docs.toSeq, 0L)
    // simulate a compaction that crashed mid-write: a gen dir holding
    // ONLY a _temporary tree (what a dead Spark write leaves behind) —
    // visible part files exist under it, but Spark's reader hides the
    // whole subtree, so treating it as data would fail schema inference
    val dead = new java.io.File(s"$store/__gen=9/_temporary/0/task/")
    dead.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dead.getPath, "part-00000.parquet"),
      Array[Byte](1, 2, 3))
    // next batch must not crash, must still drop a clone of an admitted
    // doc, and must tombstone the dead gen for the reaper
    val adm = run(Seq((900001L, docs.head._2)), 1L)
    assert(adm.isEmpty, "clone must still drop after a crashed compaction")
    assert(new java.io.File(s"$store/__gen=9/_OBSOLETE").exists(),
      "data-less gen dir must be tombstoned for the next batch's reaper")
    // and the batch after that reaps it
    run(Seq((900002L, "totally novel content never seen before here")), 2L)
    assert(!new java.io.File(s"$store/__gen=9").exists(),
      "tombstoned dead gen dir must be reaped")
  }

  test("near-dup ingest: generation compaction bounds the store, admissions unchanged") {
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).take(12)
    val base = docs.head._2
    // 7 batches: six of fresh docs, a last one carrying near-dup clones of
    // doc 0 — by then doc 0's signatures live only in the compacted
    // generation, so the drops below prove the gen dir is actually read
    val batches: Seq[Seq[(Long, String)]] =
      docs.grouped(2).map(_.toSeq).toSeq :+
        Seq((300001L, base + " xyzzy"), (300002L, base))
    def runAll(store: String, threshold: Int): Seq[Set[Long]] =
      batches.zipWithIndex.map { case (rows, id) =>
        val adm = StatefulStreaming.nearDupIngestBatch(
          rows.toDF("doc_id", "text"), store, id.toLong,
          compactThreshold = threshold)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        graft.core.Barrier.releaseAll(spark)
        adm
      }
    val storeC = java.nio.file.Files.createTempDirectory("ndcomp").toString
    val storeN = java.nio.file.Files.createTempDirectory("ndnone").toString
    val admC = runAll(storeC, threshold = 2)
    val admN = runAll(storeN, threshold = 1000)
    assert(admC === admN,
      "admissions must be identical with and without compaction")
    assert(!admC.last.contains(300001L) && !admC.last.contains(300002L),
      "clones of a COMPACTED admitted doc must still drop")
    def dirs(store: String): Array[String] = new java.io.File(store)
      .listFiles().filter(_.isDirectory).map(_.getName)
    // live = not yet tombstoned; superseded dirs linger ONE batch (the
    // returned relation's lineage may still reach them) and the next
    // batch reaps them
    def live(store: String): Array[String] = new java.io.File(store)
      .listFiles().filter(d => d.isDirectory &&
        !new java.io.File(d, "_OBSOLETE").exists()).map(_.getName)
    assert(dirs(storeN).count(_.startsWith("__batch=")) === batches.length,
      "control store accumulates one dir per batch")
    assert(live(storeC).length <= 5, // ≤ threshold batch dirs + current + 1 gen
      s"compacted store must stay bounded: ${live(storeC).toList}")
    assert(dirs(storeC).exists(_.startsWith("__gen=")),
      "compaction must have produced a generation")
    // REPLAY of the final (compacting) batch: same admissions, store still
    // bounded (the replay reaps the tombstoned inputs), and the replayed
    // batch must not self-match its failed write
    val replay = StatefulStreaming.nearDupIngestBatch(
      batches.last.toSeq.toDF("doc_id", "text"), storeC,
      (batches.length - 1).toLong, compactThreshold = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.core.Barrier.releaseAll(spark)
    assert(replay === admC.last, "replay of the compacting batch is idempotent")
    assert(dirs(storeC).length <= 5,
      s"replay must reap tombstoned dirs and stay bounded: ${dirs(storeC).toList}")
  }

  test("S2 CDC snapshot-then-tail: changelog segments merge into the store") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("cdc").toString
    val chg = s"$base/changelog"
    new java.io.File(chg).mkdirs()
    // phase 1: consistent snapshot of the table (seq 0)
    val snapshot = Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "seq")
    val q = graft.streaming.Jobs.runCdcUpsertStreaming(spark, snapshot,
      chg, "k", "seq", "op", s"$base/store", s"$base/chk")
    try {
      // phase 2, segment 1: update k=1, insert k=3 — discovered as a new
      // file by the tail, merged in its own micro-batch
      Seq((1L, "a1", 1L, "u"), (3L, "c", 1L, "c"))
        .toDF("k", "v", "seq", "op")
        .coalesce(1).write.mode("append").parquet(chg)
      q.processAllAvailable()
      val s1 = graft.streaming.Sinks.readStore(spark, s"$base/store")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s1 === Map(1L -> "a1", 2L -> "b", 3L -> "c"))
      // segment 2: delete k=2 — crosses another micro-batch boundary
      Seq((2L, "b", 2L, "d")).toDF("k", "v", "seq", "op")
        .coalesce(1).write.mode("append").parquet(chg)
      q.processAllAvailable()
      val s2 = graft.streaming.Sinks.readStore(spark, s"$base/store")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s2 === Map(1L -> "a1", 3L -> "c"))
    } finally q.stop()
  }

  test("W4/W5: watermark drops late rows; finalized window emits once") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val df = input.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val q = StatefulStreaming.windowedCounts(df)
      .writeStream.format("memory").queryName("w_stream")
      .outputMode("append").start()
    try {
      // two views in [00:00:00, 00:00:10)
      input.addData(
        (1L, ts("2024-01-01T00:00:01Z"), 1L, "view"),
        (2L, ts("2024-01-01T00:00:03Z"), 2L, "view"))
      q.processAllAvailable()
      // advance event time far past the window + 5s watermark
      input.addData((3L, ts("2024-01-01T00:01:00Z"), 3L, "view"))
      q.processAllAvailable()
      // LATE: another view for the already-finalized first window -> dropped
      input.addData((4L, ts("2024-01-01T00:00:05Z"), 4L, "view"))
      q.processAllAvailable()
      input.addData((5L, ts("2024-01-01T00:02:00Z"), 5L, "view"))
      q.processAllAvailable()
      val rows = spark.table("w_stream")
        .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      // first window finalized with exactly the 2 on-time rows
      assert(rows("2024-01-01 00:00:00") === 2L,
        s"late row must be dropped, got $rows")
    } finally q.stop()
  }

  test("rate-anomaly ingest: stream-maintained counts flag exactly like " +
      "the batch query, replay-idempotent") {
    val store = java.nio.file.Files.createTempDirectory("ratestore").toString
    try {
      val ev = graft.core.Tables.load(spark, sfDir, "events")
      // three disjoint slices by event_id hash — deliberately NOT
      // time-ordered, so a window's count accumulates across batches
      val batches = (0 until 3).map(i =>
        ev.filter(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.lit(3)) === i))
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.rateAnomalyIngestBatch(b, store, i.toLong)
        graft.core.Barrier.releaseAll(spark)
      }
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4))).toSet
      val streamed = rows(StatefulStreaming.rateAnomalyFrom(spark, store))
      graft.core.Barrier.releaseAll(spark)
      val batchTwin = rows(graft.operators.Stateful
        .queries("a10_rate_anomaly")(spark, sfDir))
      graft.core.Barrier.releaseAll(spark)
      assert(streamed === batchTwin, "stream-maintained monitor drifted")
      assert(streamed.exists(_._5), "an anomalous window must exist")
      // replaying the middle batch must not change a single flag
      StatefulStreaming.rateAnomalyIngestBatch(batches(1), store, 1L)
      graft.core.Barrier.releaseAll(spark)
      val replayed = rows(StatefulStreaming.rateAnomalyFrom(spark, store))
      graft.core.Barrier.releaseAll(spark)
      assert(replayed === batchTwin, "replay must not change the monitor")
      // never-ingested store: clean empty, not an error
      val empty = java.nio.file.Files.createTempDirectory("neverrate")
        .toString
      assert(StatefulStreaming.rateAnomalyFrom(spark, empty).count() === 0L)
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("routed ingest: in-order stream admission equals the batch " +
      "pipeline, replay-idempotent, empty store clean") {
    val store = java.nio.file.Files.createTempDirectory("routestore")
      .toString
    try {
      import spark.implicits._
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text")
        .unionByName(graft.operators.TextAnalysis.codeFixture
          .toDF("doc_id", "text"))
      val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
      val cuts = Seq(ids.length / 3, 2 * ids.length / 3, ids.length)
      val batches = cuts.zip(0 +: cuts).map { case (hi, lo) =>
        docs.filter(org.apache.spark.sql.functions.col("doc_id")
          .between(ids(lo), ids(hi - 1)))
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.routedIngestBatch(b, store, i.toLong)
        graft.core.Barrier.releaseAll(spark)
      }
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
          r.getBoolean(3))).toSet
      val streamed = rows(
        StatefulStreaming.routedVerdictsFrom(spark, store))
      val batchTwin = rows(graft.operators.TextAnalysis
        .queries("pipeline_routed_corpus")(spark, sfDir))
      graft.core.Barrier.releaseAll(spark)
      // in-order feed (batches ascend by doc_id) -> arrival keep-first
      // IS the batch smallest-id keep-first
      assert(streamed === batchTwin, "stream admission drifted from batch")
      // replay the middle batch: same verdicts, store unchanged
      StatefulStreaming.routedIngestBatch(batches(1), store, 1L)
      graft.core.Barrier.releaseAll(spark)
      val replayed = rows(
        StatefulStreaming.routedVerdictsFrom(spark, store))
      assert(replayed === batchTwin, "replay must not change admission")
      // cross-batch dedup is real: the -112/-117 clone pair spans the
      // verdict set with exactly one kept
      val clones = streamed.filter(r => r._1 == -112L || r._1 == -117L)
      assert(clones.count(_._4) === 1, "exactly one clone admitted")
      val empty = java.nio.file.Files
        .createTempDirectory("neverroute").toString
      assert(StatefulStreaming.routedVerdictsFrom(spark, empty)
        .count() === 0L)
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("W-slide streaming: finalized sliding windows carry exact uu via " +
      "two chained stateful aggs, matching a driver recompute") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long)]
    val df = input.toDF().toDF("event_id", "ts", "user_id")
      .select(org.apache.spark.sql.functions.col("ts"),
        org.apache.spark.sql.functions.col("user_id"))
    val q = StatefulStreaming.slidingUuCounts(df)
      .writeStream.format("memory").queryName("slide_stream")
      .outputMode("append").start()
    try {
      // two users across two micro-batches inside the same hour; user 1
      // repeats so uu < events in the covering windows
      input.addData((1L, ts("2024-01-01T00:20:00Z"), 1L),
        (2L, ts("2024-01-01T00:25:00Z"), 2L))
      q.processAllAvailable()
      assert(spark.table("slide_stream").isEmpty,
        "no window may emit before the watermark passes its end")
      input.addData((3L, ts("2024-01-01T00:40:00Z"), 1L))
      q.processAllAvailable()
      // far-future event finalizes everything before 02:00
      input.addData((4L, ts("2024-01-01T03:00:00Z"), 9L))
      q.processAllAvailable()
      input.addData((5L, ts("2024-01-01T04:00:00Z"), 9L))
      q.processAllAvailable()
      val got = spark.table("slide_stream").collect()
        .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      // driver recompute: each event covers 4 windows ending <= watermark
      val evs = Seq(("2024-01-01T00:20:00Z", 1L),
        ("2024-01-01T00:25:00Z", 2L), ("2024-01-01T00:40:00Z", 1L))
      val want = evs.flatMap { case (t, u) =>
        val e = java.time.Instant.parse(t).getEpochSecond
        (0 to 3).map(k => ((e / 900) * 900 - 900L * k, u))
      }.groupBy(_._1).map { case (st, us) =>
        val stt = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(
            java.time.ZoneOffset.UTC)
          .format(java.time.Instant.ofEpochSecond(st))
        stt -> ((us.map(_._2).distinct.size.toLong, us.size.toLong))
      }
      want.foreach { case (stt, (uu, ev)) =>
        assert(got.get(stt) === Some((uu, ev)),
          s"window $stt drifted: ${got.get(stt)} vs ($uu, $ev)")
      }
      // the repeat user really exercised uu < events somewhere
      assert(want.exists { case (_, (uu, ev)) => uu < ev })
    } finally q.stop()
  }

  test("CMS store: stream-maintained sketch ≡ batch heavy hitters, " +
      "replay idempotent") {
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files.createTempDirectory("cmsstore").toString
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text")
      // three hash-split batches — frequency counting is order-free, the
      // per-batch contributions must sum to the corpus sketch regardless
      val batches = (0 until 3).map(i =>
        docs.filter(pmod(hash(col("doc_id")), lit(3)) === i))
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.cmsIngestBatch(b, store, i.toLong)
        graft.core.Barrier.releaseAll(spark)
      }
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq.sortBy(_._1)
      val streamed = rows(
        StatefulStreaming.cmsHeavyHittersFrom(spark, store))
      val batchTwin = rows(graft.operators.TextAnalysis
        .queries("text_heavy_hitters_cms")(spark, sfDir))
      assert(streamed === batchTwin,
        s"stream-maintained sketch drifted:\n$streamed\nvs\n$batchTwin")
      // replay the middle batch after later commits
      StatefulStreaming.cmsIngestBatch(batches(1), store, 1L)
      graft.core.Barrier.releaseAll(spark)
      assert(rows(StatefulStreaming.cmsHeavyHittersFrom(spark, store))
        === batchTwin, "replay must not change the sketch")
      // querying a never-ingested store is a clean empty result
      val empty = java.nio.file.Files.createTempDirectory("cmsnever")
        .toString
      assert(StatefulStreaming.cmsHeavyHittersFrom(spark, empty)
        .count() === 0L)
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("novelty store: stream-maintained first-seen ≡ batch report over " +
      "out-of-order batches, replay idempotent") {
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files.createTempDirectory("novstore").toString
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text")
      // hash-split batches arrive in NON-doc_id order — first-seen is
      // min(doc_id), a mergeable statistic, so attribution must not
      // depend on which batch a doc rode in on
      val batches = (0 until 3).map(i =>
        docs.filter(pmod(hash(col("doc_id")), lit(3)) === i))
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.noveltyIngestBatch(b, store, i.toLong)
        graft.core.Barrier.releaseAll(spark)
      }
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(_._1)
      val batchTwin = rows(graft.operators.TextAnalysis
        .queries("corpus_ngram_novelty")(spark, sfDir))
      graft.core.Barrier.releaseAll(spark)
      assert(rows(StatefulStreaming.noveltyReportFrom(spark, store))
        === batchTwin, "stream-maintained first-seen drifted from batch")
      graft.core.Barrier.releaseAll(spark)
      // replay the middle batch after later commits
      StatefulStreaming.noveltyIngestBatch(batches(1), store, 1L)
      assert(rows(StatefulStreaming.noveltyReportFrom(spark, store))
        === batchTwin, "replay must not change the report")
      graft.core.Barrier.releaseAll(spark)
      // querying a never-ingested store is a clean empty result
      val empty = java.nio.file.Files.createTempDirectory("novnever")
        .toString
      assert(StatefulStreaming.noveltyReportFrom(spark, empty)
        .count() === 0L)
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("F2 counter store: summed per-batch counters ≡ batch estimate; " +
      "replay idempotent; state is one row per batch") {
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files.createTempDirectory("f2store").toString
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text")
      val batches = (0 until 3).map(i =>
        docs.filter(pmod(hash(col("doc_id")), lit(3)) === i))
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.f2IngestBatch(b, store, i.toLong)
        graft.core.Barrier.releaseAll(spark)
      }
      val batchTwin = graft.operators.TextAnalysis
        .queries("text_f2_moment")(spark, sfDir)
        .select("n_occurrences", "f2_est").collect()
        .map(r => (r.getLong(0), r.getLong(1))).head
      graft.core.Barrier.releaseAll(spark)
      def streamed() = StatefulStreaming.f2MomentFrom(spark, store)
        .collect().map(r => (r.getLong(0), r.getLong(1))).head
      assert(streamed() === batchTwin,
        "summed counters drifted from the batch estimate")
      // replay the middle batch after later commits
      StatefulStreaming.f2IngestBatch(batches(1), store, 1L)
      assert(streamed() === batchTwin, "replay must not change the sums")
      // the whole store is one 17-long row per batch
      assert(spark.read.parquet(s"$store/x").count() === 3L)
      // a never-ingested store reports no rows, not NULLs
      val empty = java.nio.file.Files.createTempDirectory("f2never")
        .toString
      assert(StatefulStreaming.f2MomentFrom(spark, empty).count() === 0L)
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("CDC chunk store: stream-maintained reuse report ≡ batch query " +
      "over hash-split batches, replay idempotent") {
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files.createTempDirectory("cdcstore").toString
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text", "source")
      // hash-split batches: shared boilerplate chunks land in different
      // batches — the additive per-fp merge must reassemble corpus counts
      val batches = (0 until 3).map(i =>
        docs.filter(pmod(hash(col("doc_id")), lit(3)) === i))
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.cdcIngestBatch(b, store, i.toLong)
        graft.core.Barrier.releaseAll(spark)
      }
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
        .toSeq.sortBy(_._1)
      val batchTwin = rows(graft.operators.Dedup
        .queries("dedup_cdc_chunks")(spark, sfDir))
      graft.core.Barrier.releaseAll(spark)
      assert(rows(StatefulStreaming.cdcReportFrom(spark, store))
        === batchTwin, "stream-maintained chunk report drifted from batch")
      graft.core.Barrier.releaseAll(spark)
      // replay the middle batch after later commits
      StatefulStreaming.cdcIngestBatch(batches(1), store, 1L)
      assert(rows(StatefulStreaming.cdcReportFrom(spark, store))
        === batchTwin, "replay must not change the report")
      graft.core.Barrier.releaseAll(spark)
      // querying a never-ingested store is a clean empty result
      val empty = java.nio.file.Files.createTempDirectory("cdcnever")
        .toString
      assert(StatefulStreaming.cdcReportFrom(spark, empty).count() === 0L)
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("KMV sketch store: stream-maintained bottom-k estimates ≡ batch " +
      "query estimates over hash-split batches, replay idempotent") {
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files.createTempDirectory("kmvstore").toString
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text", "source")
      // hash-split batches: sources and grams interleave arbitrarily —
      // bottom-k merge must not care which batch a gram rode in on
      val batches = (0 until 3).map(i =>
        docs.filter(pmod(hash(col("doc_id")), lit(3)) === i))
      batches.zipWithIndex.foreach { case (b, i) =>
        StatefulStreaming.kmvIngestBatch(b, store, i.toLong)
        graft.core.Barrier.releaseAll(spark)
      }
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toSeq.sortBy(t => (t._1, t._2))
      // the batch query's estimate columns, in the tier's projection
      val batchTwin = rows(graft.operators.Dedup
        .queries("corpus_overlap_kmv")(spark, sfDir)
        .select("source_x", "source_y", "est_nx", "est_ny", "est_union",
          "est_jac_ppm", "est_inter"))
      graft.core.Barrier.releaseAll(spark)
      assert(rows(StatefulStreaming.kmvEstimatesFrom(spark, store))
        === batchTwin, "stream-maintained sketch drifted from batch")
      graft.core.Barrier.releaseAll(spark)
      // replay the middle batch after later commits
      StatefulStreaming.kmvIngestBatch(batches(1), store, 1L)
      assert(rows(StatefulStreaming.kmvEstimatesFrom(spark, store))
        === batchTwin, "replay must not change the estimates")
      graft.core.Barrier.releaseAll(spark)
      // the store stays sketch-sized: ≤ k rows per (source, batch)
      val perBatch = spark.read.parquet(s"$store/sk")
        .groupBy(col("source")).agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).collect().head.getLong(0)
      assert(perBatch <= 3 * 64L,
        "sketch store grew beyond batches x k rows per source")
      // querying a never-ingested store is a clean empty result
      val empty = java.nio.file.Files.createTempDirectory("kmvnever")
        .toString
      assert(StatefulStreaming.kmvEstimatesFrom(spark, empty)
        .count() === 0L)
    } finally graft.core.Barrier.releaseAll(spark)
  }

  test("K8 streaming SCD2: intervals close across micro-batch " +
      "boundaries; stream ≡ batch; replay idempotent") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("scd2").toString
    val chg = s"$base/changelog"
    new java.io.File(chg).mkdirs()
    val ev = graft.core.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
    // three disjoint slices by event_id HASH — deliberately NOT
    // time-ordered: the merge is set-semantic (history recomputed from
    // the union each batch), so arrival order must not matter
    val slices = (0 until 3).map(i =>
      ev.filter(pmod(hash(col("event_id")), lit(3)) === i))
    val schema = ev.schema
    val store = s"$base/store"
    val pub = Seq("user_id", "version", "event_type", "value",
      "valid_from", "valid_to", "is_current")
    def storePub = graft.streaming.Sinks.readStore(spark, store)
      .select(pub.map(col): _*)
    def batchOver(df: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").asc)
      df.filter(col("user_id").isNotNull)
        .withColumn("version", row_number().over(w).cast("long"))
        .withColumn("vt", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("version"), col("event_type"),
          col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("vt"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("vt").isNull.as("is_current"))
    }
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val q = graft.streaming.Jobs.runScd2HistoryStreaming(
      spark, chg, schema, store, s"$base/chk")
    try {
      slices.head.coalesce(1).write.mode("append").parquet(chg)
      q.processAllAvailable()
      assert(same(storePub, batchOver(slices.head)),
        "after batch 1 the store must equal the batch SCD2 over slice 1")
      val openAfter1 = storePub.filter(col("is_current"))
        .select(col("user_id"), col("version")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      slices.tail.foreach { s =>
        s.coalesce(1).write.mode("append").parquet(chg)
        q.processAllAvailable()
      }
      // stream ≡ batch: the store equals k8_scd2_history over the full table
      assert(same(storePub,
        graft.operators.Relational.queries("k8_scd2_history")(spark, sfDir)),
        "final store must equal the batch k8_scd2_history")
      // some interval that was CURRENT after batch 1 closed in a LATER
      // micro-batch (same user_id+version now carries a valid_to)
      val closedLater = storePub
        .filter(!col("is_current") && col("valid_to").isNotNull)
        .select(col("user_id"), col("version")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(openAfter1)
      assert(closedLater.nonEmpty,
        "at least one batch-1-current interval must close across a " +
          "micro-batch boundary")
      // replay of the final slice: set semantics make it a no-op
      graft.streaming.Sinks.scd2Upsert(spark,
        slices.last.filter(col("user_id").isNotNull), "user_id",
        "event_id", "ts", store)
      assert(same(storePub,
        graft.operators.Relational.queries("k8_scd2_history")(spark, sfDir)),
        "replaying a batch must not change the history")
    } finally q.stop()
  }
}
