package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.Natives

/** Streaming twins of the batch stateful operators: the same
  * StateMachines transition functions executed incrementally via
  * `flatMapGroupsWithState` with per-key `GroupState` + TTL.
  *
  * A4 per-day dedup w/ 1-day TTL  (ref DwsUserUserLoginWindow.java:95-135,
  *   state TTL ref DwsTrafficVcChArIsNewPageViewWindow.java:143-146)
  * A5 is_new repair               (ref DwdBaseLog.java:154-198)
  * W6 state TTL                   (GroupStateTimeout.ProcessingTimeTimeout)
  *
  * Scale notes: state is one long per key (last/first epoch-day), hash
  * partitioned by the group key — the same layout Flink keeps in keyed
  * state. TTL bounds the store exactly like the reference's 1-day
  * StateTtlConfig. At 100 TB the state store is RocksDB-backed per
  * executor (the conf-gated cluster tier, `Sessions.RocksDbProvider` as
  * `spark.sql.streaming.stateStore.providerClass`; StreamingSpec runs
  * this file's A4 machine under it); nothing here is driver-resident.
  */
object StatefulStreaming {

  case class KeyedEvent(event_id: Long, user_id: Long, tsMillis: Long,
    claimed: Int)
  case class FirstOfDay(user_id: Long, cur_date: String, back: Int)
  case class Repaired(event_id: Long, is_new_claimed: Int, is_new: Int)
  case class FunnelEvent(event_id: Long, user_id: Long, usMicros: Long,
    event_type: String)
  // stage is BIGINT for schema parity with the batch a7_funnel_steps
  // twin (OpModule output discipline — review r13 finding #7)
  case class FunnelAdvance(user_id: Long, stage: Long)

  /** Normalize the events stream to the keyed shape both operators consume. */
  def keyedEvents(events: DataFrame): Dataset[KeyedEvent] = {
    import events.sparkSession.implicits._
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"),
        (unix_timestamp(col("ts")) * 1000).as("tsMillis"),
        when(col("event_type") === "signup", 1).otherwise(0).as("claimed"))
      .as[KeyedEvent]
  }

  /** A4: emit one row per (user, day) first-seen, with the 7-day
    * returning-user flag. Works identically on a batch or streaming
    * Dataset (flatMapGroupsWithState runs in batch mode with
    * once-per-group semantics).
    *
    * `ttl = Some(duration)` arms the W6 state TTL (the reference's 1-day
    * StateTtlConfig). Note: a registered ProcessingTimeTimeout makes the
    * micro-batch engine schedule continuous timeout-check batches — right
    * for production state hygiene, but tests that rely on
    * `processAllAvailable` settling pass `ttl = None`.
    */
  def firstOfDayStream(events: Dataset[KeyedEvent],
      ttl: Option[String] = Some("1 day")): Dataset[FirstOfDay] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, FirstOfDay](
        OutputMode.Append, timeoutConf) {
        (uid: Long, it: Iterator[KeyedEvent], state: GroupState[Long]) =>
          if (ttl.isDefined && state.hasTimedOut) {
            state.remove(); Iterator.empty
          } else {
            var last = state.getOption.getOrElse(StateMachines.NoState)
            val out = it.toSeq.sortBy(e => (e.tsMillis, e.event_id)).flatMap { e =>
              val day = StateMachines.epochDay(e.tsMillis)
              val (ns, first, back) = StateMachines.dedupStep(last, day)
              last = ns
              if (first)
                Some(FirstOfDay(uid, StateMachines.dayString(day),
                  if (back) 1 else 0))
              else None
            }
            state.update(last)
            ttl.foreach(state.setTimeoutDuration) // W6: 1-day state TTL
            out.iterator
          }
      }
  }

  /** A7 streaming funnel: per-user stage-progression state (three anchor
    * micros, O(1) per key). In-order per-key arrival makes each anchor
    * the earliest qualifying event — exactly the batch query's
    * min-aggregate semantics; a stage emits its advance record once.
    * Shares [[StateMachines.funnelStep]] with nothing else in the batch
    * path precisely because the batch form needs NO per-key state at all
    * (three thin min-aggregates) — the state machine exists only where
    * state is genuinely required.
    */
  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FunnelEvent],
            state: GroupState[(Long, Long, Long)]) =>
          var st = state.getOption.getOrElse(
            (StateMachines.NoState, StateMachines.NoState,
              StateMachines.NoState))
          val out = it.toSeq.sortBy(e => (e.usMicros, e.event_id))
            .flatMap { e =>
              val (ns, adv) =
                StateMachines.funnelStep(st, e.event_type, e.usMicros)
              st = ns
              adv.map(st => FunnelAdvance(uid, st.toLong))
            }
          state.update(st)
          out.iterator
      }
  }

  /** A5: repair the claimed is_new flag with per-key first-visit state. */
  def isNewRepairStream(events: Dataset[KeyedEvent]): Dataset[Repaired] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, Repaired](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[KeyedEvent], state: GroupState[Long]) =>
          var first = state.getOption.getOrElse(StateMachines.NoState)
          val out = it.toSeq.sortBy(e => (e.tsMillis, e.event_id)).map { e =>
            val (ns, fixed) = StateMachines.isNewStep(
              first, e.claimed == 1, StateMachines.epochDay(e.tsMillis))
            first = ns
            Repaired(e.event_id, e.claimed, fixed)
          }
          state.update(first)
          out.iterator
      }
  }

  /** J1/J3/W7 streaming form: stream-stream inner join with a time band.
    * The watermarks on both sides bound the join state exactly like the
    * reference's 5s idle-state retention (ref DwdTradeOrderDetail.java:31,
    * DwdTradeOrderPaySucDetail.java:101-125): a buffered row is evicted
    * once the other side's watermark passes its band, so state is
    * O(rows-in-band) regardless of stream length.
    */
  def intervalJoinStream(pay: DataFrame, click: DataFrame): DataFrame =
    pay.withWatermark("pay_ts", "5 seconds")
      .join(click.withWatermark("click_ts", "5 seconds"),
        expr("""pay_user = click_user
                AND pay_ts >= click_ts - interval 15 minutes
                AND pay_ts <= click_ts + interval 15 seconds"""))
      .select(col("pay_id"), col("click_id"), col("pay_user"))

  /** J2 streaming form: stream-stream LEFT OUTER equi-join with
    * watermark-bounded state. Flink emits an immediate null-padded row and
    * retracts it when the match arrives (forcing an upsert sink, ref
    * DwdTradeOrderDetail.java:52-54,101-102); Spark instead holds the
    * unmatched left row until the watermark proves no match can come, then
    * emits the null-padded row ONCE — same final answer, no retractions
    * (SURVEY §7.4.1). The time-band condition is what lets state evict.
    */
  def leftJoinStream(orders: DataFrame, details: DataFrame): DataFrame =
    orders.withWatermark("o_ts", "5 seconds")
      .join(details.withWatermark("d_ts", "5 seconds"),
        expr("""o_id = d_order_id
                AND d_ts >= o_ts AND d_ts <= o_ts + interval 1 minute"""),
        "leftOuter")
      .select(col("o_id"), col("d_id"), col("o_ts"))

  /** A6 streaming form: watermarked event-time SESSION windows (gap-merged
    * per key, finalized and emitted once the watermark passes gap's end) —
    * the streaming twin of the a6_session_window batch query. Spark merges
    * overlapping session fragments across micro-batches in the state
    * store; state per (key, open session) is one window + count.
    */
  def sessionizedCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "5 seconds"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .filter(col("user_id").isNotNull)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("events_in_session"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("user_id"), col("events_in_session"))

  /** Streaming ingest dedup — the LLM-pipeline `dedup_exact` twin: drop
    * every document whose content fingerprint (md5 of text) was already
    * seen, across micro-batches. `dropDuplicatesWithinWatermark` is the
    * load-bearing choice: it dedups on the fingerprint ALONE while
    * evicting each state row once the watermark passes its event time —
    * plain `dropDuplicates("fp")` under a watermark would never evict
    * (unbounded state) and would silently discard late-arriving NEW
    * documents. The contract: duplicates separated by more than the
    * watermark horizon can slip through — the standard streaming-dedup
    * trade. At 100 TB ingest the state is hash-partitioned by
    * fingerprint across executors' state stores — RocksDB-backed under
    * the conf-gated cluster tier (`Sessions.RocksDbProvider`); nothing is
    * driver-resident.
    */
  def dedupIngest(docs: DataFrame, tsCol: String,
      watermark: String = "10 seconds"): DataFrame =
    docs
      .withColumn("fp", md5(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming decontamination gate — the filter an ingest pipeline runs
    * BEFORE admitting training data: drop every incoming document whose
    * content fingerprint (md5 of normalized text, same derivation as the
    * batch `text_contamination` check) appears in a static benchmark set.
    *
    * Shape: stream–static LEFT ANTI join with the benchmark side
    * broadcast. No state, no watermark, no shuffle of the stream — each
    * micro-batch probes an executor-local hash table. That is the 100 TB
    * shape by construction: ingest is unbounded but benchmarks are MBs,
    * so the small side rides the broadcast and the stream stays narrow.
    * (Near-dup tier at scale: swap the fp equi-key for MinHash band
    * signatures — same join shape, the batch twin is
    * `text_contamination_neardup`.)
    */
  def contaminationGate(docs: DataFrame, benchmark: DataFrame): DataFrame =
    contaminationGateFps(docs, benchmarkFps(benchmark))

  /** The benchmark's fingerprint set — compute ONCE at job start and
    * `cache()` it: a stream-static join re-evaluates the static subquery
    * every trigger, so an uncached benchmark pays its scan → fingerprint
    * → distinct shuffle per micro-batch.
    */
  def benchmarkFps(benchmark: DataFrame): DataFrame =
    benchmark.select(graft.functions.Text.fingerprint(col("text")).as("fp"))
      .distinct()

  /** Gate against a precomputed (ideally cached) fingerprint set. */
  def contaminationGateFps(docs: DataFrame, benchFps: DataFrame): DataFrame =
    docs.withColumn("fp", graft.functions.Text.fingerprint(col("text")))
      .join(org.apache.spark.sql.functions.broadcast(benchFps),
        Seq("fp"), "left_anti")
      .drop("fp")

  /** The benchmark fp set's ~4 KB Bloom bitmap — compute ONCE per
    * benchmark refresh and `cache()` it (same lifecycle as
    * [[benchmarkFps]]). One array<long> row; broadcast at probe time.
    */
  def benchmarkBloom(benchFps: DataFrame): DataFrame =
    graft.operators.TextAnalysis.bloomBitmapFromFps(benchFps)

  /** (definitively-clean, bloom-candidates) split of a document relation
    * against a broadcast bloom bitmap. False negatives cannot exist, so
    * the clean side never needs verification; candidates carry `fp` for
    * the exact verify join. Split out so the spec can pin the pruning.
    */
  private[graft] def bloomSplit(docs: DataFrame, bloom: DataFrame)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.broadcast
    val probed = docs
      .withColumn("fp", graft.functions.Text.fingerprint(col("text")))
      .withColumn("fpl",
        conv(substring(col("fp"), 1, 15), 16, 10).cast("long"))
      .join(broadcast(bloom), lit(true))
      .withColumn("__hit",
        expr(graft.operators.TextAnalysis.bloomMightContain))
    (probed.filter(!col("__hit")).drop("fpl", "bm", "__hit"),
      probed.filter(col("__hit")).drop("fpl", "bm", "__hit"))
  }

  /** Quality-classifier tier of the ingest hygiene chain — the stream
    * form of `text_quality_classifier`'s keep filter (fastText/CCNet
    * keep/drop). Purely narrow and stateless: one native
    * `classifier_stats` walk per document (`Natives.classifierStats`), no
    * join, no state, no shuffle — each micro-batch pays a
    * codegen'd scan and nothing else, so the tier composes into the
    * hygiene chain at zero structural cost. Batch parity pinned in
    * StreamingSpec; identical keep set to the batch query by
    * construction (shared scoring core).
    */
  def classifierGateBatch(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.withClassifierScore(docs)
      .filter(col("keep"))
      .drop("n_feats", "score", "keep")

  /** Bloom-gated tier of the exact decontamination gate — the batch
    * `text_decontam_bloom` pruning brought to the ingest stream: when the
    * benchmark union is large enough that its fp set is an expensive
    * broadcast hash build (10^8 fps ≈ GBs at 100 TB), the ~4 KB bitmap
    * prunes first. Each micro-batch pays a NARROW 4-probe filter; only
    * bloom candidates reach the exact anti-join against `benchFps`. Bloom
    * false positives die in that verify join and false negatives cannot
    * exist, so the admitted output is IDENTICAL to
    * [[contaminationGateFps]] — the same identity contract as the batch
    * query, pinned in StreamingSpec. Both `benchFps` and `bloom` are
    * computed once per benchmark refresh and cached by the caller.
    */
  def contaminationGateBloom(docs: DataFrame, benchFps: DataFrame,
      bloom: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val (clean, candidates) = bloomSplit(docs, bloom)
    clean.unionByName(
        candidates.join(broadcast(benchFps), Seq("fp"), "left_anti"))
      .drop("fp")
  }

  /** Near-dup tier of the decontamination gate, for `foreachBatch`: drop
    * batch documents that share a MinHash band signature with a benchmark
    * document AND verify at word-set Jaccard >= 0.6 — the same candidate
    * generation + verify as `dedup_minhash_lsh` /
    * `text_contamination_neardup`, so paraphrased/reformatted benchmark
    * text is caught, not just exact clones.
    *
    * `benchSigs` = `Dedup.bandedSigs(benchmark)` computed ONCE at job
    * start (and `cache()`d by the caller); benchmarks are MBs, so the
    * signature+token relation rides a broadcast and each micro-batch pays
    * one signature derivation plus an executor-local hash join.
    *
    * This runs inside `foreachBatch` on a BATCH DataFrame, so the reuse
    * barrier is legal and load-bearing: the derivation + the anti-join
    * read the batch three times, and without the barrier each read
    * re-parses the batch (tokenize is the dominant cost). The barrier
    * blocks are tracked — callers release them after writing the result
    * (`Barrier.releaseAll`), which is also what keeps a long-running
    * ingest stream's block manager flat.
    */
  def nearDupGateBatch(batch: DataFrame, benchSigs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    import graft.core.Barrier.BarrierOps
    val b = batch.barrier()
    val contaminated = graft.operators.Dedup.bandedSigs(b)
      .join(broadcast(benchSigs.select(col("band").as("b_band"),
          col("sig").as("b_sig"), col("toks").as("b_toks"))),
        col("band") === col("b_band") && col("sig") === col("b_sig"))
      .filter(graft.operators.Dedup.jaccard(col("toks"), col("b_toks"))
        >= 0.6)
      .select(col("doc_id")).distinct()
    b.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** 13-gram tier of the decontamination gate, for `foreachBatch`: drop
    * batch documents that share ANY n consecutive word tokens with a
    * benchmark document — the published n-gram-overlap decontamination
    * method as an ingest gate, between the exact-fp tier
    * ([[contaminationGateFps]], whole-doc clones only) and the MinHash
    * tier ([[nearDupGateBatch]], whole-doc paraphrases): it catches a
    * benchmark QUOTED INSIDE an otherwise-novel document, which neither
    * sibling flags. Batch twin: `text_contamination_ngram`.
    *
    * `benchGramFps` = [[benchmarkGramFps]] computed once at job start and
    * `cache()`d by the caller; benchmark suites are MBs at any corpus
    * size, so the gram-fp set rides a broadcast and each micro-batch pays
    * one narrow tokenize+gram pass over its own rows. The join key is the
    * 60-bit gram fingerprint (8 bytes); the batch's text never shuffles —
    * flagged ids come back through a broadcast LEFT ANTI on doc_id. The
    * reuse barrier is legal (batch DataFrame) and load-bearing: the gram
    * pass and the anti-join both read the batch, and tokenize dominates.
    */
  def ngramGateBatch(batch: DataFrame, benchGramFps: DataFrame,
      n: Int = 13): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    import graft.core.Barrier.BarrierOps
    val b = batch.barrier()
    val flagged = graft.operators.TextAnalysis.gramFps(b, n)
      .join(broadcast(benchGramFps), Seq("gfp"))
      .select(col("doc_id")).distinct()
    b.join(broadcast(flagged), Seq("doc_id"), "left_anti")
  }

  /** The benchmark's distinct n-gram fingerprint set — compute ONCE at
    * job start and `cache()` it (same lifecycle as [[benchmarkFps]]).
    * Any `doc_id` on the input is ignored; only text reaches the grams.
    */
  def benchmarkGramFps(benchmark: DataFrame, n: Int = 13): DataFrame =
    graft.operators.TextAnalysis.gramFps(
      benchmark.select(col("text"),
        org.apache.spark.sql.functions.lit(0L).as("doc_id")), n)
      .select("gfp").distinct()

  /** IVF ANN index maintenance — the per-micro-batch ingest of a
    * production vector index: assign each arriving vector to the FIXED
    * coarse centroids (one narrow broadcast-argmax pass, the same
    * audited shuffle-free shape as `sim_ivf_ann` — the corpus never
    * shuffles for assignment) and upsert the (vec_id, cluster,
    * embedding) rows into the bucketed keyed store. Replay-idempotent:
    * `Sinks.upsert` keyed by vec_id with seq = batchId rewrites the same
    * winners. Centroids stay fixed between retrains — the standard
    * coarse-quantizer operating mode (retrain = rebuild via
    * `Similarity.kmeansTrain`, ingest = assign-only), so every batch's
    * assignment agrees with what a full batch re-assignment would say.
    * A cluster-PRUNED serving layout (partition the store by cluster for
    * probe-side partition pruning) is a rebuild from this store; the
    * ingest store itself buckets by vec_id for idempotent merges.
    */
  def ivfIngestBatch(batch: DataFrame, cents: DataFrame, storeDir: String,
      batchId: Long): Unit = {
    val assigned = graft.operators.Similarity.assignTo(batch, cents)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("embedding"))
      .withColumn("__seq", lit(batchId))
    Sinks.upsert(batch.sparkSession, assigned, "vec_id", "__seq", storeDir)
  }

  /** Hash buckets of the near-dup signature store's `__bucket` partition
    * column — part of the on-disk layout, so fixed for a store's life. */
  private val SigBuckets = 16

  /** Streaming NEAR-DUP ingest dedup, for `foreachBatch` — the self-dedup
    * sibling of [[nearDupGateBatch]] (which gates against a fixed
    * benchmark): admit only documents that do not near-dup-match anything
    * ALREADY ADMITTED, across micro-batches, at MinHash+Jaccard fidelity.
    *
    * Per batch: derive band signatures once (barriered), drop docs that
    * match the signature STORE (everything admitted by PRIOR batches),
    * GREEDY keep-first within the batch (lower doc_id wins; a doc whose
    * only matches were themselves dropped is admitted —
    * `Dedup.greedyDroppedDocs` over the `Dedup.verifiedPairs` relation,
    * seeded with the store drops so a store-eliminated doc can't block an
    * in-batch sibling; both tiers therefore share one semantics: admit iff
    * no match against anything ADMITTED), then write the admitted docs'
    * signatures as this batch's contribution to the shared
    * [[BatchStore]] format. Idempotent under micro-batch replay by
    * construction: the contribution Overwrites its own `batchId`
    * directory and the read takes only contributions with STRICTLY
    * earlier ids (plus the live generations, which fold only ids below
    * the batch that compacted them), so a replayed batch neither
    * self-matches against its own failed attempt nor sees later batches.
    * The store partitions by hash(sig) bucket, which is part of the join
    * key. Exact-fp tier with watermark-bounded state: [[dedupIngest]];
    * this tier's state is the admitted signature set — the irreducible
    * cost of exact-horizon near-dup ingest.
    *
    * COMPACTION bounds the store's directory count over a long-lived
    * stream: once the prior batch directories exceed `compactThreshold`,
    * they are rewritten together with the previous generation into one
    * bucketed generation ([[BatchStore.compacting]]), so steady-state
    * listing is O(compactThreshold) directories and each batch reads one
    * compacted generation plus a bounded tail of recent batch dirs — not
    * one directory per batch since job start. Superseded inputs are NOT
    * deleted in the same batch: the returned `admitted` relation's
    * lineage (kept for fault recovery under the persist barrier mode)
    * still reaches their files until the caller's write completes, so
    * the compaction only tombstones each input and the NEXT batch — when
    * nothing can reference them any more — reaps them before reading.
    * Replay stays idempotent through a crash at ANY point: the new
    * generation is fully written BEFORE any tombstone, a replayed batch
    * that sees both reads duplicate signatures — harmless (drops feed a
    * distinct/anti-join) — and the fold dedupes on (doc_id, band), so a
    * half-finished predecessor never doubles the store.
    *
    * Returns the admitted subset of `batch`. Callers release barrier
    * blocks after writing (`Barrier.releaseAll`).
    */
  def nearDupIngestBatch(batch: DataFrame, storeDir: String, batchId: Long,
      compactThreshold: Int = 16,
      timer: (String, Double) => Unit = (_, _) => ()): DataFrame = {
    import graft.core.Barrier.BarrierOps
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      timer(name, (System.nanoTime() - t0) / 1e9)
      r
    }
    val spark = batch.sparkSession
    // the barriers are this function's EAGER points: timing each one
    // attributes the real work (the first executes the caller's whole
    // gate lineage; "probe" executes the store read + both drop joins)
    val b = phase("gates")(batch.barrier()) // read by sig pass AND anti-join
    val sigs = phase("sigs")(graft.operators.Dedup.bandedSigs(b).barrier())
    // prior batches' admitted signatures; an explicit data probe, not a
    // broad AnalysisException catch: a genuine read/schema failure must
    // fail the batch loudly — swallowing it would admit the whole batch
    // undeduped and let the compaction below destroy the store
    val store = BatchStore.compacting(spark, storeDir, batchId,
      Seq("doc_id", "band", "sig", "toks", "__bucket"))
    // vs-store matches: same (band, sig) + Jaccard verify. __bucket =
    // pmod(hash(sig)) is a partition column of the store and part of the
    // join key, so the scan is eligible for dynamic partition pruning and
    // at scale both sides arrive bucketed by the signature hash.
    val bucketOf = pmod(hash(col("sig")), lit(SigBuckets))
    val vsStore = store.prior.map { sn =>
      sigs.withColumn("__b", bucketOf)
        .join(sn.select(col("band").as("s_band"), col("sig").as("s_sig"),
            col("toks").as("s_toks"), col("__bucket").as("s_bucket")),
          col("band") === col("s_band") && col("sig") === col("s_sig") &&
            col("__b") === col("s_bucket"))
        .filter(graft.operators.Dedup.jaccard(col("toks"), col("s_toks"))
          >= 0.6)
        .select(col("doc_id"))
    }
    // in-batch GREEDY keep-first over the same verified pair relation as
    // the batch operator, seeded with the store drops: a doc dropped by
    // either tier never blocks a later in-batch doc (see Scaladoc)
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pairs = graft.operators.Dedup.verifiedPairs(sigs, nPart)
    val dropped = graft.operators.Dedup.greedyDroppedDocs(pairs, vsStore,
      timer = timer)
    val admitted = phase("probe")(
      b.join(dropped, Seq("doc_id"), "left_anti").barrier())
    // persist the admitted signatures as this batch's contribution,
    // partitioned by the signature-hash bucket the vs-store join keys on
    phase("sig_write")(BatchStore.write(
      sigs.join(admitted.select(col("doc_id")), "doc_id")
        .select(col("doc_id"), col("band"), col("sig"), col("toks"),
          bucketOf.as("__bucket")), storeDir, batchId, "__bucket"))
    // COMPACTION (see Scaladoc); the (doc_id, band) dedupe collapses the
    // duplicates a crash between generation write and tombstones leaves
    if (store.due(compactThreshold)) phase("compact") {
      store.compact(_.dropDuplicates("doc_id", "band"), "__bucket")
    }
    admitted
  }

  /** Streaming LINE-LEVEL dedup ingest, for `foreachBatch` — the
    * cross-batch tier of `text_line_dedup` (C4/RefinedWeb boilerplate
    * removal): a line seen in more than `maxDocs` DISTINCT documents so
    * far — across all prior batches plus this one — is chrome and is
    * stripped from this batch's documents before admission.
    *
    * State is a per-batch directory of (lfp, nd) line-count
    * contributions: doc_ids are globally unique across batches, so
    * distinct-doc counts ADD across directories and the cumulative count
    * is one sum-aggregate over the store — no per-key driver state, no
    * text in the store. The cumulative count reads only contributions of
    * STRICTLY earlier batches and this batch's own directory is
    * Overwrite-rewritten ([[BatchStore]]), so replay is idempotent, even
    * a late replay after later batches committed.
    *
    * Arrival-horizon contract (same class as [[asOfStream]]): a doc
    * admitted BEFORE its line crossed the threshold keeps that line —
    * append-mode ingest cannot retract — while every doc from the
    * crossing batch onward is stripped. A single batch containing all
    * occurrences reproduces the batch operator exactly (pinned in
    * StreamingSpec). Returns (doc_id, clean_fp, n_kept, n_dropped) rows,
    * the batch query's shape. Callers release barriers after writing.
    */
  def lineDedupIngestBatch(batch: DataFrame, storeDir: String,
      batchId: Long, maxDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.core.Barrier.BarrierOps
    val spark = batch.sparkSession
    val b = batch.barrier() // read by the line pass and the final join
    val lines = b
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
      .withColumn("lfp", md5(trim(col("line"))))
      .barrier() // read by the contribution agg and the reassembly
    val contrib = lines.groupBy(col("lfp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .barrier() // read by the cumulative sum and the store write
    val prior = BatchStore.readPrior(spark, storeDir, batchId,
      StructType(Seq(StructField("lfp", StringType),
        StructField("nd", LongType))))
    val total = contrib.unionByName(prior)
      .groupBy(col("lfp")).agg(sum(col("nd")).as("nd"))
    // hot lines are boilerplate — tiny by definition → broadcast anti
    val hot = total.filter(col("nd") > maxDocs).select(col("lfp"))
    BatchStore.write(contrib, storeDir, batchId)
    val cleaned = lines
      .join(org.apache.spark.sql.functions.broadcast(hot),
        Seq("lfp"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(md5(concat_ws("\n",
          expr("transform(array_sort(collect_list(struct(idx, line)))," +
            " p -> p.line)"))).as("clean_fp"),
        count(lit(1)).as("n_kept"))
    b.select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_fp"), md5(lit(""))).as("clean_fp"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Streaming PACK maintenance, for `foreachBatch` — the incremental
    * tier of both `corpus_pack_sequences` (the concatenate-and-slice pack
    * index) and `corpus_pack_tokens` (the training batches on disk), over
    * ONE tokenize pass and ONE shifted prefix-sum per admitted
    * micro-batch:
    *
    *   - the INDEX: the already-indexed corpus contributes exactly ONE
    *     number — its total token count — so the engine runs the
    *     distributed prefix-sum over the BATCH only and shifts it by that
    *     base. The base sums the 1-row (toks_total) `__meta`
    *     contributions — O(batches) rows, never the corpus. The shifted
    *     rows persist as this batch's contribution at the store root;
    *   - the PACKS: only the packs this batch completes materialize —
    *     O(batch) work regardless of corpus size — into `packs`, and the
    *     one incomplete trailing pack's (pack_id, pack_offset, piece) rows
    *     carry to the next batch under `__carry`, bounded by L tokens.
    *
    * Every read takes state of STRICTLY earlier batches ([[BatchStore]]),
    * and every write Overwrites this batch's own directories, so a replay
    * — even after later batches committed — reproduces exactly the index
    * rows and packs it wrote live. Ingest order = doc order by the
    * admission contract (arrival order = id order in the soak), under
    * which the union of the index contributions is row-identical to
    * batch `corpus_pack_sequences`, and the union of completed packs plus
    * the final carry to batch `materializePacks` over the same docs
    * (both pinned in StreamingSpec). Returns (index, completed packs).
    */
  def packIngestBatch(batch: DataFrame, storeDir: String,
      batchId: Long, L: Long = 512L): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    import graft.core.Barrier.BarrierOps
    val spark = batch.sparkSession
    val toks = batch
      .select(col("doc_id"),
        graft.functions.Text.bpeishTokens(col("text")).as("toklist"))
      .withColumn("toks", size(col("toklist")).cast("long"))
      .filter(col("toks") > 0L)
      .barrier() // read by the index, the slice join, the meta write
    val counts = toks.select(col("doc_id"), col("toks"))
    val meta = counts.agg(coalesce(sum(col("toks")), lit(0L)).as("toks_total"))
    // ONE action for both scalars: the prior corpus total (an O(batches)
    // relation) beside the batch total, a 1-row cross join fetched to the
    // driver — bounded by design, like Sinks' touched-bucket lists
    val totals = BatchStore.readPrior(spark, s"$storeDir/__meta", batchId,
        StructType(Seq(StructField("toks_total", LongType))))
      .agg(coalesce(sum(col("toks_total")), lit(0L)).as("base"))
      .crossJoin(meta).first()
    val base = totals.getLong(0)
    val batchToks = totals.getLong(1)
    // the batch's own prefix-sum shifted by the global base: no plan node
    // ever touches the already-indexed corpus
    val shifted = graft.operators.TextAnalysis.packIndexFromCounts(counts, L)
      .withColumn("start_tok", col("start_tok") + lit(base))
      .withColumn("cum", col("start_tok") + col("toks"))
      .select(col("doc_id"), col("toks"), col("start_tok"),
        expr(s"start_tok div $L").as("pack_first"),
        expr(s"(cum - 1) div $L").as("pack_last"),
        expr(s"start_tok % $L").as("offset_in_pack"))
      .barrier() // read by the span derivation AND the index write
    BatchStore.write(shifted, storeDir, batchId)
    val spans = graft.operators.TextAnalysis.packSpansFrom(shifted, L)
    val pieces = graft.operators.TextAnalysis
      .packPieces(toks.select(col("doc_id"), col("toklist")), spans)
    // carry is REPLACEMENT state, not a summed contribution: the LATEST
    // prior carry wins even when it is empty (a batch that ended exactly
    // on a pack boundary wrote an empty carry, which must SHADOW older
    // non-empty carries — falling back to one would re-inject
    // already-packed pieces)
    val carried = BatchStore.latestPrior(spark, s"$storeDir/__carry", batchId)
      .map(pieces.unionByName(_)).getOrElse(pieces)
    val all = carried.barrier() // read by the full split AND the carry
    // packs strictly below the post-batch boundary are COMPLETE (exactly
    // L tokens); the boundary pack (if any tokens) is the next carry
    val boundary = (base + batchToks) / L
    val full = graft.operators.TextAnalysis
      .assemblePacks(all.filter(col("pack_id") < boundary))
    BatchStore.write(meta, s"$storeDir/__meta", batchId)
    BatchStore.write(full, s"$storeDir/packs", batchId)
    BatchStore.write(all.filter(col("pack_id") >= boundary),
      s"$storeDir/__carry", batchId)
    (shifted, full)
  }

  /** Streaming BM25 INDEX MAINTENANCE, for `foreachBatch` — the
    * incremental tier of `text_bm25_topk`: each micro-batch of arriving
    * documents appends its OWN posting contribution (doc_id, dl, tok, tf)
    * plus two additive rollups — per-term df deltas and a 1-row
    * (n_docs, t_tokens) stats delta — O(batch) work regardless of index
    * size, never touching already-indexed postings. Doc ids are
    * append-only across batches (the admission contract every store in
    * this file shares), so summing per-batch df/stats contributions
    * equals the batch recompute exactly; Overwrite per `__batch=N` dir
    * makes replay after a failed commit idempotent. Returns the batch's
    * posting contribution.
    */
  def bm25IngestBatch(batch: DataFrame, storeDir: String,
      batchId: Long): DataFrame = {
    import graft.core.Barrier.BarrierOps
    val toks = batch
      .select(col("doc_id"),
        graft.functions.Text.tokenize(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
      .barrier() // read by the posting explode AND the stats rollup
    val tf = toks
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .barrier() // read by the posting write AND the df rollup
    BatchStore.write(tf, s"$storeDir/postings", batchId)
    // tf rows are distinct (doc, tok) pairs → count = this batch's df
    BatchStore.write(
      tf.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("df")),
      s"$storeDir/__df", batchId)
    BatchStore.write(toks.agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(col("dl").cast("long")), lit(0L)).as("t_tokens")),
      s"$storeDir/__meta", batchId)
    tf
  }

  /** Query the maintained BM25 index: per-term posting lists come off the
    * store FILTERED to the query terms (the pushed-down posting-list
    * read — candidates only, never the index), df and corpus stats are
    * sums of the per-batch contributions, and the scoring tail is the
    * SAME exact-integer `TextAnalysis.bm25TopK` the batch query runs —
    * after any ingest sequence over a corpus, results are row-identical
    * to `text_bm25_topk` on that corpus (pinned in StreamingSpec).
    * Schema-pinned reads: an empty batch's dir holds a zero-row part
    * file, but pinning keeps an all-empty store a clean no-result rather
    * than an inference error.
    */
  def bm25SearchFrom(spark: SparkSession, storeDir: String,
      terms: Seq[String], k: Int = 20): DataFrame = {
    import org.apache.spark.sql.types._
    val postSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("dl", IntegerType), StructField("tok", StringType),
      StructField("tf", LongType)))
    val dfSchema = StructType(Seq(StructField("tok", StringType),
      StructField("df", LongType)))
    val metaSchema = StructType(Seq(StructField("n_docs", LongType),
      StructField("t_tokens", LongType)))
    val post = BatchStore.readAll(spark, s"$storeDir/postings", postSchema)
      .filter(col("tok").isin(terms: _*))
    val dfr = BatchStore.readAll(spark, s"$storeDir/__df", dfSchema)
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
    val stats = BatchStore.readAll(spark, s"$storeDir/__meta", metaSchema)
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("t_tokens")), lit(0L)).as("t_tokens"))
    graft.operators.TextAnalysis.bm25TopK(post, dfr, stats, k)
  }

  /** Streaming CMS MAINTENANCE — the `text_heavy_hitters_cms` twin of
    * [[bm25IngestBatch]]: each micro-batch writes its OWN 4×256-cell
    * sketch contribution plus its exact per-fp count contribution under
    * the per-`__batch=N` Overwrite discipline. A CMS is mergeable by
    * plain cell-wise addition (so is the exact twin: counts sum,
    * min(token) is min-mergeable), so summing contributions equals the
    * whole-corpus sketch exactly — O(batch) work per trigger, bounded
    * contribution size (≤1024 cells + the batch's vocabulary), replay
    * after a failed commit rewrites the same dirs.
    */
  def cmsIngestBatch(batch: DataFrame, storeDir: String,
      batchId: Long): Unit = {
    import graft.core.Barrier.BarrierOps
    val toks = batch
      .select(explode(graft.functions.Text.bpeishTokens(col("text")))
        .as("tok"))
      .barrier() // read by the cell sketch AND the exact-count twin
    BatchStore.write(graft.operators.TextAnalysis.cmsCellsOf(toks),
      s"$storeDir/__cells", batchId)
    BatchStore.write(graft.operators.TextAnalysis.cmsExactOf(toks),
      s"$storeDir/__counts", batchId)
  }

  /** Heavy-hitter report off the maintained CMS store: cells and exact
    * counts are sums of the per-batch contributions, and the report
    * tail is the SAME `TextAnalysis.cmsReport` the batch query runs —
    * after any ingest sequence over a corpus, the result is
    * row-identical to `text_heavy_hitters_cms` on that corpus (pinned
    * in StreamingSpec, incl. replay).
    */
  def cmsHeavyHittersFrom(spark: SparkSession,
      storeDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val cellSchema = StructType(Seq(StructField("j", IntegerType),
      StructField("b", LongType), StructField("c", LongType)))
    val cntSchema = StructType(Seq(StructField("fp", LongType),
      StructField("exact_count", LongType),
      StructField("token", StringType)))
    val cells = BatchStore.readAll(spark, s"$storeDir/__cells", cellSchema)
      .groupBy(col("j"), col("b")).agg(sum(col("c")).as("c"))
    val exact = BatchStore.readAll(spark, s"$storeDir/__counts", cntSchema)
      .groupBy(col("fp")).agg(sum(col("exact_count")).as("exact_count"),
        min(col("token")).as("token"))
    graft.operators.TextAnalysis.cmsReport(cells, exact)
  }

  /** Streaming n-gram FIRST-SEEN maintenance — the freshness analog of
    * the additive-index tiers: each micro-batch contributes its OWN
    * distinct (doc_id, gfp) 8-gram rows (the exact `docGramsOf` device
    * the batch query shingles with) under the per-`__batch=N` Overwrite
    * discipline — O(batch) work regardless of store size, replay after
    * a failed commit rewrites the same dir. First-seen is min(doc_id),
    * a MERGEABLE statistic over the union of contributions, so the
    * report read equals the corpus recompute exactly.
    */
  def noveltyIngestBatch(batch: DataFrame, storeDir: String,
      batchId: Long): Unit =
    BatchStore.write(graft.operators.TextAnalysis.docGramsOf(batch),
      s"$storeDir/grams", batchId)

  /** Streaming KMV (bottom-k) sketch maintenance — the tier that shows
    * WHY a 100 TB overlap report is a sketch problem: each micro-batch
    * contributes only its OWN per-source bottom-k gram hashes (≤ k rows
    * per source per batch — the store grows with batches·sources·k, not
    * with the corpus) under the per-`__batch=N` Overwrite discipline.
    * Bottom-k is MERGEABLE (bottom-k of a union ⊆ union of bottom-ks),
    * so re-ranking the unioned contributions reproduces the corpus
    * sketch EXACTLY — the estimate columns equal the batch query's
    * bit-for-bit (pinned in StreamingSpec, incl. replay).
    */
  def kmvIngestBatch(batch: DataFrame, storeDir: String,
      batchId: Long): Unit = {
    val items = graft.operators.TextAnalysis.docGramsOf(
      batch.select(col("doc_id"), col("text")))
      .join(batch.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("gfp")).distinct()
    BatchStore.write(graft.operators.Dedup.kmvSketchOf(items),
      s"$storeDir/sk", batchId)
  }

  /** Overlap estimates off the maintained sketch store: distinct-union
    * the per-batch bottom-k contributions (the same gram can ride in on
    * many batches), re-rank to the corpus bottom-k, and run the SAME
    * `Dedup.kmvEstimatesOf` tail as the batch query — the exact twins
    * are deliberately absent (keeping them would mean keeping the full
    * gram relation, the thing the sketch exists to avoid).
    */
  def kmvEstimatesFrom(spark: SparkSession,
      storeDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val merged = BatchStore.readAll(spark, s"$storeDir/sk", StructType(Seq(
      StructField("source", StringType), StructField("gfp", LongType))))
      .distinct()
    graft.operators.Dedup.kmvEstimatesOf(
      graft.operators.Dedup.kmvSketchOf(merged),
      merged.select(col("source")).distinct())
  }

  /** Streaming content-defined-chunk store maintenance — the
    * chunk-granularity dedup member of the additive tiers: each
    * micro-batch contributes its OWN per-(source, chunk-fp) occurrence
    * rollup (the exact `Dedup.cdcPerFp` relation the batch query rolls
    * up — same native cdc_chunks walk, same cut rule) under the
    * per-`__batch=N` Overwrite discipline. n_occ is ADDITIVE across any
    * batching of the corpus and nchars is fp-determined, so summing the
    * merged contributions reproduces the corpus per-fp relation exactly
    * — the report read equals `dedup_cdc_chunks` bit-for-bit (pinned in
    * StreamingSpec, incl. replay). Store growth is distinct-chunk-
    * bounded per batch, not corpus-bounded: a boilerplate-heavy batch
    * contributes one row per distinct chunk however often it repeats.
    */
  def cdcIngestBatch(batch: DataFrame, storeDir: String,
      batchId: Long): Unit =
    BatchStore.write(graft.operators.Dedup.cdcPerFp(
      batch.select(col("source"), col("text"))), s"$storeDir/ch", batchId)

  /** The chunk-reuse report off the maintained store: sum the per-batch
    * (source, fp) contributions back to corpus counts, then run the
    * SAME `Dedup.cdcReportOf` tail as the batch query. */
  def cdcReportFrom(spark: SparkSession, storeDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val merged = BatchStore.readAll(spark, s"$storeDir/ch", StructType(Seq(
      StructField("source", StringType), StructField("fp", StringType),
      StructField("n_occ", LongType), StructField("nchars", IntegerType))))
      .groupBy(col("source"), col("fp"))
      .agg(sum(col("n_occ")).as("n_occ"), first(col("nchars")).as("nchars"))
    graft.operators.Dedup.cdcReportOf(merged)
  }

  /** Streaming F2 (AMS tug-of-war) maintenance — the purest mergeable
    * summary in the repo: each micro-batch contributes ONE 17-integer
    * row (its own occurrence count + 16 sign counters) under the
    * per-`__batch=N` Overwrite discipline. Every column is an additive
    * sum over occurrences, and batches partition the occurrence stream,
    * so summing the per-batch rows reproduces the corpus counter row
    * EXACTLY — the estimate equals the batch query's bit-for-bit
    * (pinned in StreamingSpec, incl. replay). State per batch: 136
    * bytes of longs. This is what "sketch the join-size online" means.
    */
  def f2IngestBatch(batch: DataFrame, storeDir: String,
      batchId: Long): Unit =
    BatchStore.write(graft.operators.TextAnalysis.f2Counters(
      batch.select(explode(graft.functions.Text.tokenize(col("text")))
        .as("tok"))), s"$storeDir/x", batchId)

  /** F2 estimate off the maintained counter store: column-wise sums of
    * the per-batch contributions, then the SAME estimator fold as the
    * batch query. The exact twin is deliberately absent — keeping it
    * would mean keeping the vocabulary, the thing the sketch avoids.
    */
  def f2MomentFrom(spark: SparkSession, storeDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(StructField("n_occurrences", LongType) +:
      (0 until 16).map(j => StructField(s"x$j", LongType)))
    val merged = BatchStore.readAll(spark, s"$storeDir/x", schema)
      .agg(sum(col("n_occurrences")).as("n_occurrences"),
        (0 until 16).map(j => sum(col(s"x$j")).as(s"x$j")): _*)
    graft.operators.TextAnalysis.f2EstimateOf(merged)
      // an empty store sums to NULL counters; report no rows, not NULLs
      .filter(col("n_occurrences").isNotNull)
  }

  /** Novelty report off the maintained gram store: batches partition
    * the corpus by doc, so the union of per-batch distinct rows IS the
    * corpus's distinct (doc_id, gfp) relation, and the report tail is
    * the SAME `TextAnalysis.noveltyReport` the batch query runs — after
    * any ingest sequence over a corpus, the result is row-identical to
    * `corpus_ngram_novelty` on that corpus (pinned in StreamingSpec,
    * incl. replay).
    */
  def noveltyReportFrom(spark: SparkSession,
      storeDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    graft.operators.TextAnalysis.noveltyReport(
      BatchStore.readAll(spark, s"$storeDir/grams", StructType(Seq(
        StructField("doc_id", LongType),
        StructField("gfp", LongType)))))
  }

  /** Streaming IVF INDEX MAINTENANCE — the FAISS train-then-add contract
    * as the `sim_ivf_ann` twin of [[bm25IngestBatch]]: the coarse
    * quantizer is the centroid prefix (vec_id < C, the exact set the
    * batch query uses), which must be COMPLETE in the store before any
    * add (require'd loudly — the deployment reality: quantizers are
    * trained/frozen before serving); each micro-batch then assigns its
    * OWN vectors against the frozen quantizer (the same shuffle-free
    * 1-row-broadcast argmax plan as the batch query) and appends its
    * inverted-list contribution under the per-`__batch=N` Overwrite
    * discipline — O(batch) work regardless of index size, replay after a
    * failed commit rewrites the same dir. Returns the batch's list
    * contribution.
    */
  def ivfIngestBatch(batch: DataFrame, storeDir: String, batchId: Long,
      c: Int = 16): DataFrame = {
    val spark = batch.sparkSession
    BatchStore.write(batch.filter(col("vec_id") < c)
      .select(col("vec_id"), col("embedding")),
      s"$storeDir/__cents", batchId)
    val cents = ivfCentsFrom(spark, storeDir)
    val nCents = cents.count()
    require(nCents == c,
      s"IVF adds need the full $c-centroid quantizer in the store " +
        s"(have $nCents) — train-then-add: the centroid prefix must " +
        "arrive with the first batch")
    val assigned = graft.operators.Similarity.assignTo(
      batch.select(col("vec_id"), col("embedding")),
      cents.select(col("vec_id").cast("int").as("cid"),
        col("embedding").as("cv")))
    BatchStore.write(assigned, s"$storeDir/lists", batchId)
    assigned
  }

  /** Streaming kNN-GRAPH maintenance — the graph-ANN family's ingest
    * story (the IVF tier's sibling). Per micro-batch:
    *
    *   1. sign the arriving vectors at the index's fixed LSH width
    *      (`bits` is an index-creation constant, like the IVF tier's
    *      frozen quantizer — the batch twin derives the same value from
    *      the final corpus count) and append (vec_id, sig) + the raw
    *      vectors under the per-`__batch=N` Overwrite discipline;
    *   2. probe ONLY the buckets the batch touches: new signatures join
    *      the signature store (which now includes this batch), so
    *      candidate work is O(batch × bucket occupancy) regardless of
    *      index size — a pair (a, b) is discovered exactly once, by the
    *      batch of its later-arriving member;
    *   3. re-rank ONLY touched vertices' top-K lists: the scored new
    *      pairs merge into a [[Sinks]]-bucketed list store via
    *      `mergeTouchedKeyed` — top-K of (stored top-K ∪ new candidates)
    *      equals top-K over all candidates ever seen (the standard
    *      streaming top-K merge), so lists are always exactly the batch
    *      `knnGraph` ranking over the ingested corpus. Untouched
    *      vertices cannot have new candidates (a new pair touches both
    *      endpoints), so skipping them loses nothing.
    *
    * Replay of a failed batch rewrites the same `__batch=N` dirs, and
    * the list merge dedups on (vec_id, neighbor_id) before ranking, so
    * a replayed pair never double-occupies K slots — idempotent end to
    * end (StreamingSpec pins edge parity + replay + serve parity).
    */
  def graphIngestBatch(batch: DataFrame, storeDir: String, batchId: Long,
      bits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val vecs = batch.select(col("vec_id"), col("embedding"))
    BatchStore.write(vecs, s"$storeDir/vecs", batchId)
    val sigs = graft.functions.Vectors
      .lshSignaturesAgg(vecs, "vec_id", "embedding", bits, 4)
      .select(col("vec_id"), explode(col("sigs")).as("sig"))
    BatchStore.write(sigs, s"$storeDir/sigs", batchId)
    val storeSigs =
      BatchStore.readAll(spark, s"$storeDir/sigs", graphSigSchema)
    val storeVecs = graphVecsFrom(spark, storeDir)
    val newPairs = sigs.select(col("sig"), col("vec_id").as("va"))
      .join(storeSigs.select(col("sig"), col("vec_id").as("vb")), "sig")
      .filter(col("va") =!= col("vb"))
      .select(col("va"), col("vb")).distinct()
    // both orientations, exactly as the batch candidate relation carries
    // them (knnCandidatesOf joins a×b over the full relation)
    val sym = newPairs
      .unionByName(newPairs.select(col("vb").as("va"), col("va").as("vb")))
      .distinct()
    val scored = sym
      .join(storeVecs.select(col("vec_id").as("va"),
        col("embedding").as("ea")), "va")
      .join(storeVecs.select(col("vec_id").as("vb"),
        col("embedding").as("eb")), "vb")
      .select(col("va").as("vec_id"), col("vb").as("neighbor_id"),
        Natives.cosineSim(col("ea"), col("eb")).as("sim"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    // keyed merge (r16): the step-3 doc above promises "re-rank ONLY
    // touched vertices" at KEY granularity — untouched vertices that
    // share a bucket with a touched one are not re-ranked. That holds
    // because this closure, like those of all seven ingest-tier merges,
    // is a per-key dropDuplicates/rank whose stored rows are already
    // their own merged state.
    Sinks.mergeTouchedKeyed(spark, scored, "vec_id",
      s"$storeDir/topk") { unioned =>
      unioned.dropDuplicates("vec_id", "neighbor_id")
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= graft.operators.Similarity.knnK)
        .drop("__rk")
    }
    scored
  }

  private val graphSigSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("vec_id", LongType),
      StructField("sig", StringType)))
  }

  private def graphVecsFrom(spark: SparkSession,
      storeDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    BatchStore.readAll(spark, s"$storeDir/vecs", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
  }

  /** Serve the maintained graph: the stored top-K lists ARE the batch
    * `knnGraph` relation over the ingested corpus, so the walk is the
    * SAME `Similarity.beamSearchOver` tail as `sim_graph_search` (sim ≥
    * 0.3 edge pruning included) — after any ingest sequence over a
    * corpus, results are row-identical to the batch walk on it.
    */
  def graphSearchFrom(spark: SparkSession, storeDir: String,
      width: Int = 8): DataFrame = {
    val ke = Sinks.readStore(spark, s"$storeDir/topk")
      .filter(col("sim") >= 0.3)
    graft.operators.Similarity.beamSearchOver(
      graphVecsFrom(spark, storeDir), ke, width)
  }

  /** The maintained kNN-edge lists (vec_id, neighbor_id, sim) — exposed
    * for the parity pin against the batch `knnGraph`. */
  def graphEdgesFrom(spark: SparkSession, storeDir: String): DataFrame =
    Sinks.readStore(spark, s"$storeDir/topk")

  private val simhashDocsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType),
      StructField("sig", LongType)))
  }

  /** Streaming maintenance tier for the SimHash banded pair store — the
    * incremental twin of batch `dedup_simhash_pairs` (Manku et al.
    * WWW'07 crawl dedup, which is inherently incremental in production;
    * ref shape: the config-broadcast incremental routing of
    * DwdBaseDb.java:100-145 scaled to a pair store). Per micro-batch of
    * (doc_id, text):
    *
    *   1. one native `simhash60` walk per row (the batch query's exact
    *      signature — null text = all-ones, same coalesce);
    *   2. upsert two bucketed [[Sinks]] stores with SET-semantics merges
    *      (replay = no-op): `docs` keyed by sig (sig → doc roster) and
    *      `roster` keyed by bkey = band·2^15 + val15 (the (band, val15)
    *      → DISTINCT-sig roster — candidates stay bounded by distinct
    *      content whatever the clone multiplicity, the batch query's
    *      clone-invariance carried into the stream);
    *   3. emit only pairs involving TOUCHED buckets: the batch's
    *      distinct sigs probe the touched roster buckets (4 bands ×
    *      15 bits — Hamming ≤ 3 leaves one band intact, recall 1 by the
    *      batch pigeonhole), survivors expand through the touched doc
    *      buckets only — batch docs on the probe side, ALL stored docs
    *      on the partner side, so a pair is emitted by its
    *      later-arriving member's batch and store IO stays O(touched)
    *      per batch, never O(corpus).
    *
    * The union of emitted pairs over any hash-split ingest order equals
    * the batch `dedup_simhash_pairs` relation over the same corpus
    * (StreamingSpec pins parity + replay); an in-order replayed batch
    * re-emits exactly its own pairs.
    */
  def simhashIngestBatch(batch: DataFrame, storeDir: String): DataFrame = {
    import graft.core.Barrier.BarrierOps
    val spark = batch.sparkSession
    val allOnes = (1L << 60) - 1
    val sigs = batch
      .select(col("doc_id"),
        coalesce(Natives.simhash60(col("text")), lit(allOnes)).as("sig"))
      .barrier() // docs upsert, roster build, probe side, expansion
    Sinks.mergeTouchedKeyed(spark, sigs, "sig", s"$storeDir/docs")(
      _.dropDuplicates("sig", "doc_id"))
    val banded = sigs.select(col("sig")).distinct()
      .select(col("sig"), posexplode(array((0 until 4).map(b =>
        expr(s"shiftright(sig, ${15 * b}) & 32767")): _*)))
      .select(col("sig"),
        (col("pos").cast("long") * 32768L + col("col")).as("bkey"))
      .barrier() // roster upsert AND the candidate probe
    Sinks.mergeTouchedKeyed(spark, banded, "bkey", s"$storeDir/roster")(
      _.dropDuplicates("bkey", "sig"))
    // post-merge, the touched buckets hold every distinct sig ever seen
    // there — the probe never reads an untouched bucket. An EMPTY
    // micro-batch (idle trigger, recovery replay, an empty hash slice)
    // merges nothing, so no bucket may exist yet: emit 0 pairs, don't
    // throw (review r13 finding #1)
    val rosterSchema = {
      import org.apache.spark.sql.types._
      StructType(Seq(StructField("bkey", LongType),
        StructField("sig", LongType)))
    }
    val roster = Sinks.readTouchedFor(spark, banded.select("bkey"), "bkey",
      s"$storeDir/roster").getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rosterSchema))
    val candSig = banded.select(col("bkey"), col("sig").as("sig_a"))
      .join(roster.select(col("bkey"), col("sig").as("sig_b")), "bkey")
      .filter(col("sig_a") =!= col("sig_b"))
      .select(col("sig_a"), col("sig_b")).distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)").cast("long"))
      .filter(col("hamming") <= 3)
      .barrier() // partner-bucket discovery AND the expansion join
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      simhashDocsSchema)
    val partnerDocs = Sinks.readTouchedFor(spark,
      candSig.select(col("sig_b").as("sig")), "sig", s"$storeDir/docs")
      .getOrElse(empty)
    val crossSig = candSig
      .join(sigs.select(col("sig").as("sig_a"), col("doc_id").as("da")),
        "sig_a")
      .join(partnerDocs.select(col("sig").as("sig_b"),
        col("doc_id").as("db")), "sig_b")
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
      .distinct()
    val sameDocs = Sinks.readTouchedFor(spark, sigs.select("sig"), "sig",
      s"$storeDir/docs").getOrElse(empty)
    val sameSig = sigs.select(col("sig"), col("doc_id").as("da"))
      .join(sameDocs.select(col("sig"), col("doc_id").as("db")), "sig")
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), lit(0L).as("hamming"))
      .distinct()
    sameSig.unionByName(crossSig)
  }

  private def containmentEmpty(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private val contRosterSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("bkey", StringType),
      StructField("fp", StringType)))
  }
  private val contSetsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("fp", StringType),
      StructField("grams", ArrayType(StringType)),
      StructField("n", LongType)))
  }
  private val contDocsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("fp", StringType),
      StructField("doc_id", LongType)))
  }
  private val contReachSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("owner", StringType),
      StructField("partner", StringType),
      StructField("owner_is_a", BooleanType),
      StructField("n_a", LongType), StructField("n_b", LongType),
      StructField("inter", LongType),
      StructField("pass", BooleanType)))
  }

  /** Streaming maintenance tier for the COMPOSED containment default —
    * the incremental twin of batch `dedup_containment` (VERDICT r13 #3:
    * the one banded family without an ingest tier; same reference shape
    * as [[simhashIngestBatch]] — the config-broadcast incremental
    * routing of DwdBaseDb.java:100-145 scaled to a pair store). Per
    * micro-batch of (doc_id, text):
    *
    *   1. the batch plan's exact per-doc gram-set arithmetic (normalize
    *      → sorted 5-gram shingles → md5 set fingerprint) — sets keyed
    *      by CONTENT fp, not by min-doc_id set_id, because a min can
    *      arrive late in a stream while the fp never moves;
    *   2. SET-semantics upserts into four bucketed [[Sinks]] stores:
    *      `sets` (fp → sorted gram array + n), `docs` (fp → doc
    *      roster), `roster` (MinHash band bucket → DISTINCT set fps —
    *      clone-invariant exactly like the batch candidate stage), and
    *      `reach` (VERIFIED directed set pairs, both orientations, so
    *      later docs of either side can expand without re-verifying);
    *   3. emission A — set pairs whose band buckets FIRST connect in
    *      this batch (batch band entries probe touched roster buckets,
    *      anti-joined against already-verified pairs) run the exact
    *      verify tail (n ≥ 8, 5·n_b ≥ 4·n_a, sorted_intersect ≥ 4/5·n_a
    *      — predicates verbatim from the batch composed plan) and
    *      expand over BOTH sides' full doc rosters;
    *   4. emission B — batch docs whose set already sits in verified
    *      pairs (pre-batch `reach`, read before this batch's merge)
    *      emit only (new doc × partner roster) rows in the stored
    *      direction(s).
    *
    * A + B are disjoint by construction (new vs pre-existing pairs), so
    * a doc pair is emitted exactly once per hash-split ingest order;
    * an in-order replayed batch re-emits a subset of its own rows
    * (set-level idempotent, the [[simhashIngestBatch]] stance). Union
    * of emissions over any split == the batch `dedup_containment`
    * relation on the same corpus (StreamingSpec pins parity + replay +
    * empty batch). Store IO is O(touched buckets) per batch.
    *
    * FAILED pairs are stored too (`pass = false`): a band-reachable
    * pair that fails verify can never pass later (n and grams are
    * immutable), but a HOT bucket would otherwise rediscover and
    * re-verify its failing pairs on every touching batch — at crawl
    * scale that is an unbounded stream of repeated sorted-intersect
    * walks. One failed row per directed pair caps it at one verify
    * ever; the anti-join skips any KNOWN pair, emissions filter
    * `pass`. Store growth is bounded by the banded candidate relation
    * — exactly the batch composed plan's candidate volume.
    */
  def containmentIngestBatch(batch: DataFrame, storeDir: String): DataFrame = {
    import graft.core.Barrier.BarrierOps
    val spark = batch.sparkSession
    // 1. the batch gramSetRels arithmetic, per batch row
    val d = batch
      .select(col("doc_id"),
        graft.functions.Text.normalize(col("text")).as("norm"))
      .select(col("doc_id"),
        array_sort(graft.functions.Text.charShingles(col("norm"), 5))
          .as("grams"))
      .withColumn("fp", md5(concat_ws("\u0001", col("grams"))))
      .withColumn("n", size(col("grams")).cast("long"))
      .barrier() // three store merges + band join + emission B anchor
    Sinks.mergeTouchedKeyed(spark, d.select(col("fp"), col("grams"), col("n")),
      "fp", s"$storeDir/sets")(_.dropDuplicates("fp"))
    Sinks.mergeTouchedKeyed(spark, d.select(col("fp"), col("doc_id")),
      "fp", s"$storeDir/docs")(_.dropDuplicates("fp", "doc_id"))
    // band entries at the SET level: a doc contributes its own text's
    // MinHash band buckets under its set's fp — the union over docs is
    // exactly the batch plan's doc-level banding lifted through setDocs
    val bands = graft.operators.Dedup.thinSigs(batch)
      .join(d.select(col("doc_id"), col("fp")), "doc_id")
      .select(concat(col("band").cast("string"), lit(":"), col("sig"))
        .as("bkey"), col("fp"))
      .distinct().barrier() // roster merge AND the candidate probe
    Sinks.mergeTouchedKeyed(spark, bands, "bkey", s"$storeDir/roster")(
      _.dropDuplicates("bkey", "fp"))
    // 3. candidates: batch buckets post-merge hold every fp ever seen
    // there (same-batch partners included)
    val roster = Sinks.readTouchedFor(spark, bands.select("bkey"), "bkey",
      s"$storeDir/roster").getOrElse(containmentEmpty(spark, contRosterSchema))
    val cand0 = bands.select(col("bkey"), col("fp").as("fa"))
      .join(roster.select(col("bkey"), col("fp").as("fb")), "bkey")
      .filter(col("fa") =!= col("fb"))
      .select(col("fa"), col("fb")).distinct()
    // directed lift, exactly the batch composed plan's
    val cand = cand0.unionByName(
        cand0.select(col("fb").as("fa"), col("fa").as("fb")))
      .distinct().barrier() // anti-join AND the verify joins
    // pre-batch verified pairs (reach merge happens LAST; every reader
    // below is barriered/eager, so laziness cannot see the post state)
    val oldForCands = Sinks.readTouchedFor(spark,
      cand.select(col("fa").as("owner")), "owner", s"$storeDir/reach")
      .getOrElse(containmentEmpty(spark, contReachSchema))
    val newCand = cand.join(
      oldForCands.filter(col("owner_is_a"))
        .select(col("owner").as("fa"), col("partner").as("fb")),
      Seq("fa", "fb"), "left_anti")
    val setKeys = newCand.select(col("fa").as("fp"))
      .unionByName(newCand.select(col("fb").as("fp"))).distinct()
    val setsRel = Sinks.readTouchedFor(spark, setKeys, "fp",
      s"$storeDir/sets").getOrElse(containmentEmpty(spark, contSetsSchema))
      .filter(col("n") >= 8)
    val verified = newCand
      .join(setsRel.select(col("fp").as("fa"), col("grams").as("g_a"),
        col("n").as("n_a")), "fa")
      .join(setsRel.select(col("fp").as("fb"), col("grams").as("g_b"),
        col("n").as("n_b")), "fb")
      .filter(col("n_b") * 5 >= col("n_a") * 4)
      .withColumn("inter",
        Natives.sortedIntersectCount(col("g_a"), col("g_b")).cast("long"))
      .filter(col("inter") * 5 >= col("n_a") * 4)
      .select(col("fa"), col("fb"), col("n_a"), col("n_b"), col("inter"))
      .barrier() // emission A expansion AND the reach merge rows
    // emission A: newly verified pairs × both full rosters (post-merge
    // docs store, so same-batch members are covered here, not by B)
    val expDocs = Sinks.readTouchedFor(spark,
      verified.select(col("fa").as("fp"))
        .unionByName(verified.select(col("fb").as("fp"))),
      "fp", s"$storeDir/docs")
      .getOrElse(containmentEmpty(spark, contDocsSchema))
      .barrier() // joined twice
    val emitA = verified
      .join(expDocs.select(col("fp").as("fa"), col("doc_id").as("doc_a")),
        "fa")
      .join(expDocs.select(col("fp").as("fb"), col("doc_id").as("doc_b")),
        "fb")
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("inter"))
    // emission B: batch docs joining pairs verified in EARLIER batches
    val batchReach = Sinks.readTouchedFor(spark,
      d.select(col("fp").as("owner")), "owner", s"$storeDir/reach")
      .getOrElse(containmentEmpty(spark, contReachSchema))
      .barrier() // materialized pre-merge; read by both orientations
    val partnerDocs = Sinks.readTouchedFor(spark,
      batchReach.select(col("partner").as("fp")), "fp", s"$storeDir/docs")
      .getOrElse(containmentEmpty(spark, contDocsSchema))
      .barrier() // read by both orientations
    val bd = d.select(col("fp").as("bfp"), col("doc_id").as("bdoc"))
    val emitBa = batchReach.filter(col("owner_is_a") && col("pass"))
      .join(bd, col("owner") === col("bfp"))
      .join(partnerDocs.select(col("fp").as("partner"),
        col("doc_id").as("doc_b")), "partner")
      .select(col("bdoc").as("doc_a"), col("doc_b"), col("n_a"),
        col("n_b"), col("inter"))
    val emitBb = batchReach.filter(!col("owner_is_a") && col("pass"))
      .join(bd, col("owner") === col("bfp"))
      .join(partnerDocs.select(col("fp").as("partner"),
        col("doc_id").as("doc_a")), "partner")
      .select(col("doc_a"), col("bdoc").as("doc_b"), col("n_a"),
        col("n_b"), col("inter"))
    // distinct: two batch docs on opposite sides of one OLD pair probe
    // it from both anchors with identical rows (the crossSig idiom)
    val emitted = emitA.unionByName(emitBa).unionByName(emitBb)
      .distinct()
      .withColumn("cont_ppm", expr("(inter * 1000000) DIV n_a"))
      .barrier() // materialize BEFORE the reach merge rewrites state
    // store BOTH outcomes: passing pairs for later-doc expansion, failed
    // pairs so a hot bucket never re-verifies them (see scaladoc)
    val outcome = verified.withColumn("pass", lit(true))
      .unionByName(newCand
        .join(verified.select(col("fa"), col("fb")), Seq("fa", "fb"),
          "left_anti")
        .select(col("fa"), col("fb"),
          lit(null).cast("long").as("n_a"), lit(null).cast("long").as("n_b"),
          lit(null).cast("long").as("inter"), lit(false).as("pass")))
      // materialize BEFORE the reach merge: the failed branch's lineage
      // reads the reach store (via newCand → oldForCands), and the merge
      // overwrites those same buckets — an unbarriered plan would read
      // its own overwrite target mid-write
      .barrier()
    val reachRows = outcome
      .select(col("fa").as("owner"), col("fb").as("partner"),
        lit(true).as("owner_is_a"), col("n_a"), col("n_b"), col("inter"),
        col("pass"))
      .unionByName(outcome.select(col("fb").as("owner"),
        col("fa").as("partner"), lit(false).as("owner_is_a"),
        col("n_a"), col("n_b"), col("inter"), col("pass")))
    Sinks.mergeTouchedKeyed(spark, reachRows, "owner", s"$storeDir/reach")(
      _.dropDuplicates("owner", "partner", "owner_is_a"))
    emitted
  }

  /** Serve the maintained containment pair relation: expand every
    * PASSING directed set pair in the reach store through both doc
    * rosters — after any ingest sequence over a corpus this equals the
    * batch `dedup_containment` relation on it (the [[graphSearchFrom]]
    * discipline: the store IS the relation, no re-verification). One
    * orientation per pair is read (owner_is_a), so each directed pair
    * expands exactly once. */
  def containmentPairsFrom(spark: SparkSession,
      storeDir: String): DataFrame = {
    import graft.core.Barrier.BarrierOps
    val reach = Sinks.readStore(spark, s"$storeDir/reach")
      .filter(col("pass") && col("owner_is_a"))
    val docs = Sinks.readStore(spark, s"$storeDir/docs")
      .barrier() // joined on both sides
    reach
      .join(docs.select(col("fp").as("owner"), col("doc_id").as("doc_a")),
        "owner")
      .join(docs.select(col("fp").as("partner"), col("doc_id").as("doc_b")),
        "partner")
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("inter"), expr("(inter * 1000000) DIV n_a").as("cont_ppm"))
  }

  private def ivfCentsFrom(spark: SparkSession,
      storeDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    BatchStore.readAll(spark, s"$storeDir/__cents", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
  }

  /** Query the maintained IVF index: probes rank the frozen quantizer's
    * centroids for each stored query vector (same `sims` argmax as
    * the batch plan), candidates come off the probed inverted lists
    * only — never the whole index — and the scoring tail is the SAME
    * `Similarity.ivfTopK` the batch query runs. After any ingest
    * sequence over a corpus, results are row-identical to `sim_ivf_ann`
    * on that corpus (pinned in StreamingSpec, incl. replay).
    */
  def ivfSearchFrom(spark: SparkSession, storeDir: String,
      nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    val assigned = BatchStore.readAll(spark, s"$storeDir/lists", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("cluster", IntegerType))))
    val centArr = ivfCentsFrom(spark, storeDir)
      .agg(collect_list(struct(col("vec_id").cast("int").as("cid"),
        col("embedding").as("cv"))).as("cents"))
    // the SAME probesOf as the batch plans — probe ranking cannot drift
    val probes = graft.operators.Similarity.probesOf(
      assigned.select(col("vec_id"), col("embedding"))
        .join(broadcast(centArr), lit(true)), nProbe)
    graft.operators.Similarity.ivfTopK(assigned, probes)
  }

  /** Streaming PCA SUFFICIENT-STATISTICS maintenance — the covariance
    * analog of the additive-index tiers: PCA's whole state is (raw Gram
    * G = Σ x·xᵀ, per-dim sums, count), all PLAIN ADDITIVE INTEGERS, so
    * each micro-batch contributes a d²-cell Gram + d-row sums delta —
    * O(d²) per trigger REGARDLESS of batch or corpus size, the textbook
    * mergeable-statistic shape — and summing contributions equals the
    * corpus recompute exactly. Per-`__batch=N` Overwrite = replay
    * idempotent. Centered Gram then derives algebraically (see
    * [[pcaGramFrom]]) bit-identically to the batch `sim_pca_gram`.
    */
  def pcaStatsIngestBatch(batch: DataFrame, storeDir: String,
      batchId: Long): Unit = {
    import graft.core.Barrier.BarrierOps
    val cells = graft.operators.Similarity.rawMilliCells(
      batch.select(col("vec_id"), col("embedding")))
      .barrier() // read by the Gram self-join (×2) AND the sums rollup
    val a = cells.select(col("vec_id"), col("dim").as("dim_a"),
      col("xi").as("xa"))
    val b = cells.select(col("vec_id"), col("dim").as("dim_b"),
      col("xi").as("xb"))
    BatchStore.write(a.join(b, "vec_id")
        .groupBy(col("dim_a"), col("dim_b"))
        .agg(sum(col("xa") * col("xb")).as("g_raw")),
      s"$storeDir/__gram", batchId)
    BatchStore.write(cells.groupBy(col("dim"))
        .agg(sum(col("xi")).as("sx"), count(lit(1)).as("n")),
      s"$storeDir/__sums", batchId)
  }

  /** Centered Gram off the maintained store: contributions sum, means
    * are the batch query's sign-symmetric truncated DIV, and centering
    * is the algebraic identity Gc = G_raw − m·sxᵀ − sx·mᵀ + n·m·mᵀ —
    * EXACTLY Σ c·cᵀ over truncated-centered cells (m is a per-dim
    * constant), so after any ingest sequence the result is
    * row-identical to `sim_pca_gram` on that corpus (pinned in
    * StreamingSpec, incl. replay). O(d²) rows; never touches vectors.
    */
  def pcaGramFrom(spark: SparkSession, storeDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val gram = BatchStore.readAll(spark, s"$storeDir/__gram", StructType(Seq(
      StructField("dim_a", LongType), StructField("dim_b", LongType),
      StructField("g_raw", LongType))))
      .groupBy(col("dim_a"), col("dim_b"))
      .agg(sum(col("g_raw")).as("g_raw"))
    val sums = BatchStore.readAll(spark, s"$storeDir/__sums", StructType(Seq(
      StructField("dim", LongType), StructField("sx", LongType),
      StructField("n", LongType))))
      .groupBy(col("dim"))
      .agg(sum(col("sx")).as("sx"), sum(col("n")).as("n"))
    val m = sums.select(col("dim"), col("sx"), col("n"),
      expr("CASE WHEN sx >= 0 THEN sx DIV n ELSE -((-sx) DIV n) END")
        .as("m"))
    gram
      .join(broadcast(m.select(col("dim").as("dim_a"),
        col("sx").as("sxa"), col("m").as("ma"), col("n"))), "dim_a")
      .join(broadcast(m.select(col("dim").as("dim_b"),
        col("sx").as("sxb"), col("m").as("mb"))), "dim_b")
      .select(col("dim_a"), col("dim_b"),
        (col("g_raw") - col("ma") * col("sxb") - col("mb") * col("sxa")
          + col("n") * col("ma") * col("mb")).as("g"))
  }

  /** Power iteration directly on a (dim_a, dim_b, g) Gram relation —
    * the d²-sized tail that turns the maintained statistic into a
    * component WITHOUT revisiting the corpus: w = Gc·v with the same
    * sign-symmetric infinity-norm rescale as the batch ladder. The Gram
    * is first normalized to ≤ ~10³ by one divide-only (no multiply)
    * sign-symmetric DIV of max|g|/1000, so the matvec stays inside
    * int64 at ANY corpus size (|w·1000| ≤ d·10³·10³·10³ ≈ 6·10¹⁰ at
    * d = 64) — without it, a variance-concentrated corpus of ~4·10⁴
    * unit vectors could already wrap the sum. The direction is
    * scale-free, so the normalization only truncates (~3 significant
    * Gram digits kept — the same order as the milli-unit ladder).
    */
  def pcaPowerFromGram(gram: DataFrame, rounds: Int = 3): DataFrame = {
    import graft.core.Barrier.BarrierOps
    val mgk = gram.agg(greatest(
      expr("max(abs(g)) DIV 1000"), lit(1L)).as("mgk"))
    val g = gram.crossJoin(broadcast(mgk))
      .select(col("dim_a"), col("dim_b"),
        expr("CASE WHEN g >= 0 THEN g DIV mgk " +
          "ELSE -((-g) DIV mgk) END").as("g"))
      .barrier() // read once per round
    var v = g.select(col("dim_a").as("dim")).distinct()
      .select(col("dim"), lit(1000L).as("v"))
    (1 to rounds).foreach { _ =>
      val w = g.join(broadcast(v.select(col("dim").as("dim_b"), col("v"))),
          "dim_b")
        .groupBy(col("dim_a")).agg(sum(col("g") * col("v")).as("w"))
      val mw = w.agg(greatest(max(abs(col("w"))), lit(1L)).as("mw"))
      v = w.crossJoin(broadcast(mw))
        .select(col("dim_a").as("dim"),
          expr("CASE WHEN w >= 0 THEN (w * 1000) DIV mw " +
            "ELSE -(((-w) * 1000) DIV mw) END").as("v"))
        .barrier()
    }
    v
  }

  /** Streaming WordPiece INVENTORY maintenance — the tokenizer-training
    * member of the additive-statistic tiers: the gram weights behind the
    * inventory are LINEAR in the per-word occurrence counts, so each
    * micro-batch contributes its own (word, wf) and (piece, freq)
    * rollups (O(batch) work, bounded by the batch's vocabulary) under
    * the per-`__batch=N` Overwrite discipline. Summed contributions
    * equal the corpus recompute exactly; the segmentation read runs the
    * SAME cut + greedy loop as the batch query, so segment-from-store ≡
    * `text_wordpiece_segment` after any ingest sequence (StreamingSpec,
    * incl. replay). An inventory refresh CAN re-segment existing words —
    * that is the honest semantics of frequency-ranked vocabularies; the
    * store keeps statistics, not segmentations, so reads are always
    * consistent with the current corpus.
    */
  def wordpieceIngestBatch(batch: DataFrame, storeDir: String,
      batchId: Long): Unit = {
    import graft.core.Barrier.BarrierOps
    val words = batch
      .select(explode(graft.functions.Text.tokenize(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
      .withColumn("len", length(col("word")).cast("long"))
      .barrier() // read by the word write AND the gram contribution
    BatchStore.write(words.select(col("word"), col("wf")),
      s"$storeDir/__words", batchId)
    BatchStore.write(graft.operators.TextAnalysis.wordpieceGrams(words),
      s"$storeDir/__grams", batchId)
  }

  /** Segmentation off the maintained statistics: summed gram
    * contributions → the batch query's top-512+chars cut → the shared
    * greedy loop over the summed distinct-word relation. */
  def wordpieceSegmentsFrom(spark: SparkSession,
      storeDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.core.Barrier.BarrierOps
    val words = BatchStore.readAll(spark, s"$storeDir/__words", StructType(Seq(
      StructField("word", StringType), StructField("wf", LongType))))
      .groupBy(col("word")).agg(sum(col("wf")).as("wf"))
      .withColumn("len", length(col("word")).cast("long"))
      .barrier()
    val grams = BatchStore.readAll(spark, s"$storeDir/__grams", StructType(Seq(
      StructField("piece", StringType), StructField("freq", LongType))))
      .groupBy(col("piece")).agg(sum(col("freq")).as("freq"))
      .barrier()
    graft.operators.TextAnalysis.wordpieceLoop(words,
      graft.operators.TextAnalysis.wordpieceVocabFromGrams(grams).barrier())
  }

  /** Unigram-LM segmentation off the SAME maintained statistics store as
    * [[wordpieceSegmentsFrom]] — the unigram chain consumes exactly the
    * two additive relations the WordPiece tier already maintains
    * ((word, wf) counts and (piece, freq) substring weights), so one
    * store serves both tokenizer families. The EM/Viterbi chain is the
    * batch query's own code (TextAnalysis.unigramModelFrom /
    * unigramViterbi), so stream-maintained and batch segmentations can
    * only differ if the summed statistics differ (parity + replay pinned
    * in StreamingSpec alongside the WordPiece twin). */
  def unigramSegmentsFrom(spark: SparkSession,
      storeDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.core.Barrier.BarrierOps
    val words = BatchStore.readAll(spark, s"$storeDir/__words", StructType(Seq(
      StructField("word", StringType), StructField("wf", LongType))))
      .groupBy(col("word")).agg(sum(col("wf")).as("wf"))
      .withColumn("len", length(col("word")).cast("long"))
      .barrier()
    val grams = BatchStore.readAll(spark, s"$storeDir/__grams", StructType(Seq(
      StructField("piece", StringType), StructField("freq", LongType))))
      .groupBy(col("piece")).agg(sum(col("freq")).as("freq"))
      .barrier()
    val model = graft.operators.TextAnalysis.unigramModelFrom(words, grams)
    graft.operators.TextAnalysis.unigramViterbi(words,
      graft.operators.TextAnalysis.unigramScore(model))
  }

  /** Streaming bigram-LM MODEL MAINTENANCE — the text_bigram_lm twin of
    * [[bm25IngestBatch]]: each micro-batch appends its train-split docs'
    * additive count contributions (cb / cw1 / cw2 deltas plus a 1-row
    * bigram total) under the per-`__batch=N` Overwrite discipline.
    * Train membership is the same stable hash split as the batch query,
    * so any arrival order accumulates the same model. O(batch) work;
    * replay-idempotent. Returns the batch's full bigram relation.
    */
  def bigramLmIngestBatch(batch: DataFrame, storeDir: String,
      batchId: Long): DataFrame = {
    import graft.core.Barrier.BarrierOps
    val bg = graft.operators.TextAnalysis.bigramsOf(batch)
      .barrier() // the train split AND the caller read it
    val train = graft.operators.TextAnalysis.lmTrainSplit(bg)
      .barrier() // four count rollups read it
    BatchStore.write(train.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb")), s"$storeDir/__cb", batchId)
    BatchStore.write(train.groupBy(col("w1")).agg(count(lit(1)).as("cu1")),
      s"$storeDir/__cw1", batchId)
    BatchStore.write(train.groupBy(col("w2")).agg(count(lit(1)).as("cu2")),
      s"$storeDir/__cw2", batchId)
    BatchStore.write(train.agg(count(lit(1)).as("tb")),
      s"$storeDir/__meta", batchId)
    bg
  }

  /** Score a (doc_id, text) relation against the maintained bigram-LM
    * model: count contributions sum additively off the store
    * (schema-pinned reads), then the SAME exact-integer scoring tail as
    * the batch query — after ingesting a corpus in any batch sequence,
    * scoring it from the store is row-identical to `text_bigram_lm`
    * (pinned in StreamingSpec).
    */
  def bigramLmScoreFrom(spark: SparkSession, storeDir: String,
      docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    def summed(sub: String, keys: Seq[String], cnt: String): DataFrame = {
      val schema = StructType(
        keys.map(StructField(_, StringType)) :+ StructField(cnt, LongType))
      BatchStore.readAll(spark, s"$storeDir/$sub", schema)
        .groupBy(keys.map(col): _*)
        .agg(sum(col(cnt)).as(cnt))
    }
    val metaSchema = StructType(Seq(StructField("tb", LongType)))
    val tb = BatchStore.readAll(spark, s"$storeDir/__meta", metaSchema)
      .agg(coalesce(sum(col("tb")), lit(0L)).as("tb"))
    graft.operators.TextAnalysis.bigramLmScore(
      graft.operators.TextAnalysis.bigramsOf(docs),
      summed("__cb", Seq("w1", "w2"), "cb"),
      summed("__cw1", Seq("w1"), "cu1"),
      summed("__cw2", Seq("w2"), "cu2"), tb)
  }

  /** Kneser–Ney scoring off the SAME maintained bigram-LM store as
    * [[bigramLmScoreFrom]] — the KN model (c1, forward/backward
    * continuation counts, type total) derives entirely from the summed
    * (w1, w2, cb) relation the store already maintains, so one store
    * serves both smoothing families (the WordPiece/unigram single-store
    * precedent). Scoring from the store after any ingest sequence is
    * row-identical to `text_kneser_ney` (pinned in StreamingSpec, incl.
    * replay). */
  def knScoreFrom(spark: SparkSession, storeDir: String,
      docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("w1", StringType),
      StructField("w2", StringType), StructField("cb", LongType)))
    val cb = BatchStore.readAll(spark, s"$storeDir/__cb", schema)
      .groupBy(col("w1"), col("w2")).agg(sum(col("cb")).as("cb"))
    graft.operators.TextAnalysis.knScore(
      graft.operators.TextAnalysis.bigramsOf(docs), cb)
  }

  /** Streaming sliding-window distinct users — the a1_slide_uu twin:
    * watermarked window(1 h, 15 m) → per-(window, user) counts → a
    * SECOND stateful aggregation over the same window column collapses
    * users to an exact uu (the Spark 4 multiple-stateful-operators
    * shape — no approx sketch needed even though streaming forbids
    * count_distinct directly). Append mode: a window emits once, when
    * the watermark passes its end; per-window state is O(active users),
    * bounded by the watermark horizon. */
  def slidingUuCounts(events: DataFrame,
      delay: String = "10 seconds"): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("window"))
      .agg(count(lit(1)).as("uu"), sum(col("n")).as("events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("uu"), col("events"))

  /** Streaming rate-anomaly monitor maintenance — the a10_rate_anomaly
    * twin of [[bm25IngestBatch]]: each micro-batch writes its per-(type,
    * 1 h tumble) count CONTRIBUTION under the per-`__batch=N` Overwrite
    * discipline. Window counts are additive across disjoint slices
    * (`Stateful.rateAnomalyCounts`), so any arrival order accumulates
    * the same count relation and replaying a batch is idempotent.
    * O(batch) work per call; the store is O(types × time-range).
    */
  def rateAnomalyIngestBatch(batch: DataFrame, storeDir: String,
      batchId: Long): DataFrame = {
    val c = graft.operators.Stateful.rateAnomalyCounts(batch)
    BatchStore.write(c, s"$storeDir/counts", batchId)
    c
  }

  /** Flag anomalies from the maintained count store: contributions sum
    * into the exact per-window counts, then the SAME median
    * rank-selection + 2× flag tail the batch query runs
    * (`Stateful.rateAnomalyFlag`) — after any ingest sequence over a
    * corpus, output is row-identical to `a10_rate_anomaly` on that
    * corpus (pinned in StreamingSpec). Schema-pinned read; a
    * never-ingested store is a clean empty result.
    */
  def rateAnomalyFrom(spark: SparkSession, storeDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("event_type", StringType),
      StructField("window_start", StringType),
      StructField("cnt", LongType)))
    val counts = BatchStore.readAll(spark, s"$storeDir/counts", schema)
      .groupBy(col("event_type"), col("window_start"))
      .agg(sum(col("cnt")).as("cnt"))
    graft.operators.Stateful.rateAnomalyFlag(counts)
  }

  /** Streaming lane-routed corpus admission — the pipeline_routed_corpus
    * twin: per batch, route + gate each doc with the SAME shared
    * `TextAnalysis.routedVerdicts`, then keep-first dedup within (lane,
    * fp) ACROSS batches via an admitted-signature store. Prior
    * signatures are read from strictly-earlier batches only and this
    * batch's contribution Overwrites its own dir, so replaying a batch
    * is idempotent (the [[BatchStore]] replay rule). Arrival
    * order defines keep-first across batches — in-order feeds reproduce
    * the batch pipeline exactly (pinned in StreamingSpec); within a
    * batch the smaller doc_id wins, same as batch. O(batch) routing
    * work; the signature store carries one thin (lane, fp) row per
    * admitted doc.
    */
  def routedIngestBatch(batch: DataFrame, storeDir: String,
      batchId: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.core.Barrier.BarrierOps
    val spark = batch.sparkSession
    val sigSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("lane",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.StringType)))
    val prior = BatchStore.readPrior(spark, s"$storeDir/sigs", batchId,
      sigSchema).distinct()
    val v = graft.operators.TextAnalysis.routedVerdicts(batch)
      .barrier() // read by the admission cut AND the verdict attach
    val w = Window.partitionBy(col("lane"), col("fp"))
      .orderBy(col("doc_id").asc)
    val admitted = v.filter(col("passed"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(prior, Seq("lane", "fp"), "left_anti")
      .barrier() // read by the sig write AND the verdict attach
    BatchStore.write(admitted.select(col("lane"), col("fp")),
      s"$storeDir/sigs", batchId)
    val verdict = v
      .join(admitted.select(col("doc_id"), lit(true).as("kept0")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("lane"), col("passed"),
        coalesce(col("kept0"), lit(false)).as("kept"))
    BatchStore.write(verdict, s"$storeDir/verdicts", batchId)
    verdict
  }

  /** All verdicts accumulated so far (schema-pinned; never-ingested
    * store → clean empty relation). */
  def routedVerdictsFrom(spark: SparkSession, storeDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lane", StringType), StructField("passed", BooleanType),
      StructField("kept", BooleanType)))
    BatchStore.readAll(spark, s"$storeDir/verdicts", schema)
  }

  case class AsOfEvent(user_id: Long, tsMicros: Long, side: Int, id: Long,
    value: Option[Double])
  case class PayState(tsMicros: Long, pay_id: Long, value: Option[Double])
  case class Attributed(click_id: Long, user_id: Long,
    asof_pay_id: Option[Long], asof_value: Option[Double])

  /** Streaming as-of join — the j7_asof_join twin: attribute each click to
    * the user's most recent purchase at or before it, across micro-batches.
    * State per key is ONE PayState (the running "latest purchase") — the
    * streaming as-of needs exactly the value the batch window's
    * last(ignoreNulls) carries, nothing more, so the store is O(keys)
    * regardless of stream length (no buffered join state, no watermark
    * needed for eviction).
    *
    * Within a batch, rows process in (ts, side, id) order — identical to
    * the batch sort, so simultaneous purchase-then-click resolves the same
    * way. Across batches the attribution horizon is arrival: a purchase
    * arriving AFTER a click was already emitted does not retro-attribute
    * it (append mode cannot retract); it updates state only if it is
    * LATER than the held purchase, so a late-arriving OLD purchase can
    * never regress attributions either. In-order feeds reproduce the
    * batch operator exactly — pinned in StreamingSpec, with the
    * late-arrival contract pinned separately.
    */
  def asOfStream(events: Dataset[AsOfEvent]): Dataset[Attributed] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[PayState, Attributed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[AsOfEvent], state: GroupState[PayState]) =>
          var cur = state.getOption.orNull
          val out = it.toSeq.sortBy(e => (e.tsMicros, e.side, e.id))
            .flatMap { e =>
              if (e.side == 0) {
                // purchases only ever advance the held (ts, id) — replay
                // and cross-batch disorder cannot move attribution backward
                if (cur == null || e.tsMicros > cur.tsMicros ||
                    (e.tsMicros == cur.tsMicros && e.id > cur.pay_id))
                  cur = PayState(e.tsMicros, e.id, e.value)
                None
              } else Some(Attributed(e.id, uid,
                Option(cur).map(_.pay_id), Option(cur).flatMap(_.value)))
            }
          if (cur != null) state.update(cur)
          out.iterator
      }
  }

  /** Normalize a raw events DataFrame to the as-of stream's shape. */
  def asOfEvents(events: DataFrame): Dataset[AsOfEvent] = {
    import events.sparkSession.implicits._
    events.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"),
        // FULL microsecond precision: the batch twin sorts on the raw
        // timestamp, and a seconds-truncating unix_timestamp would flip
        // purchase/click order inside a shared second
        // cast("timestamp_ltz") tolerates TIMESTAMP_NTZ inputs (UTC-pinned
        // session → epoch-identity; unix_micros alone rejects NTZ)
        unix_micros(col("ts").cast("timestamp_ltz")).as("tsMicros"),
        when(col("event_type") === "purchase", 0).otherwise(1).as("side"),
        col("event_id").as("id"),
        // value stays nullable (Option): the batch twin carries a NULL
        // purchase value through to asof_value, and coalescing to 0.0
        // here would silently diverge from that contract
        col("value"))
      .as[AsOfEvent]
  }

  case class Scored(group: String, item_id: Long, score: Double)
  case class TopNState(ver: Long, top: List[(Long, Double)])
  case class TopNEntry(group: String, ver: Long, rn: Int, item_id: Long,
    score: Double)

  /** Streaming top-N per group — the q_topn_per_group twin. row_number
    * can't run in streaming append mode, so the operator keeps the current
    * top-N per group in `GroupState` (bounded: N entries per key) and
    * re-emits the refreshed ranking whenever a batch changes it, stamped
    * with a monotonically increasing `ver`. Downstream, latest-ver-per-
    * (group, rn) — e.g. `Sinks.upsert` keyed by (group, rn) with ver as
    * the seq column — materializes the true current top-N. This is the
    * Spark shape of Flink's retract-stream top-N (the reference's upsert
    * sinks play the same role).
    */
  def topNStream(rows: Dataset[Scored], n: Int): Dataset[TopNEntry] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.group)
      .flatMapGroupsWithState[TopNState, TopNEntry](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[Scored], state: GroupState[TopNState]) =>
          val cur = state.getOption.getOrElse(TopNState(0L, Nil))
          // one score per item: a batch's update REPLACES the item's held
          // score (retract semantics), never ranks beside it. Scored has
          // no sequence field and the group iterator's order is NOT
          // guaranteed, so within-batch conflicts resolve to the MAX
          // score — deterministic under replay regardless of arrival
          // order. State stays bounded at N entries, so an item evicted
          // from the top N needs a fresh event to re-enter — the
          // documented bounded-state approximation.
          val updates = it.foldLeft(Map.empty[Long, Double]) { (m, r) =>
            m.updated(r.item_id, math.max(r.score, m.getOrElse(r.item_id,
              Double.NegativeInfinity)))
          }
          val merged = (cur.top.toMap ++ updates).toList
            .sortBy { case (id, score) => (-score, id) }
            .take(n)
          if (merged == cur.top) Iterator.empty
          else {
            val ver = cur.ver + 1
            state.update(TopNState(ver, merged))
            merged.zipWithIndex.iterator.map { case ((id, score), i) =>
              TopNEntry(g, ver, i + 1, id, score)
            }
          }
      }
  }

  /** A1/W1/W3/W4: watermarked 10s tumbling count — the streaming form of
    * the flagship query. W5: rows later than the 5s watermark are dropped
    * by Spark (same late-data semantics class as the reference's bounded
    * out-of-orderness watermark).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "5 seconds")
      .filter(col("user_id").isNotNull && col("event_type") === "view")
      .groupBy(window(col("ts"), "10 seconds"))
      .agg(count(lit(1)).as("view_count"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("view_count"))
}
