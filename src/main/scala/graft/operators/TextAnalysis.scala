package graft.operators

import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.core.Knobs
import graft.core.Barrier.BarrierOps

/** Text analysis over `documents` — the tokenizer UDTF family (U1/J6,
  * ref KwSplit.java:17-25 + DwsTrafficSourceKeywordPageViewWindow.java:74-79)
  * plus the LLM-pipeline text ops (language ID, quality scoring, token
  * counting, fingerprinting).
  *
  * Everything is built from codegen'd built-ins (split/regexp/explode) —
  * one narrow pass per document, no shuffle except the final keyword agg,
  * which partial-aggregates map-side. At 100 TB: linear scan, no state.
  */
object TextAnalysis extends OpModule {

  /** The shared BPE train loop behind `text_bpe_train` (per-round report
    * rows) and `text_bpe_apply` (the final token stream). See the
    * text_bpe_train query comment for the window algebra and scale shape.
    */
  private def bpeTrain(s: org.apache.spark.sql.SparkSession, dir: String,
      nRounds: Int): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    var toks = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(Text.bpeishTokens(col("text"))).as(Seq("pos", "tok")))
    val rounds = (1 to nRounds).map { r =>
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      // NO barrier on the windowed relation: barriers live until the
      // query ends, so 3 rounds × a (tok, idx, nxt)-wide stream pinned
      // ~10 GB of block-manager storage at 64× and thrashed eviction
      // (measured 22× time for 4× data — the second scale cliff this
      // operator hit, both caught by the sweep). The winner branch and
      // the rewrite branch each re-derive the doc_id sort instead —
      // 2 sorts per round, ZERO storage beyond the minimal (doc_id,
      // pos, tok) round output barrier below.
      val seq = toks
        .withColumn("idx", row_number().over(wDoc))
        .withColumn("nxt", lead(col("tok"), 1).over(wDoc))
      val nBefore = toks.agg(count(lit(1)).as("tokens_before"))
      val winner = seq.filter(col("nxt").isNotNull)
        .groupBy(col("tok"), col("nxt")).agg(count(lit(1)).as("pair_count"))
        .orderBy(col("pair_count").desc, col("tok").asc, col("nxt").asc)
        .limit(1)
        .select(col("tok").as("wa"), col("nxt").as("wb"), col("pair_count"))
        .barrier() // 1 row; read by the rewrite AND the report row
      // Degenerate-corpus guard (ADVICE r10): with zero adjacent pairs
      // (every doc < 2 tokens) `winner` is EMPTY, and the cross join
      // below would annihilate the whole token stream — bpe_apply would
      // then report 0 tokens everywhere instead of passing the unmerged
      // stream through. The DuckDB oracle degrades identically, so the
      // gate can't catch it. The 1-row relation is already barriered,
      // so the emptiness probe is a cheap local scan; on empty, carry
      // `toks` forward unchanged and let the report row (a join against
      // empty `winner`) stay naturally empty.
      if (winner.isEmpty) {
        winner.join(nBefore, lit(true))
          .select(lit(r).as("round"),
            concat(col("wa"), lit(" "), col("wb")).as("pair"),
            col("pair_count"), lit(0L).as("n_merges"),
            col("tokens_before").as("tokens_after"))
      } else {
      val wCum = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wIsl = Window.partitionBy(col("doc_id"), col("grp"))
      val wLag = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
      // one fused pass from seq to the rewritten stream: the three
      // window steps stay pipeline-internal (no materialization of the
      // wide intermediate — barriering it at 64× cost 18× for 4× data,
      // caught by the scale sweep and fixed here: every merge removes
      // exactly one token, so n_merges = tokens_before − tokens_after
      // and the fat `selected` relation never needs a second reader)
      val next = seq
        .join(broadcast(winner.select(col("wa"), col("wb"))), lit(true))
        .withColumn("c",
          (col("tok") === col("wa") && col("nxt") === col("wb")).cast("int"))
        .withColumn("cumc", sum(col("c")).over(wCum))
        .withColumn("grp", when(col("c") === 1, col("idx") - col("cumc")))
        .withColumn("sel", col("c") === 1 &&
          ((col("idx") - min(col("idx")).over(wIsl)) % 2 === 0))
        .withColumn("prev_sel", lag(col("sel"), 1, false).over(wLag))
        .filter(!col("prev_sel"))
        .select(col("doc_id"), col("pos"),
          when(col("sel"), concat(col("wa"), col("wb")))
            .otherwise(col("tok")).as("tok"))
        .barrier() // read by next round AND tokens_after
      val row = winner
        .join(broadcast(next.agg(count(lit(1)).as("tokens_after"))),
          lit(true))
        .join(broadcast(nBefore), lit(true))
        .select(lit(r).as("round"),
          concat(col("wa"), lit(" "), col("wb")).as("pair"),
          col("pair_count"),
          (col("tokens_before") - col("tokens_after")).as("n_merges"),
          col("tokens_after"))
      toks = next
      row
      }
    }
    (rounds.reduce(_ unionByName _), toks)
  }

  def queries: Map[String, Q] = irQueries ++ Map(
    // U1/J6: tokenize → explode → count per keyword (the reference flagship
    // shape, minus the time window which a1 covers on events).
    "u1_tokenize_explode" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("keyword"))
        .groupBy(col("keyword")).agg(count(lit(1)).as("keyword_count"))
    }),
    // U1, CJK tier: the reference's tokenizer is the IK *Chinese* analyzer
    // (ref KwSplit.java:17-25 — gmall keywords are Chinese); a latin-only
    // split drops that text entirely. Script-aware path: han spans → overlap
    // codepoint bigrams, latin/digit runs → words. The sf tables are
    // ASCII-only, so deterministic mixed-script fixture rows are unioned in
    // (identically in the oracle) to exercise the CJK path under the gate.
    "u1_tokenize_cjk" -> ((s, dir) => {
      import s.implicits._
      // han fixtures exercise the bigram tier, cyrillic fixtures the
      // whole-word tier (ru docs must not tokenize to nothing)
      val fixture = cjkFixture.toDF("doc_id", "text")
        .unionByName(cyrFixture.map { case (id, txt, _) => (id, txt) }
          .toDF("doc_id", "text"))
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(fixture)
        .select(explode(Text.tokenizeCjk(col("text"))).as("keyword"))
        .groupBy(col("keyword")).agg(count(lit(1)).as("keyword_count"))
    }),
    "text_quality" -> ((s, dir) => {
      // ALL five features in ONE codepoint walk — the native text_stats
      // expression (plans/TextStats.scala) replaces four per-feature regex
      // passes; values are bit-identical (TextStatsSpec pins it against
      // the composed-builtin columns) so the oracle is unchanged. The
      // struct is aliased once and field-expanded in a second projection;
      // CollapseProject keeps the non-cheap multi-referenced struct alias
      // as its own project, so the walk runs once per row.
      graft.plans.GraftFunctions.register(s) // no-op under the extensions conf
      t(s, dir, "documents")
        .select(col("doc_id"), expr("text_stats(text)").as("st"))
        .select(col("doc_id"), col("st.char_len"), col("st.ws_tokens"),
          col("st.bpe_tokens"), col("st.stopword_ratio"),
          col("st.punct_ratio"))
    }),
    // the pipeline form of quality scoring: gate documents on combined
    // thresholds (the filter a pretraining corpus actually applies)
    "text_quality_filter" -> ((s, dir) => {
      t(s, dir, "documents").filter(qualityPred)
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    // Gopher-style quality rules — the published repetition/shape
    // heuristics (Rae et al.): word count bounds, mean word length in
    // [3, 10], symbol-to-word ratio (#/ellipsis) below 0.1, and ≥ 80% of
    // words containing an alphabetic character. Whitespace WORDS (not the
    // alnum tokenizer) — the rules are defined over raw words including
    // punctuation. Every metric is a ratio of exact integers (one IEEE
    // division each), so the oracle is bit-exact; the pass column is the
    // conjunction a pipeline filters on. One narrow pass, no shuffle.
    // Per-doc REPETITION battery — the other half of the published
    // Gopher quality rules (Rae et al. Appendix A: repetition filters):
    // duplicate-word fraction, the most-frequent word-2-gram's character
    // coverage, and the character coverage of all duplicated 5-grams.
    // The fixture corpus is flat word streams (no lines/sentences), so
    // the word-n-gram tier is the substantive one; the line/paragraph
    // siblings would be identically zero here. Coverage numerators count
    // overlapping occurrences (the standard approximation — the exact
    // positional-union variant needs per-position state; both engines
    // compute the SAME approximation and the ratio is capped at 1).
    // Exact integer counts; one IEEE division per metric. Scale shape:
    // two explodes + map-side-combinable (doc_id, gram) aggregates, a
    // per-doc WindowGroupLimit top-1, thin doc_id joins back — nothing
    // wider than the tokenize pass. Planted edge docs (-81..-83): heavy
    // repetition, a single token (no 2-grams), an empty text.
    "text_repetition_report" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val fixture = Seq(
        (-81L, "spam spam spam spam spam ham"),
        (-82L, "one"),
        (-83L, "")).toDF("doc_id", "text")
      val toks = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(fixture)
        .select(col("doc_id"), Text.tokenize(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          size(col("toks")).cast("long").as("n_tokens"),
          length(array_join(col("toks"), " ")).cast("long").as("tchars"))
        .barrier() // read by the word, 2-gram and 5-gram passes
      val words = toks
        .select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("nw"), count(lit(1)).as("ndw"))
      def grams(n: Int) = toks.filter(size(col("toks")) >= n)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, size(toks) - ${n - 1}), " +
            s"i -> array_join(slice(toks, i, $n), ' '))")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      val top2 = grams(2)
        .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("cnt").desc, col("g").asc)))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("cnt").as("top2_cnt"),
          (col("cnt") * length(col("g"))).cast("long").as("top2_chars"))
      val dup5 = grams(5).filter(col("cnt") >= 2)
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt") * length(col("g"))).as("dup5_chars"))
      toks.select(col("doc_id"), col("n_tokens"), col("tchars"))
        .join(words, Seq("doc_id"), "left")
        .join(top2, Seq("doc_id"), "left")
        .join(dup5, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          when(col("n_tokens") === 0L, lit(0.0))
            .otherwise((col("nw") - col("ndw")).cast("double") /
              col("nw").cast("double")).as("dup_word_frac"),
          coalesce(col("top2_cnt"), lit(0L)).as("top2_cnt"),
          when(col("n_tokens") === 0L, lit(0.0))
            .otherwise(least(lit(1.0),
              coalesce(col("top2_chars"), lit(0L)).cast("double") /
                col("tchars").cast("double"))).as("top2_char_frac"),
          when(col("n_tokens") === 0L, lit(0.0))
            .otherwise(least(lit(1.0),
              coalesce(col("dup5_chars"), lit(0L)).cast("double") /
                col("tchars").cast("double"))).as("dup5_char_frac"))
    }),
    "text_gopher_rules" -> ((s, dir) => {
      val words = split(trim(col("text")), "\\s+")
      val nw = size(words).cast("long")
      val sumLen = expr(
        "aggregate(split(trim(text), '\\\\s+'), 0L, (a, w) -> a + length(w))")
      val nAlpha = expr("CAST(size(filter(split(trim(text), '\\\\s+'), " +
        "w -> w rlike '[a-zA-Z]')) AS BIGINT)")
      val nSym = expr("CAST(size(filter(split(trim(text), '\\\\s+'), " +
        "w -> w rlike '#|\\\\.\\\\.\\\\.')) AS BIGINT)")
      val meanLen = sumLen.cast("double") / nw.cast("double")
      val alphaFrac = nAlpha.cast("double") / nw.cast("double")
      val symRatio = nSym.cast("double") / nw.cast("double")
      t(s, dir, "documents").select(col("doc_id"), nw.as("n_words"),
          meanLen.as("mean_word_len"), alphaFrac.as("alpha_frac"),
          symRatio.as("symbol_ratio"))
        .withColumn("pass",
          col("n_words") >= 30L && col("n_words") <= 100000L &&
            col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
            col("symbol_ratio") < 0.1 && col("alpha_frac") > 0.8)
    }),
    // fastText/CCNet-style hashed linear quality classifier — the published
    // "hashing trick" shape (Joulin et al. fastText; Wenzek et al. CCNet
    // keep/drop filtering): word unigram + bigram features hashed into B
    // buckets, document score = mean of the bucket weights, keep iff score
    // clears a threshold. The weight here is a deterministic function of
    // the bucket id ((b·K) % 2003 − 1001, a stand-in for the LEARNED
    // weight array — in production the term is element_at(weights, b + 1)
    // with a ~16 KB broadcast array; the plan shape is identical). Every
    // feature stays inside ONE aggregate() HOF — no explode, no
    // per-feature rows, no shuffle: the classifier is a narrow codegen'd
    // scan even though it scores |toks|·2 features per doc. Score is an
    // exact BIGINT sum over exact integer weights divided once (single-op
    // IEEE chain → bit-exact oracle).
    "text_quality_classifier" -> ((s, dir) => {
      import s.implicits._
      // planted edges (block -71..-72, mirrored in the oracle): -71 has no
      // alnum token at all (NULL score, keep=false via the coalesce), -72
      // is a single token (unigram only — the bigram CASE guard fires)
      withClassifierScore(
          t(s, dir, "documents").select(col("doc_id"), col("text"))
            .unionByName(qcFixture.toDF("doc_id", "text")))
        .select(col("doc_id"), col("n_feats"), col("score"), col("keep"))
    }),
    // Threshold sweep for the quality gate — the dedup_threshold_sweep
    // discipline applied to the classifier: score every doc ONCE
    // (barrier), then every candidate threshold slices the same scored
    // relation via a broadcast range join — choosing the gate threshold
    // without re-running the classifier, with the kept-token budget
    // impact alongside. NULL scores (featureless docs) fail every
    // threshold via the same coalesce as the production keep rule.
    "quality_threshold_sweep" -> ((s, dir) => {
      import s.implicits._
      val scored = withClassifierScore(
          t(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("n_feats"), col("score"))
        .barrier() // sliced once per threshold + the total rollup
      val totals = scored.agg(count(lit(1)).as("n_docs"))
      val ts = Seq(-500.0, -250.0, -100.0, 0.0, 100.0, 250.0, 500.0)
        .toDF("threshold")
      val kept = scored.join(broadcast(ts),
          coalesce(col("score") >= col("threshold"), lit(false)))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_keep"), sum(col("n_feats")).as("kept_feats"))
      ts.join(kept, Seq("threshold"), "left")
        .join(broadcast(totals), lit(true))
        .select(col("threshold"),
          coalesce(col("n_keep"), lit(0L)).as("n_keep"),
          coalesce(col("kept_feats"), lit(0L)).as("kept_feats"),
          (coalesce(col("n_keep"), lit(0L)).cast("double") /
            col("n_docs").cast("double")).as("keep_rate"))
    }),
    // Deterministic per-epoch shuffle — the loader's "shuffle each epoch
    // differently" step as a REPRODUCIBLE relation: each (epoch, doc)
    // gets an md5 shuffle key, and its epoch position is the key's
    // global rank via the bucketed two-level prefix count (key-range
    // buckets, a ≤nB-row offset window per epoch, per-bucket parallel
    // row_number — no unpartitioned window over data; the pack-index
    // device with count 1 per row). Any worker can materialize any
    // epoch slice from (epoch, position) alone.
    "sample_shuffle_epochs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nB = prefixBuckets(s)
      val q = (1L << 60) / nB + 1L
      val keyed = t(s, dir, "documents").select(col("doc_id"))
        .select(explode(sequence(lit(0L), lit(1L))).as("epoch"),
          col("doc_id"))
        .select(col("epoch"), col("doc_id"),
          conv(substring(md5(concat(lit("ep|"),
            col("epoch").cast("string"), lit(":"),
            col("doc_id").cast("string"))), 1, 15), 16, 10)
            .cast("long").as("shuffle_key"))
        .withColumn("bucket", expr(s"shuffle_key div ${q}L"))
        .barrier() // read by the bucket rollup AND the final ranking
      val wb = Window.partitionBy(col("epoch")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = keyed.groupBy(col("epoch"), col("bucket"))
        .agg(count(lit(1)).as("bc"))
        .withColumn("prior", coalesce(sum(col("bc")).over(wb), lit(0L)))
        .select(col("epoch"), col("bucket"), col("prior"))
      keyed.join(broadcast(offsets), Seq("epoch", "bucket"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("epoch"), col("bucket"))
            .orderBy(col("shuffle_key"), col("doc_id"))))
        .select(col("epoch"), col("doc_id"), col("shuffle_key"),
          (col("prior") + col("rn") - 1).as("position"))
    }),
    "text_langid" -> ((s, dir) => {
      import s.implicits._
      // CJK fixture rows (labeled zh) exercise the zh tier under the
      // gate; cyrillic rows the ru tier (incl. the ё-outside-а-я edge and
      // a minority-cyrillic row that must NOT trip it)
      val fixture = cjkFixture.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("zh").as("lang"))
        .unionByName(cyrFixture.toDF("doc_id", "text", "lang"))
      t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
        .unionByName(fixture)
        .select(col("doc_id"), col("lang"),
          Text.langId(col("text")).as("pred_lang"))
    }),
    // corpus n-gram diversity — the corpus-level repetition health metric
    // (template-heavy crawls show low distinct/total 8-gram ratios long
    // before any per-doc heuristic fires). Per lang: total 8-gram
    // instances, exact distinct, distinct/total (two exact BIGINTs, one
    // IEEE division → bit-exact), and an HLL estimate with an in-query
    // 5% verdict. The EXACT distinct is the verification twin — at 100 TB
    // only the mergeable HLL sketch runs (one partial-agg pass, no
    // distinct shuffle), same discipline as approx_uv_hll /
    // q_quantiles_approx. Gram rows are thin (lang, 8-byte gfp) — the
    // same 60-bit md5 device as the decontamination family, so the gram
    // relation is join-compatible with it.
    "text_ngram_diversity" -> ((s, dir) => {
      val grams = t(s, dir, "documents")
        .select(col("lang"), Text.tokenize(col("text")).as("toks"))
        .filter(size(col("toks")) >= 8)
        .select(col("lang"), explode(expr(
          "transform(sequence(0, size(toks) - 8), " +
            "i -> array_join(slice(toks, i + 1, 8), ' '))")).as("gram"))
        .select(col("lang"),
          conv(substring(md5(col("gram")), 1, 15), 16, 10)
            .cast("long").as("gfp"))
      // two-level aggregate instead of count_distinct + approx in one agg:
      // that shape Expands every gram row ×2; pre-aggregating to
      // (lang, gfp, cnt) partial-combines map-side, and the HLL estimate
      // is duplicate-insensitive so feeding it the already-distinct rows
      // changes nothing about what it estimates
      grams.groupBy(col("lang"), col("gfp"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("lang"))
        .agg(sum(col("cnt")).as("total_grams"),
          count(lit(1)).as("distinct_grams"),
          approx_count_distinct(col("gfp"), 0.01).as("approx_distinct"))
        .select(col("lang"), col("total_grams"), col("distinct_grams"),
          (col("distinct_grams").cast("double") /
            col("total_grams").cast("double")).as("diversity"),
          (abs(col("approx_distinct") - col("distinct_grams")).cast("double") /
            col("distinct_grams") <= 0.05).as("within_tol"))
    }),
    // Per-document n-gram NOVELTY under ingestion order (doc_id) — the
    // data-freshness metric a crawl-curation pipeline reads per
    // snapshot: what fraction of a doc's distinct 8-grams had never
    // appeared in any earlier doc? Template/boilerplate mass scores
    // near 0 (its grams are old), genuinely new content near 1e6 —
    // the per-doc complement of text_ngram_diversity's corpus-level
    // ratio, and the prioritization signal for dedup/downsampling.
    // Shape: the corpus explodes ONCE to thin distinct (doc_id, 8-byte
    // gfp) rows (barriered — feeds the first-seen rollup AND the
    // join-back); first-seen is a map-side-combined min; the join-back
    // and the per-doc rollup ride the same gfp/doc_id hash keys. No
    // window, no sort — "earlier" is resolved by min(doc_id), not an
    // ordering pass. Docs under 8 tokens have no grams and are
    // (documentedly) absent. Counts + one truncating DIV → hash-exact.
    "corpus_ngram_novelty" -> ((s, dir) =>
      noveltyReport(docGramsOf(t(s, dir, "documents")))),
    // Heaps'-law type-token curve in exact integers — the vocabulary
    // growth report a tokenizer-vocab decision reads: how many distinct
    // types exist after the first 2^j ingested docs, at WORD and
    // 8-token-GRAM granularity (words saturate — the fixture's closed
    // vocab plateaus instantly — while gram types keep growing; the
    // contrast IS the report). Checkpoints live in doc_id-prefix space
    // (ids are the ingest order), so no global sort exists anywhere:
    // each type reduces to (first_doc = min doc_id, one map-side-
    // combined agg), first_doc buckets by its binary LENGTH (pure
    // integer, no log2 doubles), and the cumulative sum runs over the
    // ≤64-row bucket relation — the q_skew_report bounded-window
    // device. checkpoint = 2^(j+1)-1: every id in buckets ≤ j is
    // strictly below it.
    "corpus_vocab_growth" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .barrier() // read by both granularity tiers
      def curve(first: org.apache.spark.sql.DataFrame, kind: String) = {
        // bounded-window: input is the binary-length bucket rollup —
        // ≤ 64 rows at any corpus size (j = length(bin(doc_id)))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("j"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        first
          .select(expr("length(bin(first_doc + 1)) - 1").as("j"))
          .groupBy(col("j")).agg(count(lit(1)).as("vocab_new"))
          .select(lit(kind).as("kind"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(j + 1 AS INT)) - 1")
              .as("checkpoint_docs"),
            col("vocab_new"), sum(col("vocab_new")).over(w).as("vocab_cum"))
      }
      val words = docs
        .select(col("doc_id"),
          explode(Text.tokenizeDistinct(col("text"))).as("t"))
        .groupBy(col("t")).agg(min(col("doc_id")).as("first_doc"))
      val grams = docGramsOf(docs)
        .groupBy(col("gfp")).agg(min(col("doc_id")).as("first_doc"))
      curve(words, "word").unionByName(curve(grams, "gram8"))
    }),
    // RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010) — the
    // stopword-delimited complement of text_textrank_keywords: candidate
    // phrases are maximal runs of content words BETWEEN stopwords
    // (split on the shared 19-word list), each word scores
    // deg(w)/freq(w) where deg counts within-phrase co-membership
    // (incl. self) and freq counts occurrences, and a phrase scores the
    // sum of its members' ratios — all corpus-wide statistics, all
    // exact integers (per-word micro DIV, order-independent sum). The
    // published intuition: words that appear mostly inside long
    // multiword phrases (high deg, modest freq) mark domain terms;
    // words scattered everywhere score low. Scale shape: one normalize
    // + split pass (the phrase relation is the corpus re-segmented, not
    // expanded), word stats are a map-side-combined vocab rollup, the
    // distinct-phrase scoring joins phrase words to the vocab-sized
    // stats, and top-20 is TakeOrderedAndProject.
    "text_rake_keywords" -> ((s, dir) => {
      val pat = "\\b(" + Text.stopwords.mkString("|") + ")\\b"
      val ph = t(s, dir, "documents")
        .select(Text.normalize(col("text")).as("norm"))
        .select(explode(split(col("norm"), pat)).as("p0"))
        .select(trim(col("p0")).as("phrase"))
        // the standard max-candidate-length knob (rake-nltk's
        // max_length): runs longer than 4 content words are clause
        // fragments, not keyword candidates — indispensable on this
        // fixture, whose stopword-sparse word soup otherwise yields
        // near-whole-document "phrases"
        .filter(col("phrase") =!= "" &&
          size(split(col("phrase"), " ")) <= 4)
        .barrier() // word-stat pass + phrase rollup
      val wordOcc = ph
        .select(col("phrase"), split(col("phrase"), " ").as("ws"))
        .select(explode(col("ws")).as("w"), size(col("ws")).as("plen"))
      val stats = wordOcc.groupBy(col("w"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .select(col("w"),
          expr("(deg * 1000000) DIV freq").as("w_score"))
      val phrases = ph.groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occurrences"))
        .barrier() // scored join + output spine
      phrases
        .select(col("phrase"), col("n_occurrences"),
          explode(split(col("phrase"), " ")).as("w"))
        .join(stats, "w")
        .groupBy(col("phrase"), col("n_occurrences"))
        .agg(sum(col("w_score")).as("score_micro"))
        .orderBy(col("score_micro").desc, col("phrase").asc)
        .limit(20)
    }),
    // Keyword-extractor agreement — the dedup_method_matrix discipline
    // applied to the keyword family: the vocabulary the per-doc tf-idf
    // ranking surfaces (text_salient_terms' top-3 per doc, distinct)
    // against the vocabulary RAKE's corpus-level top-20 phrases carry.
    // The published comparison question: do frequency-based and
    // phrase-cohesion-based extractors nominate the same words, or do
    // they see different corpora? One row: both vocabularies, the
    // intersection, each side's exclusives, and the Jaccard in ppm —
    // all exact integers over two relations the other queries already
    // define (both composed verbatim so the agreement can never drift
    // from what the standalone extractors emit).
    "text_keyword_agreement" -> ((s, dir) => {
      val tfidf = queries("text_salient_terms")(s, dir)
        .select(col("tok").as("w")).distinct()
        .barrier() // its own count + the intersection join
      val rake = queries("text_rake_keywords")(s, dir)
        .select(explode(split(col("phrase"), " ")).as("w")).distinct()
        .barrier() // its own count + the intersection join
      val na = tfidf.agg(count(lit(1)).as("n_tfidf_words"))
      val nb = rake.agg(count(lit(1)).as("n_rake_words"))
      val nc = tfidf.join(rake, "w").agg(count(lit(1)).as("n_common"))
      na.crossJoin(nb).crossJoin(nc)
        .select(col("n_tfidf_words"), col("n_rake_words"), col("n_common"),
          (col("n_tfidf_words") - col("n_common")).as("n_only_tfidf"),
          (col("n_rake_words") - col("n_common")).as("n_only_rake"),
          expr("(n_common * 1000000) DIV " +
            "greatest(n_tfidf_words + n_rake_words - n_common, 1)")
            .as("jaccard_ppm"))
    }),
    // Fagin's THRESHOLD ALGORITHM certificate — the classical top-k
    // result (Fagin, Lotem & Naor, "Optimal Aggregation Algorithms for
    // Middleware"): when each attribute has its own descending index,
    // the global top-k under a monotone aggregate is CERTIFIED after
    // reading only a prefix of each list — any unseen object scores at
    // most T = Σ (p-th value per list), so once the k-th best seen
    // clears T, no full-table sort is needed. This report walks a
    // prefix-depth ladder (p = 8/32/128) over three integer attributes
    // (chars, whitespace tokens, distinct tokens; aggregate = sum) and
    // emits per depth: candidate count, threshold, k-th seen score, and
    // the certificate bit. Scale shape: each prefix is
    // orderBy-desc-limit(p) — TakeOrderedAndProject, the per-partition
    // top-p primitive, never a global sort; candidates (≤ 3p ids)
    // re-join the score roster thinly; every other relation is ≤ p
    // rows. At 100 TB this is the difference between three index scans
    // of depth p and a full-table sort.
    "q_topk_ta" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val k = 10
      val scores = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          expr("text_stats(text)").as("st"), col("text"))
        .select(col("doc_id"), col("n_chars").as("s1"),
          col("st.ws_tokens").cast("long").as("s2"),
          size(Text.tokenizeDistinct(col("text"))).cast("long").as("s3"))
        .barrier() // three prefix scans + the candidate join
      val attrs = Seq("s1", "s2", "s3")
      Seq(8, 32, 128).map { p =>
        val prefixes = attrs.map(a =>
          scores.orderBy(col(a).desc, col("doc_id").asc).limit(p)
            .select(col("doc_id"), col(a)).barrier()) // ids + t_i read
        val tVals = prefixes.zip(attrs).map { case (pre, a) =>
          pre.agg(min(col(a)).as(s"t_$a")) }
        val cand = prefixes.map(_.select(col("doc_id")))
          .reduce(_ unionByName _).distinct()
          .join(scores, "doc_id")
          .select(col("doc_id"),
            (col("s1") + col("s2") + col("s3")).as("total"))
        val kth = cand.orderBy(col("total").desc, col("doc_id").asc)
          .limit(k).agg(min(col("total")).as("kth_seen"),
            count(lit(1)).as("k_found"))
        val nc = cand.agg(count(lit(1)).as("n_candidates"))
        val thr = col("t_s1") + col("t_s2") + col("t_s3")
        tVals.reduce(_ crossJoin _).crossJoin(nc).crossJoin(kth)
          .select(lit(p.toLong).as("prefix_depth"), col("n_candidates"),
            thr.as("threshold"), col("kth_seen"),
            (col("k_found") === k && col("kth_seen") >= thr)
              .as("certified"))
      }.reduce(_ unionByName _)
    }),
    // AMS second frequency moment (F2) sketch — Alon, Matias & Szegedy's
    // tug-of-war estimator, with the EXACT F2 beside it (the CMS/HLL
    // twin pattern). F2 = Σ_t cf_t² over corpus token counts is exactly
    // the row count of a self-join on the token key — the quantity that
    // decides whether a co-occurrence/blocking join is affordable
    // (q_skew_report's cousin, one number for the whole key space). The
    // sketch needs ONE additive pass: 16 counters X_j = Σ_occurrences
    // s_j(token), signs s_j = ±1 from an md5 bit (deterministic → the
    // whole report is hash-exact under the oracle); estimate =
    // median-of-4 of mean-of-4 of X_j². Exact twin costs the vocab-sized
    // groupBy the sketch avoids — at 100 TB you keep the 16 integers.
    // int64-safe while |X_j| < 3·10⁹ (X is a ±1 walk over occurrences,
    // magnitude ~√F2); past that, pre-scale counts DIV 10³.
    "text_f2_moment" -> ((s, dir) => {
      val occ = t(s, dir, "documents")
        .select(explode(Text.tokenize(col("text"))).as("tok"))
        .barrier() // the 16-counter pass AND the exact-twin rollup
      val exact = occ.groupBy(col("tok")).agg(count(lit(1)).as("cf"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("cf") * col("cf")).as("f2_exact"))
      f2EstimateOf(f2Counters(occ)).crossJoin(exact)
        .select(col("n_occurrences"), col("n_distinct"), col("f2_exact"),
          col("f2_est"),
          expr("(abs(f2_est - f2_exact) * 1000000) DIV f2_exact")
            .as("rel_err_ppm"))
    }),
    // Leave-one-source-out ablation from ADDITIVE sufficient statistics
    // — the data-valuation surrogate (the additive special case of
    // leave-one-out influence) a multi-source ingest reads before
    // weighting: for each source, the quality-gate pass rate and mean
    // length of the corpus WITHOUT it, next to its own. The expensive
    // per-doc predicate runs ONCE over the corpus; every LOO value is
    // total-minus-contribution arithmetic on the |sources|-row rollup —
    // no per-source rescan, which is the entire point at 100 TB.
    // delta_ppm > 0 ⇒ the source lifts the corpus pass rate.
    "corpus_source_ablation" -> ((s, dir) => {
      val per = t(s, dir, "documents")
        .select(col("source"), col("n_chars"),
          when(qualityPred, 1L).otherwise(0L).as("pass"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("pass")).as("n_pass"),
          sum(col("n_chars")).as("sum_chars"))
        .barrier() // the per-source rows AND the 1-row total
      val tot = per.agg(sum(col("n_docs")).as("t_docs"),
        sum(col("n_pass")).as("t_pass"), sum(col("sum_chars")).as("t_chars"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_pass"),
          expr("(n_pass * 1000000) DIV n_docs").as("pass_ppm"),
          expr("((t_pass - n_pass) * 1000000) DIV " +
            "greatest(t_docs - n_docs, 1)").as("loo_pass_ppm"),
          expr("(n_pass * 1000000) DIV n_docs - " +
            "((t_pass - n_pass) * 1000000) DIV greatest(t_docs - n_docs, 1)")
            .as("delta_ppm"),
          expr("sum_chars DIV n_docs").as("mean_chars"),
          expr("(t_chars - sum_chars) DIV greatest(t_docs - n_docs, 1)")
            .as("loo_mean_chars"))
    }),
    // Exact-substring dedup (the published remove-repeated-passages op,
    // at token-8-gram granularity): any token whose position is covered
    // by an 8-gram occurring MORE THAN ONCE corpus-wide (across docs or
    // within one) is removed from every doc; survivors keep order. The
    // published motivation: repeated passages (licenses, headers, quoted
    // chains) survive whole-doc and line-level dedup but still memorize.
    // Shape: grams carry only (doc_id, start, 8-byte gfp) — 20 thin
    // bytes/gram — through ONE count aggregate (map-side combine); the
    // duplicated-fp set is boilerplate-small by definition and comes
    // BACK as a broadcast; per-doc covered-start lists are tiny; the
    // reconstruction is one narrow array-HOF pass over the barriered
    // token relation. Emits kept/dropped counts + cleaned-text
    // fingerprint (proof-of-scrub, not a corpus copy) — same contract as
    // text_line_dedup one granularity down.
    // LONGEST duplicated substring, corpus-wide — the companion
    // statistic to exact-substring dedup (how LONG does verbatim reuse
    // get?), answered without suffix arrays: "a duplicated substring of
    // length L exists ⟺ some L-char window occurs twice" is MONOTONE in
    // L, so 13 binary-search probes over (0, 8192] find the maximum.
    // Each probe is ONE corpus scan of window fingerprints (60-bit md5,
    // thin) into a count ≥ 2 existence check — the fp probe is
    // identical in both engines, so even a (2^-60-improbable) collision
    // steers BOTH binary searches the same way; the final report
    // regroups by the SUBSTRING ITSELF at the answer length (exact, no
    // hash) and emits (max_dup_len, distinct duplicated strings, the
    // lexicographically-first example, its max occurrence count).
    // COST HONESTY: each probe at length L materializes every L-char
    // window substring through the Generate before the thin fp
    // projection, so the probe's intermediate volume is ~L× the corpus
    // bytes (a mid = 4096 probe pushes ~4096× corpus bytes through
    // md5) — it never SHUFFLES at that width (the fp projection is
    // inside the same stage) but the scan-side CPU/alloc cost is xL,
    // not 1×. "13 linear scans" bounds scan COUNT, not bytes-touched;
    // a rolling/buffered-hash window-fingerprint expression (Rabin—
    // Karp over the codepoint walk) would cut each probe to true 1×
    // reads + 8-byte fps and is the upgrade path if these probes ever
    // dominate a profile. At 100 TB: 13 scans, no suffix structure,
    // no sort — the
    // published alternative (suffix-array construction) is a corpus
    // sort this device never pays. The driver-side loop holds two Ints
    // and a per-round 1-row existence probe (the BPE winner.isEmpty
    // discipline); the corpus never collects.
    "text_longest_dup" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val normed = t(s, dir, "documents")
        .select(Text.normalize(col("text")).as("norm"))
        .barrier() // 13 probe scans + the final report read it
      def windows(l: Int) = normed.select(explode(expr(
        s"CASE WHEN length(norm) >= $l THEN " +
          s"transform(sequence(1, length(norm) - $l + 1), " +
          s"i -> substring(norm, i, $l)) ELSE array() END")).as("w"))
      // probe fingerprints come from the native rolling walk (r13): one
      // O(n) pass per probe emitting 8 bytes/window, replacing the
      // md5-of-materialized-substring formulation whose intermediate
      // was ~L× the corpus bytes (~4096× at mid=4096 — the xL cost the
      // r12 scaladoc disclosed; now gone). Identical fp function in the
      // oracle, so collisions — ~n²/2^61-improbable — steer both
      // engines' searches the same way, the same stance as before.
      def dupAt(l: Int): Boolean = !normed
        .select(explode(expr(s"rolling_fps(norm, $l)")).as("fp"))
        .groupBy(col("fp")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).limit(1).isEmpty
      var (lo, hi) = (0, 8192)
      (1 to 13).foreach { _ =>
        if (hi - lo > 1) {
          val mid = (lo + hi) / 2
          if (dupAt(mid)) lo = mid else hi = mid
        }
      }
      // report at the answer length; l = max(lo, 1) keeps the lo = 0
      // (no duplication anywhere) case meaningful: windows at 1 then
      // have no dup, so the report row reads (0, 0, '', 0)
      windows(math.max(lo, 1))
        .groupBy(col("w")).agg(count(lit(1)).as("occ"))
        .filter(col("occ") >= 2)
        .agg(count(lit(1)).as("n_dup_strings"),
          coalesce(min(col("w")), lit("")).as("example"),
          coalesce(max(col("occ")), lit(0L)).as("max_occ"))
        .select(lit(lo.toLong).as("max_dup_len"), col("n_dup_strings"),
          col("example"), col("max_occ"))
    }),
    // Duplication-depth PROFILE — the curve text_longest_dup is the
    // endpoint of: at each window length L ∈ {8, 16, …, 1024}, what
    // fraction of the corpus's L-char windows is duplicated (fp occurs
    // ≥ 2 corpus-wide)? The published dedup decisions (Lee et al.'s
    // "duplicated 50-gram" thresholds, CDC chunk sizing, shingle width
    // choices) all read points off this curve. One fingerprint scan
    // per length — 8 scans total, each a map-side-combined count
    // rollup. r13: fingerprints come from the native `rolling_fps`
    // walk (plans/RollingFps.scala — Rabin–Karp mod 2^61−1, one O(n)
    // pass, 8 bytes/window), retiring the md5-of-substring formulation
    // whose Generate materialized ~L× corpus bytes per scan (~2·L_max×
    // summed over the 8 lengths — the dominant cost the r12 scaladoc
    // disclosed). The oracle computes the SAME polynomial via the
    // modular-inverse prefix identity, so fps are bit-identical in
    // both engines and a (~n²/2^61-improbable) collision moves both
    // counts the same way — the md5 device's stance, kept.
    // The per-L report is 4 integers + one ppm DIV, so the
    // whole result is 8 rows.
    "text_dup_profile" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val normed = t(s, dir, "documents")
        .select(Text.normalize(col("text")).as("norm"))
        .barrier() // 8 window scans read it
      Seq(8, 16, 32, 64, 128, 256, 512, 1024).map { l =>
        normed.select(explode(expr(s"rolling_fps(norm, $l)")).as("fp"))
          .groupBy(col("fp")).agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(col("c")), lit(0L)).as("n_windows"),
            count(lit(1)).as("n_distinct"),
            coalesce(sum(when(col("c") >= 2, col("c"))
              .otherwise(lit(0L))), lit(0L)).as("n_dup_windows"))
          .select(lit(l.toLong).as("win_len"), col("n_windows"),
            col("n_distinct"), col("n_dup_windows"),
            expr("(n_dup_windows * 1000000) DIV greatest(n_windows, 1)")
              .as("dup_ppm"))
      }.reduce(_ unionByName _)
    }),
    "text_substring_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(ssdFixture.toDF("doc_id", "text"))
        .select(col("doc_id"), Text.tokenize(col("text")).as("toks"))
        .barrier() // read by the gram pipeline AND the reconstruction
      val grams = docs.filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) - 8), i -> struct(i AS i, " +
            "CAST(conv(substring(md5(array_join(slice(toks, i + 1, 8), " +
            "' ')), 1, 15), 16, 10) AS BIGINT) AS gfp))")).as("g"))
        .select(col("doc_id"), col("g.i").as("i"), col("g.gfp").as("gfp"))
        .barrier() // counted AND joined back to — one gram pass, not two
      val dupFps = grams.groupBy(col("gfp"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1L)
        .select(col("gfp"))
      val dupStarts = grams.join(broadcast(dupFps), "gfp")
        .groupBy(col("doc_id")).agg(collect_list(col("i")).as("ds"))
      docs.join(dupStarts, Seq("doc_id"), "left")
        .withColumn("ds", coalesce(col("ds"), expr("CAST(array() AS ARRAY<INT>)")))
        .withColumn("kept", expr(
          "CASE WHEN size(toks) = 0 THEN CAST(array() AS ARRAY<STRING>) " +
            "ELSE transform(filter(sequence(0, size(toks) - 1), " +
            "p -> NOT exists(ds, i -> i <= p AND p <= i + 7)), " +
            "p -> element_at(toks, p + 1)) END"))
        .select(col("doc_id"),
          size(col("kept")).cast("long").as("n_kept"),
          (size(col("toks")) - size(col("kept"))).cast("long").as("n_dropped"),
          md5(array_join(col("kept"), " ")).as("clean_fp"))
    }),
    // corpus health report — the per-source executive rollup a curation
    // run reviews before deciding what to ingest: volume, classifier
    // keep rate, whole-doc clone rate, language spread. Rates are single
    // IEEE divisions of exact counts; the clone flag joins each doc to
    // its canonical-fingerprint group size on the thin fp key. One text
    // scan (score + fingerprint in the same narrow pass), one fp
    // shuffle, one per-source rollup.
    "corpus_health_report" -> ((s, dir) => {
      import s.implicits._
      // planted 'probe' source (block -96..-98, mirrored in the oracle):
      // a normalization-equivalent clone pair + one unique doc — the sf
      // corpus has no whole-doc clones, so without it the clone tier
      // would be structurally untested
      val fixture = healthFixture
        .toDF("doc_id", "source", "lang", "n_chars", "text")
      val scored = withClassifierScore(
          t(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("lang"),
              col("n_chars"), col("text"))
            .unionByName(fixture))
        .withColumn("fp", Text.fingerprint(col("text")))
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("keep"), col("fp"))
        .barrier() // the fp group sizes AND the rollup read it
      val groups = scored.groupBy(col("fp"))
        .agg(count(lit(1)).as("fp_ct"))
      scored.join(groups, "fp")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
          sum(when(col("fp_ct") > 1L, 1L).otherwise(0L)).as("clone_docs"),
          count_distinct(col("lang")).as("langs"))
        .select(col("source"), col("docs"), col("total_chars"),
          (col("kept").cast("double") / col("docs").cast("double"))
            .as("keep_rate"),
          (col("clone_docs").cast("double") / col("docs").cast("double"))
            .as("clone_rate"),
          col("langs"))
    }),
    // boilerplate n-gram mining — the op that BUILDS a stop-gram filter
    // list: the k most frequent 8-grams per language. Discipline: gram
    // STRINGS never ride the counting shuffle — counts aggregate on the
    // thin (lang, 8-byte gfp) key, the literal rank<=k cut compiles to
    // WindowGroupLimit (per-partition top-k before the exchange), and
    // only the ≤ k·|langs| winners join back (broadcast) to recover their
    // text from one gram instance. verify-before-wide-payload, applied to
    // mining instead of dedup.
    // Count-min-sketch heavy hitters — the missing member of the sketch
    // family (HLL: approx_uv_hll; quantiles: q_quantiles_approx): the
    // mergeable 4×256-cell CMS every streaming frequency monitor keeps,
    // verified in-query against the exact counts. The sketch is
    // DETERMINISTIC (md5 bucket hashing, the proven oracle device), so
    // DuckDB re-derives the whole sketch and the gate is hash-exact —
    // no tolerance verdict needed. Scale shape: two narrow passes over
    // the token scan — (a) exact counting on the 8-byte fp key +
    // TakeOrderedAndProject top-20 (the text_top_ngrams device), (b) a
    // ×4 row-hash explode collapsing map-side into the FIXED 1024-cell
    // sketch (the mergeable partial state a 1000-executor run reduces
    // in one combine); estimates probe 80 cells via broadcast. The CMS
    // guarantee (estimate ≥ exact, overestimate bounded by collisions)
    // surfaces as an explicit column and is pinned in CmsSpec.
    "text_heavy_hitters_cms" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(Text.bpeishTokens(col("text"))).as("tok"))
      cmsReport(cmsCellsOf(toks), cmsExactOf(toks))
    }),
    "text_top_ngrams" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val grams = t(s, dir, "documents")
        .select(col("lang"), Text.tokenize(col("text")).as("toks"))
        .filter(size(col("toks")) >= 8)
        .select(col("lang"), explode(expr(
          "transform(sequence(0, size(toks) - 8), " +
            "i -> array_join(slice(toks, i + 1, 8), ' '))")).as("gram"))
        .select(col("lang"), col("gram"),
          conv(substring(md5(col("gram")), 1, 15), 16, 10)
            .cast("long").as("gfp"))
        .barrier() // counted AND joined-back-to — one gram pass, not two
      // barrier the thin COUNTS, not the ranked winners: the costly gram
      // aggregation runs once, while the cheap WindowGroupLimit-cut rank
      // re-derives per consumer and stays visible in the final plan
      val counts = grams.groupBy(col("lang"), col("gfp"))
        .agg(count(lit(1)).as("cnt"))
        .barrier()
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("gfp").asc)
      val winners = counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
      // recover each winner's text from its instances: min(gram)
      // partial-aggregates map-side, so even a million-instance
      // boilerplate gram ships ONE string per partition
      val texts = grams
        .join(broadcast(winners.select(col("lang"), col("gfp"))),
          Seq("lang", "gfp"))
        .groupBy(col("lang"), col("gfp"))
        .agg(min(col("gram")).as("gram"))
      winners.join(texts, Seq("lang", "gfp"))
        // BIGINT at the output boundary only — casting between
        // row_number and its literal filter would defeat WindowGroupLimit
        .select(col("lang"), col("gram"), col("cnt"),
          col("rank").cast("long").as("rank"))
    }),
    // BPE merge-candidate counting — the distributed inner loop of
    // tokenizer training: count every ADJACENT pair of the bpeish
    // subword stream (the same token stream the pack materializer
    // slices) and rank the top merge candidates. BPE's apply-merge step
    // is a narrow per-doc rewrite; THIS counting pass is the
    // cluster-scale work a training run repeats per merge round. Scale
    // shape mirrors text_top_ngrams for the counting (pair text never
    // rides the shuffle — 8-byte fp key, map-side combine) but the rank
    // is GLOBAL, so the literal top-K goes through orderBy+limit =
    // TakeOrderedAndProject (per-partition partial top-K, no
    // single-partition window over the distinct-pair relation — an
    // unpartitioned row_number+filter does NOT get the WindowGroupLimit
    // cut, verified in the final plan); row_number then ranks the ≤K-row
    // result (bounded window), and only those winners join back
    // (broadcast) to recover text, min() shipping one string per
    // partition per winner.
    "text_bpe_merges" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = t(s, dir, "documents")
        .select(Text.bpeishTokens(col("text")).as("tl"))
        .filter(size(col("tl")) >= 2)
        .select(explode(expr(
          "zip_with(slice(tl, 1, size(tl) - 1), slice(tl, 2, size(tl) - 1), " +
            "(a, b) -> concat(a, ' ', b))")).as("pair"))
        .select(col("pair"),
          conv(substring(md5(col("pair")), 1, 15), 16, 10)
            .cast("long").as("pfp"))
        .barrier() // counted AND joined-back-to — one pair pass, not two
      val counts = pairs.groupBy(col("pfp"))
        .agg(count(lit(1)).as("pair_count"))
      // bounded-window: ranks the 40-row limit() below — never the
      // unbounded counts relation
      val w = Window.orderBy(col("pair_count").desc, col("pfp").asc)
      val winners = counts
        .orderBy(col("pair_count").desc, col("pfp").asc).limit(40)
        .withColumn("rank", row_number().over(w).cast("long"))
      val texts = pairs
        .join(broadcast(winners.select(col("pfp"))), Seq("pfp"))
        .groupBy(col("pfp")).agg(min(col("pair")).as("pair"))
      winners.join(texts, Seq("pfp"))
        .select(col("rank"), col("pair"), col("pair_count"))
    }),
    // The ITERATED tokenizer-training loop (r9 verdict #2): published BPE
    // training is count adjacent pairs → pick the top pair → REWRITE the
    // token stream (greedy left-to-right non-overlapping merge) →
    // recount, for N rounds. `text_bpe_merges` above is one round's
    // counting pass; this runs 3 full rounds and reports each round's
    // winner, its naive adjacent count, the number of occurrences
    // actually merged (≤ count when occurrences overlap, e.g. "a a a"),
    // and the stream size after the rewrite. Scale shape: the token
    // stream lives as a (doc_id, pos, tok) relation — per round, ONE
    // doc_id exchange covers every window (the island/lag windows
    // re-sort but never re-shuffle: HashPartitioning(doc_id) satisfies
    // the (doc_id, grp) clustering), the pair count is a map-side
    // combined thin aggregate, and the 1-row winner broadcasts back as
    // a nested-loop build side — never a driver-side loop over data.
    // Greedy non-overlap is windowed run-parity: overlapping candidates
    // (only possible for A==A runs) form idx-consecutive islands
    // (gaps-and-islands on idx − running-candidate-count), and greedy
    // left-to-right keeps exactly the even offsets within each island.
    "text_bpe_train" -> ((s, dir) => bpeTrain(s, dir, 3)._1),
    // Tokenizer INFERENCE over the trained merges — the serving twin of
    // text_bpe_train: per-doc raw vs post-merge token counts and the
    // exact integer compression ratio (micro-units, truncating DIV — the
    // fixed-point device, so both engines agree bit-for-bit). Applying
    // the learned merges to the training corpus IS the training stream's
    // final state (merges applied in learned order), so the apply pass
    // reuses the train relation; a deployment tokenizing NEW text would
    // run the same per-doc rewrite with the merge list broadcast.
    "text_bpe_apply" -> ((s, dir) => {
      val counts = bpeTrain(s, dir, 3)._2
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bpe"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          Text.bpeishTokenCount(col("text")).cast("long").as("tokens_raw"))
        .join(counts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("tokens_raw"),
          coalesce(col("n_bpe"), lit(0L)).as("tokens_bpe"),
          expr("CASE WHEN tokens_raw = 0 THEN CAST(1000000 AS BIGINT) " +
            "ELSE (coalesce(n_bpe, CAST(0 AS BIGINT)) * 1000000) " +
            "DIV tokens_raw END").as("compression_micro"))
    }),
    // corpus accounting: the per-(lang, source) rollup every training-data
    // pipeline reports — doc counts, token budget, quality aggregates
    "text_corpus_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(Text.wsTokenCount(col("text")).cast("long")).as("total_ws_tokens"),
          sum(Text.bpeishTokenCount(col("text")).cast("long")).as("total_bpe_tokens"))
    }),
    // PII scrub — the redaction pass every training corpus runs before
    // the tokenizer: emails then phone-like sequences replaced by typed
    // sentinels, with per-doc redaction counts for auditability. One
    // narrow codegen'd pass (regexp_replace/extract_all), no shuffle.
    // The sf tables carry no PII, so planted fixture rows (negative ids,
    // mirrored in the oracle) exercise both pattern families under the
    // gate; scrubbed text is fingerprinted, not emitted — the audit
    // record needs proof-of-scrub, not a second copy of the corpus.
    // k-ANONYMITY report (Sweeney) — the privacy companion to the PII
    // scrub: how re-identifiable are documents from their
    // QUASI-IDENTIFIERS alone (lang, source, log2 length bucket — the
    // metadata that survives scrubbing)? A doc in an equivalence class
    // of size < k is k-anonymity-violating: its metadata narrows it to
    // fewer than k candidates. Report: per class-size bucket (log2),
    // classes/docs, plus the fraction of docs violating k = 8 — the
    // number a release decision reads. Two chained thin aggregates
    // (QI tuple → class size, size → histogram), both map-side
    // combined; the broadcast-scalar idiom carries the one total.
    "privacy_k_anonymity" -> ((s, dir) => {
      val classes = t(s, dir, "documents")
        .groupBy(col("lang"), col("source"),
          expr("length(bin(greatest(n_chars, 1))) - 1").as("len_bucket"))
        .agg(count(lit(1)).as("class_size"))
        .barrier() // the histogram AND the violation total read it
      val tot = classes.agg(sum(col("class_size")).as("t_docs"),
        sum(when(col("class_size") < 8, col("class_size"))
          .otherwise(lit(0L))).as("t_violating"))
      classes
        .groupBy(expr("CAST(length(bin(class_size)) - 1 AS BIGINT)")
          .as("size_bucket"))
        .agg(count(lit(1)).as("n_classes"),
          sum(col("class_size")).as("n_docs"),
          min(col("class_size")).as("min_size"),
          max(col("class_size")).as("max_size"))
        .crossJoin(broadcast(tot)) // 1-row scalar
        .select(col("size_bucket"), col("n_classes"), col("n_docs"),
          col("min_size"), col("max_size"),
          expr("(t_violating * 1000000) DIV greatest(t_docs, 1)")
            .as("violating_k8_ppm"))
    }),
    "text_pii_scrub" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(piiFixture.toDF("doc_id", "text"))
      val deEmailed = regexp_replace(col("text"), EmailPat, "<EMAIL>")
      docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailPat), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(deEmailed, lit(PhonePat), lit(0)))
          .as("n_phones"),
        md5(regexp_replace(deEmailed, PhonePat, "<PHONE>")).as("scrubbed_fp"))
    }),
    "text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"), Text.fingerprint(col("text")).as("fp"))
    }),
    // Cross-source contamination check — the decontamination primitive:
    // how many exact content fingerprints does each pair of sources
    // share? (train/benchmark overlap detection). The join key is the
    // fingerprint, so candidates meet only on identical content — one
    // shuffle on fp, never an all-pairs source comparison.
    "text_contamination" -> ((s, dir) => {
      val fp = t(s, dir, "documents")
        .select(col("source"), Text.fingerprint(col("text")).as("fp"))
        .distinct()
      val a = fp.select(col("source").as("src_a"), col("fp"))
      val b = fp.select(col("source").as("src_b"), col("fp"))
      a.join(b, Seq("fp")).filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("shared_fps"))
    }),
    // Near-dup tier of the contamination check: decontamination matches
    // paraphrased/reformatted benchmark text, not just exact clones, so
    // the pair relation is the MinHash-LSH pipeline (bucketed, verified)
    // joined back to source attribution — still no all-pairs anywhere.
    "text_contamination_neardup" -> ((s, dir) => {
      val pairs = Dedup.queries("dedup_minhash_lsh")(s, dir)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
        .filter(col("src_a") =!= col("src_b"))
        .select(least(col("src_a"), col("src_b")).as("src_x"),
          greatest(col("src_a"), col("src_b")).as("src_y"))
        .groupBy(col("src_x"), col("src_y"))
        .agg(count(lit(1)).as("neardup_pairs"))
    }),
    // N-gram-overlap decontamination — the published test-set-overlap
    // method (13 consecutive word tokens shared with any held-out
    // benchmark doc flags the training doc). The eval split is a
    // deterministic hash-mod of doc_id plus the planted bench fixtures
    // (ids <= -100), so membership is reproducible and the oracle can
    // mirror it. Scale shape: each doc emits its DISTINCT 13-grams as
    // 60-bit md5-prefix fingerprints — the join key is 8 bytes, never
    // the gram string — and the benchmark side (held-out eval suites
    // are small by construction at any corpus size) broadcasts, so the
    // 100 TB training scan is one narrow gram pass + a map-side join.
    "text_contamination_ngram" -> ((s, dir) => {
      import s.implicits._
      val n = 13
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(ngramFixture.toDF("doc_id", "text"))
      val grams = gramFps(docs, n)
        .withColumn("is_bench", benchRuleCol)
        // both the bench and the train side read this relation; without a
        // reuse barrier Catalyst duplicates the whole scan+tokenize+gram
        // subtree — at corpus scale that re-reads 100 TB twice to save a
        // (long, bool, long) materialization
        .barrier()
      val bench = grams.filter(col("is_bench")).select(col("gfp")).distinct()
      grams.filter(!col("is_bench"))
        .join(broadcast(bench), Seq("gfp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("shared_13grams"))
    }),
    // Per-document contamination REPORT — the three decontamination tiers
    // composed into the audit table an operator reviews before dropping
    // data: for every training doc under the shared bench rule, did it
    // (a) exactly clone a benchmark doc (fp match), (b) quote one (≥1
    // shared 13-gram), (c) paraphrase one (verified MinHash near-dup
    // pair with a bench member)? One row per flagged doc with its tier
    // verdicts — the tiers' signals are complementary (the planted
    // fixtures include docs caught by exactly one tier each), and seeing
    // them side by side is what makes a drop decision auditable. Scale
    // shape: each tier is its already-verified fragment (fp anti-join
    // semantics, gram-fp broadcast join, banded+verified pairs); the
    // report is three thin per-doc relations full-outer-merged on doc_id.
    "text_contamination_report" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(ngramFixture.toDF("doc_id", "text"))
        .unionByName(bloomFixture.toDF("doc_id", "text"))
        .barrier() // all three tiers + the bench sides read this
      val withBench = docs.withColumn("is_bench", benchRuleCol)
      // tier (a): exact content clone
      val fps = withBench.select(col("doc_id"), col("is_bench"),
        Text.fingerprint(col("text")).as("fp"))
      val exact = fps.filter(!col("is_bench"))
        .join(broadcast(fps.filter(col("is_bench")).select(col("fp"))
          .distinct()), Seq("fp"), "left_semi")
        .select(col("doc_id"), lit(true).as("exact_clone"))
      // tier (b): quoted benchmark passage (13-gram overlap count)
      val grams = gramFps(docs, 13).join(
        withBench.select(col("doc_id"), col("is_bench")), "doc_id")
      val quoted = grams.filter(!col("is_bench"))
        .join(broadcast(grams.filter(col("is_bench")).select(col("gfp"))
          .distinct()), Seq("gfp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("shared_13grams"))
      // tier (c): whole-doc paraphrase (verified near-dup pair with a
      // bench member; either orientation)
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      // split shape (see dedup_minhash_lsh): thin sigs self-join via one
      // ReusedExchange + a separate 1x token relation — no fat barrier.
      // The barrier sits on the TINY pair relation instead, because the
      // two semi-joins below read `pairs` twice.
      val pairToks = docs.select(col("doc_id"),
        Text.tokenizeDistinct(col("text")).as("toks"))
      val pairs = Dedup.verifiedPairsSplit(
        Dedup.thinSigs(docs), pairToks, nPart).barrier()
      val bench = withBench.filter(col("is_bench")).select(col("doc_id"))
      val para = pairs
        .join(bench.select(col("doc_id").as("doc_b")), Seq("doc_b"),
          "left_semi")
        .select(col("doc_a").as("doc_id"))
        .unionByName(pairs
          .join(bench.select(col("doc_id").as("doc_a")), Seq("doc_a"),
            "left_semi")
          .select(col("doc_b").as("doc_id")))
        .join(bench, Seq("doc_id"), "left_anti") // report TRAINING docs only
        .distinct()
        .select(col("doc_id"), lit(true).as("near_dup"))
      exact.join(quoted, Seq("doc_id"), "full_outer")
        .join(para, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("exact_clone"), lit(false)).as("exact_clone"),
          coalesce(col("shared_13grams"), lit(0L)).as("shared_13grams"),
          coalesce(col("near_dup"), lit(false)).as("near_dup"))
    }),
    // Bloom-gated exact decontamination — the broadcast-filter front door
    // for when the benchmark fp set is itself too large to ship as a
    // broadcast hash relation (at 100 TB an eval-suite union can reach
    // 10^8 fps ≈ GBs of hash-join build side, but its Bloom bitmap is
    // |fps|·~10 bits): the filter is built DECLARATIVELY — k=4 md5-derived
    // bit positions per fp, bit_or-aggregated into one array<long> row —
    // and broadcast; the corpus pass is then a NARROW filter (4 probes per
    // doc, whole-stage codegen'd), and only surviving candidates reach the
    // exact verify join, so the join's input is |candidates|, not |corpus|.
    // Bloom false positives die in the verify join and false negatives
    // cannot exist, so the result is bit-identical to the ungated exact
    // gate — the oracle mirrors the exact semantics only; the pruning and
    // gated≡ungated identity are pinned by OperatorsSpec.
    "text_decontam_bloom" -> ((s, dir) => {
      val (candidates, _, bench) = bloomParts(s, dir)
      candidates.join(broadcast(bench), Seq("fp"), "left_semi")
        .select(col("doc_id"), col("fp"))
    }),
    // Repetition metrics — the repeated-content heuristics corpus filters
    // gate on: low distinct/total token ratio or one token dominating the
    // doc flags boilerplate and degenerate text. One narrow explode pass
    // (the generator evaluates the token array once per row) feeding two
    // partial-aggregating groupBys on the same doc_id key.
    "text_repetition" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokenize(col("text")).as("rtoks"))
        .select(col("doc_id"), explode(col("rtoks")).as("tok"))
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_toks"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("max_c"))
        .select(col("doc_id"), col("n_toks"),
          (col("n_distinct").cast("double") / col("n_toks").cast("double"))
            .as("distinct_ratio"),
          (col("max_c").cast("double") / col("n_toks").cast("double"))
            .as("top_token_share"))
    }),
    // Code-vs-prose detection — the corpus-routing heuristic (code goes
    // to a code pipeline with its own dedup/quality rules; The-Stack-
    // style filters start exactly here): symbol density, code-keyword
    // hits, and indented-line count, combined into an integer
    // evidence-per-100-chars score (one BIGINT DIV — bit-exact in any
    // engine, no float weights). The fixture corpus is prose-only, so
    // planted code/JSON/prose docs (negative ids, mirrored in the
    // oracle) put both classes under the gate — including a
    // keyword-in-prose doc that must stay BELOW threshold. One narrow
    // whole-stage-codegen pass: three regexp counts + a length per row,
    // no shuffle, no explode.
    "text_code_detect" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(codeFixture.toDF("doc_id", "text"))
      codeScored(docs).drop("text")
        .withColumn("is_code", col("code_score") >= 50)
    }),
    // Lane-routed corpus front door — the pipeline composition the code
    // detector exists FOR: route every doc to a code or prose lane
    // (code_score threshold), gate each lane with ITS OWN filter (prose:
    // the pipeline_clean_corpus quality predicate; code: a length floor
    // — prose heuristics like stopword ratio would wrongly kill source
    // files), then keep-first exact-dedup WITHIN lane (a code file and a
    // prose doc never compete for canonicality). Output is the full
    // routing/verdict relation. Scale shape: one narrow scoring pass,
    // the gates are per-row predicates, and the only shuffle is the
    // (lane, fp) dedup window over thin keyed rows.
    "pipeline_routed_corpus" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(codeFixture.toDF("doc_id", "text"))
      val routed = routedVerdicts(docs)
        .barrier() // read by the keep-first cut AND the output attach
      val w = Window.partitionBy(col("lane"), col("fp"))
        .orderBy(col("doc_id").asc)
      val kept = routed.filter(col("passed"))
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id"), (col("rn") === 1).as("kept"))
      routed.select(col("doc_id"), col("lane"), col("passed"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lane"), col("passed"),
          coalesce(col("kept"), lit(false)).as("kept"))
    }),
    // Tokenizer-vocabulary coverage curve — the vocab-sizing report run
    // before committing to a tokenizer: what fraction of the corpus token
    // mass the top-V vocabulary entries cover, at each candidate V. The
    // top-4096 cut is a TakeOrderedAndProject (per-partition partial
    // top-K, one bounded merge — the sample_exact_k_global device), so
    // the full vocabulary relation is never globally sorted; the rank
    // window then runs on the 4096-row cut only (B-row-bounded, the
    // prefix-sum discipline) and each coverage row is one integer sum
    // with a final int/int division.
    "text_vocab_coverage" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val tf = t(s, dir, "documents")
        .select(explode(Text.tokenize(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
        .barrier() // read by the total and the top-V cut
      val total = tf.agg(sum(col("tf")).as("total_tokens"))
      val ranked = tf.orderBy(col("tf").desc, col("tok").asc).limit(4096)
        .withColumn("rank", // bounded-window: over the 4096-row limit()
          row_number().over(Window.orderBy(col("tf").desc, col("tok").asc)))
      val sizes = Seq(8L, 16L, 32L, 64L, 256L).toDF("vocab_size")
      ranked.join(broadcast(sizes), col("rank") <= col("vocab_size"))
        .groupBy(col("vocab_size"))
        .agg(sum(col("tf")).as("covered_tokens"))
        .join(broadcast(total), lit(true))
        .select(col("vocab_size"), col("covered_tokens"),
          col("total_tokens"),
          (col("covered_tokens").cast("double") /
            col("total_tokens").cast("double")).as("coverage"))
    }),
    // Line-level dedup — the C4/RefinedWeb boilerplate-removal primitive,
    // the SUB-document sibling of whole-doc dedup: a line occurring in
    // more than maxDocs DISTINCT documents is chrome (cookie banners,
    // nav menus, license headers), and is removed from every document
    // while the surviving lines keep their order. The corpus fixture is
    // single-line, so planted multi-line docs (negative ids, mirrored in
    // the oracle) exercise the threshold: a banner in 4 docs is dropped
    // everywhere — including from a doc that was ONLY banner — while a
    // line shared by exactly 2 docs (= maxDocs) survives. Output is the
    // cleaned text's fingerprint + kept/dropped counts (proof-of-scrub,
    // not a second corpus copy — the PII-scrub discipline). Scale shape:
    // one narrow split+explode pass (barriered — the hot-line rollup and
    // the reassembly both read it), one count-distinct shuffle on the
    // 8-byte-keyed line fp, hot lines broadcast back as a LEFT ANTI
    // (boilerplate is tiny by definition), one per-doc reassembly agg.
    "text_line_dedup" -> ((s, dir) => {
      import s.implicits._
      val maxDocs = 2
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(lineFixture.toDF("doc_id", "text"))
      val lines = docs
        .select(col("doc_id"),
          posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
        .withColumn("lfp", md5(trim(col("line"))))
        .barrier() // hot-line rollup + reassembly both read this pass
      val hot = lines.groupBy(col("lfp"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > maxDocs).select(col("lfp"))
      val cleaned = lines.join(broadcast(hot), Seq("lfp"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(md5(concat_ws("\n",
            expr("transform(array_sort(collect_list(struct(idx, line)))," +
              " p -> p.line)"))).as("clean_fp"),
          count(lit(1)).as("n_kept"))
      docs.select(col("doc_id"),
          size(split(col("text"), "\n")).cast("long").as("n_lines"))
        .join(cleaned, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_fp"), md5(lit(""))).as("clean_fp"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
    }),
    // Snapshot diff — the incremental-ingest primitive: given yesterday's
    // corpus and today's, classify every doc_id as added / removed /
    // changed / unchanged by comparing content fingerprints. The two
    // snapshots are deterministic slices of the fixture corpus (hash-mod
    // membership; 10% of the common docs carry a text revision) so the
    // oracle reproduces them exactly. Scale shape: ONE full-outer join on
    // doc_id — with both snapshots bucketed by doc_id (the layout a
    // 100 TB corpus store would use) the join is co-partitioned
    // sort-merge with no shuffle; the fp compare is a narrow pass, text
    // itself never moves.
    "corpus_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = hashBucket("mem|", col("doc_id"))
      val oldSnap = docs.filter(m < 95)
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp_old"))
      val newText = when(hashBucket("upd|", col("doc_id")) < 10,
        concat(col("text"), lit(" rev2"))).otherwise(col("text"))
      val newSnap = docs.filter(m >= 5)
        .select(col("doc_id"), Text.fingerprint(newText).as("fp_new"))
      oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("fp_old").isNull, lit("added"))
            .when(col("fp_new").isNull, lit("removed"))
            .when(col("fp_old") === col("fp_new"), lit("unchanged"))
            .otherwise(lit("changed")).as("change"))
    }),
    // Quality-distribution drift between snapshots — the corpus-refresh
    // monitor a production pipeline runs BEFORE any gate moves: stopword-
    // ratio quality buckets counted in the old and the new snapshot (the
    // corpus_snapshot_diff conventions), per-bucket share in exact ppm
    // (n·1e6 div total — one integer division, bit-exact in any engine),
    // and the signed share shift. A scraper regression flooding low-
    // quality text shows as a large |shift_ppm| at the distribution head
    // while every per-doc gate still passes. Scale shape: two narrow
    // scans → two ≤21-row bucket aggs → broadcast 1-row totals → a tiny
    // full-outer on bucket keys; text never moves.
    "corpus_quality_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = hashBucket("mem|", col("doc_id"))
      val newText = when(hashBucket("upd|", col("doc_id")) < 10,
        concat(col("text"), lit(" rev2"))).otherwise(col("text"))
      def dist(d: org.apache.spark.sql.DataFrame,
          txt: org.apache.spark.sql.Column) = d
        .select(least(floor(Text.stopwordRatio(txt) * 20), lit(20L))
          .cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      def withPpm(d: org.apache.spark.sql.DataFrame, nCol: String,
          ppmCol: String) = {
        val tot = d.agg(sum(col("n")).as("tot"))
        d.join(broadcast(tot), lit(true))
          .select(col("bucket"), col("n").as(nCol),
            expr("n * 1000000L div tot").as(ppmCol))
      }
      withPpm(dist(docs.filter(m < 95), col("text")), "old_n", "old_ppm")
        .join(withPpm(dist(docs.filter(m >= 5), newText),
          "new_n", "new_ppm"), Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("old_n"), lit(0L)).as("old_n"),
          coalesce(col("new_n"), lit(0L)).as("new_n"),
          coalesce(col("old_ppm"), lit(0L)).as("old_ppm"),
          coalesce(col("new_ppm"), lit(0L)).as("new_ppm"),
          (coalesce(col("new_ppm"), lit(0L)) -
            coalesce(col("old_ppm"), lit(0L))).as("shift_ppm"))
    }),
    // Deterministic hash-mod sampling — the reproducible alternative to
    // RNG sampling a training pipeline actually wants: membership depends
    // only on doc_id, so reruns, backfills, and different cluster sizes
    // select the SAME subset (and the oracle can reproduce it exactly).
    // 10%-per-source stratified keep; pure narrow filter, no shuffle.
    "sample_hash_stratified" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(hashBucket("smp|", col("doc_id")) < 10)
        .select(col("doc_id"), col("source"))
    }),
    // The whole front door as ONE batch query — the composition every
    // training-data pipeline actually runs, and the batch twin of the
    // soak's streaming hygiene chain: benchmark holdout → quality gate →
    // exact keep-first dedup → decontamination vs the holdout's
    // fingerprints → deterministic split assignment. Each stage is the
    // already-oracle-checked fragment; composing them in one plan lets
    // Catalyst pipeline the narrow stages into the dedup shuffle. Scale
    // shape: two narrow filters, ONE shuffle (keep-first window on fp),
    // one broadcast anti-join (bench fps are small), one narrow project.
    "pipeline_clean_corpus" -> ((s, dir) => cleanCorpus(s, dir)),
    // The full "raw corpus → training batches" path in ONE plan: front
    // door (quality gate → keep-first dedup → decontamination → split) →
    // train-split survivors → sequence-packing index. What a training
    // run actually consumes — the pack index exists only over documents
    // that passed every hygiene stage, and composition beats running the
    // stages as separate re-scanning jobs: the survivors relation is a
    // thin (doc_id) set joined once back to the corpus for token counts;
    // text is scanned exactly twice overall (fingerprint+quality, token
    // count) regardless of how many stages the front door grows.
    "pipeline_packed_corpus" -> ((s, dir) => {
      val survivors = cleanCorpus(s, dir)
        .filter(col("split") === "train").select(col("doc_id"))
      val counts = t(s, dir, "documents")
        .join(survivors, "doc_id")
        .select(col("doc_id"),
          Text.bpeishTokenCount(col("text")).cast("long").as("toks"))
        .filter(col("toks") > 0L)
      packIndexFromCounts(counts, 512L)
    }),
    // Incremental front door over the snapshot diff — the composition
    // that makes `corpus_snapshot_diff` actionable: yesterday's run left a
    // thin quality ROSTER (doc_id, source, fp of every quality-passing
    // non-bench doc) and a bench-fp index; today only the docs the diff
    // classifies added/changed are scanned through fingerprint + quality,
    // the roster is patched (retire removed ∪ changed, insert the new
    // rows), and the keep-first window + decontamination anti-join + split
    // re-run over the THIN roster — never over unchanged text. The oracle
    // is a FULL front-door re-run on the new snapshot, so the gate proves
    // incremental ≡ full (including the subtle cases: a changed doc
    // vacating its fp group promotes the next-smallest id; a removed
    // bench doc stops quarantining its clones). Scale shape: text scan
    // cost is |added ∪ changed|, not |corpus|; the window shuffles
    // (long, long, 32B) roster rows only. In production the roster/bench
    // index are read back from the store; a driver query is
    // self-contained, so this one rebuilds them from the old-snapshot
    // branch — the plan still only fingerprints changed text on the NEW
    // branch, which is the property that matters at 100 TB.
    "pipeline_incremental_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = hashBucket("mem|", col("doc_id"))
      val isBench = hashBucket("bmk|", col("doc_id")) < 20
      // yesterday's materialized artifacts (store reads in production)
      val oldDocs = docs.filter(m < 95)
        .select(col("doc_id"), col("source"), col("text"))
      val oldRoster = oldDocs.filter(!isBench).filter(qualityPred)
        .select(col("doc_id"), col("source"),
          Text.fingerprint(col("text")).as("fp"))
      val oldBench = oldDocs.filter(isBench)
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      // today's snapshot — only diff-flagged docs get scanned
      val newText = when(hashBucket("upd|", col("doc_id")) < 10,
        concat(col("text"), lit(" rev2"))).otherwise(col("text"))
      val newSnap = docs.filter(m >= 5)
        .select(col("doc_id"), col("source"), newText.as("text"))
      // the diff is consumed FOUR times (newWork + retired, each feeding
      // the roster and bench branches) — without a barrier Catalyst
      // re-derives the full-outer fp diff per consumer, four corpus
      // double-scans instead of one (seen in the audited plan)
      val diff = queries("corpus_snapshot_diff")(s, dir).barrier()
      val newWork = newSnap.join(
        diff.filter(col("change").isin("added", "changed"))
          .select(col("doc_id")), "doc_id")
      val retired = diff.filter(col("change").isin("removed", "changed"))
        .select(col("doc_id"))
      incrementalCleanCorpus(oldRoster, oldBench, newWork, retired)
    }),
    // Token-budget selection — "take the highest-quality documents until
    // the token budget fills", the curation step that turns a scored
    // corpus into a training set. The interesting part is HOW the global
    // cumulative sum is computed: a naive running total needs a TOTAL
    // order (Window.orderBy with no partition = every row through one
    // partition — the anti-pattern this repo bans). Instead the
    // distributed prefix-sum: coarse score buckets give (a) per-bucket
    // token totals — a B+1-row relation (B = prefixBuckets, scales with
    // the cluster) whose running offset is computed in a bounded
    // single-partition window (cluster-size, not data-size), and (b) within-bucket cumulative sums — a Window
    // PARTITIONED by bucket, parallel across buckets. Global cum =
    // bucket offset + within-bucket cum, exactly; the budget filter is
    // then a narrow predicate. Same result as the oracle's global
    // running total, no global sort anywhere.
    "corpus_token_budget" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 12000L
      // score-bucket granularity scales with the cluster like the pack
      // index's id buckets (see prefixBuckets): equal scores share a
      // bucket at any granularity, so the selected set is identical
      val nB = prefixBuckets(s)
      val scored = t(s, dir, "documents").select(
          col("doc_id"), col("source"),
          Text.bpeishTokenCount(col("text")).cast("long").as("toks"),
          Text.stopwordRatio(col("text")).as("score"))
        .withColumn("bucket",
          least(floor(col("score") * nB), lit(nB.toLong)).cast("int"))
        .barrier() // read by the bucket rollup AND the final selection
      // bounded-window: input is the ≤ nB+1-row score-bucket rollup
      val wb = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = scored.groupBy(col("bucket"))
        .agg(sum(col("toks")).as("btoks"))
        .withColumn("prior", coalesce(sum(col("btoks")).over(wb), lit(0L)))
        .select(col("bucket"), col("prior"))
      val wd = Window.partitionBy(col("bucket"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored.join(broadcast(offsets), "bucket")
        .withColumn("cum", col("prior") + sum(col("toks")).over(wd))
        .filter(col("cum") <= budget)
        .select(col("doc_id"), col("source"), col("toks"))
    }),
    // Length-grouped batching — the padding-MINIMIZING alternative to
    // concatenation packing for models that must not split or mix
    // documents in a sequence (the published group-by-length batching of
    // seq2seq training): docs sort by (toks, doc_id), consecutive runs of
    // B docs form a batch, each batch pads to ITS OWN max length — near-
    // equal lengths share a batch, so padding collapses versus arrival-
    // order batching. The global rank is the SAME distributed prefix-sum
    // discipline as the pack index, but counting docs instead of summing
    // tokens: toks-RANGE buckets (toks*nB div (max+1), monotone in toks,
    // ties stay in-bucket so the (toks, doc_id) tie-break is local),
    // per-bucket COUNTS roll into bounded-window offsets, within-bucket
    // row_number partitions by bucket — no global sort, no unpartitioned
    // window over data. Emits the per-batch padding report (all exact
    // integers; padding = n_docs·max_toks − sum_toks is the waste a
    // loader would allocate).
    "corpus_length_batches" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val B = 32L
      val nB = prefixBuckets(s)
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          Text.bpeishTokenCount(col("text")).cast("long").as("toks"))
        .filter(col("toks") > 0L)
      val mx = toks.agg(max(col("toks")).as("mxt"))
      val bucketed = toks.join(broadcast(mx), lit(true))
        .withColumn("bucket", expr(s"toks * ${nB}L div (mxt + 1L)"))
        .drop("mxt")
        .barrier() // read by the count rollup AND the rank projection
      // bounded-window: input is the ≤ nB+1-row token-bucket rollup
      val wb = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("bn"))
        .withColumn("prior", coalesce(sum(col("bn")).over(wb), lit(0L)))
        .select(col("bucket"), col("prior"))
      bucketed.join(broadcast(offsets), "bucket")
        .withColumn("rn", col("prior") + row_number().over(
          Window.partitionBy(col("bucket"))
            .orderBy(col("toks"), col("doc_id"))))
        .withColumn("batch_id", expr(s"(rn - 1) div $B"))
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("toks")).as("max_toks"),
          sum(col("toks")).as("sum_toks"))
        .select(col("batch_id"), col("n_docs"), col("max_toks"),
          col("sum_toks"),
          (col("n_docs") * col("max_toks") - col("sum_toks")).as("padding"))
    }),
    // Sequence-packing index — the GPT-style concatenate-and-slice
    // layout: documents concatenate in doc_id order into one token
    // stream, sliced into fixed L-token training sequences; each doc owns
    // the token interval [start, start+toks), possibly straddling pack
    // boundaries. The emitted index (first/last pack + offset) is what a
    // training loader needs to materialize any pack without re-scanning
    // text. Mechanism: the same distributed prefix-sum as
    // corpus_token_budget, but ordered by doc_id — buckets are id RANGES
    // (doc_id*B div (max_id+1), monotone in doc_id, B rows at any corpus
    // size via a 1-row broadcast max; B scales with cluster parallelism,
    // see prefixBuckets), per-bucket offsets run in a bounded window,
    // within-bucket sums partition by bucket. Every
    // output is exact integer arithmetic → bit-exact oracle (which
    // computes the same intervals with a plain global running sum).
    "corpus_pack_sequences" -> ((s, dir) => packIndex(s, dir, 512L)),
    // The pack MATERIALIZATION plan — the loader-side consumer of the
    // pack index: one row per (pack, doc) with the doc-local token slice
    // [tok_from, tok_from + n_toks) that pack draws and where in the pack
    // it lands. A training loader assembles ANY pack from these spans
    // with point reads; nothing re-scans the corpus. The explode is
    // bounded (a doc touches ⌈toks/L⌉+1 packs), all arithmetic exact
    // integer intersection of [start, start+toks) with [p·L, (p+1)·L).
    "corpus_pack_spans" -> ((s, dir) =>
      packSpansFrom(packIndex(s, dir, 512L), 512L)),
    // Per-pack PROVENANCE manifest — the data-mixture accounting a
    // training run needs per batch (and the audit trail attribution
    // asks for): how many doc slices and tokens each pack holds, how
    // many distinct sources feed it, and which source dominates it (by
    // tokens, ties broken lexicographically). Scale shape: spans are
    // thin (pack_id, doc_id, n_toks) — no text anywhere; doc metadata
    // joins by doc_id; the per-(pack, source) rollup barriers once
    // (read by the totals AND the top-source rank) and the rank=1 cut
    // is a partitioned WindowGroupLimit.
    "corpus_pack_manifest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val spans = packSpansFrom(packIndex(s, dir, 512L), 512L)
        .select(col("pack_id"), col("doc_id"), col("n_toks"))
      val meta = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val perSource = spans.join(meta, "doc_id")
        .groupBy(col("pack_id"), col("source"))
        .agg(count(lit(1)).as("nd"), sum(col("n_toks")).as("toks"))
        .barrier() // read by the totals rollup AND the top-source rank
      val w = Window.partitionBy(col("pack_id"))
        .orderBy(col("toks").desc, col("source").asc)
      val top = perSource.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("pack_id"), col("source").as("top_source"),
          col("toks").as("top_source_toks"))
      perSource.groupBy(col("pack_id")).agg(
          sum(col("nd")).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          count(lit(1)).as("n_sources"))
        .join(top, "pack_id")
    }),
    // The materialized training batches — each pack's L tokens assembled
    // from its spans (the terminal product a training loader reads);
    // slice arithmetic is the span index's, so text content and index
    // can never disagree (movement audit on materializePacks).
    "corpus_pack_tokens" -> ((s, dir) =>
      materializePacks(
        t(s, dir, "documents").select(col("doc_id"), col("text")), 512L)),
    // Sliding-window chunking — the doc → chunk explosion an
    // embedding/RAG pipeline runs before encoding: fixed-size token
    // windows (W=64, stride S=48) with doc provenance and in-doc
    // offsets. Chunk starts are the multiples of S below the doc's
    // token count; each chunk covers [start, min(start+W, toks)).
    // Scale shape: ONE tokenize (the array binds as a Generate output,
    // the wordShingles lesson), a bounded explode (≤ ⌈toks/S⌉ chunks
    // per doc), slice+array_join reassembly — fully narrow, zero
    // exchanges; scan-bandwidth-bound at any corpus size.
    "text_chunk_windows" -> ((s, dir) =>
      chunkWindows(t(s, dir, "documents"))),
    // The RAG-prep composition: front door (quality gate → keep-first
    // dedup → decontamination → split) feeding the chunker — cleaned
    // TRAIN survivors exploded into encoder-ready windows. Same
    // composition discipline as pipeline_packed_corpus: the survivor
    // join is thin (doc_id only), text is scanned exactly twice
    // (fingerprint+quality in the front door, tokenize in the chunker)
    // no matter how many hygiene stages compose.
    "pipeline_chunked_corpus" -> ((s, dir) => {
      val surv = cleanCorpus(s, dir).filter(col("split") === "train")
        .select(col("doc_id"))
      chunkWindows(t(s, dir, "documents").join(surv, "doc_id"))
    }),
    // DSIR-style importance weights (hashed n-gram importance sampling):
    // per hashed-unigram bucket, the smoothed target-vs-raw frequency
    // ratio, where "target" is the quality-gate-passing subset standing
    // in for the published method's target domain. Two exact BIGINT
    // counts per bucket (one explode → one partial-combining hash-agg →
    // D=1024 rows), 1-row totals broadcast, ratio fixed-pointed to micro
    // units in one deterministic IEEE chain. At 100 TB the whole weight
    // model is a 1024-row relation — training it is one aggregation pass
    // over the corpus, and it broadcasts everywhere it's consumed.
    "text_dsir_weights" -> ((s, dir) => dsirWeights(s, dir)),
    // The consumer: per-document mean bucket weight (exact BIGINT sum /
    // token count — single IEEE division), then importance-proportional
    // selection via the deterministic ppm coin: accept iff
    // hash(doc) ppm < score/2 (capped) — docs that look like the target
    // distribution are kept ∝ their likelihood ratio, the published
    // importance-resampling step made replayable. Scale shape: the 1024-
    // row weight table broadcasts into the exploded token stream; the
    // per-doc rollup partial-combines map-side before the doc_id shuffle.
    "sample_importance_dsir" -> ((s, dir) => {
      val w = dsirWeights(s, dir).select(col("bucket"), col("w_micro"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("tok"))
        .select(col("doc_id"), dsirBucket(col("tok")).as("bucket"))
        .join(broadcast(w), "bucket")
        .groupBy(col("doc_id"))
        .agg(sum(col("w_micro")).as("w_sum"), count(lit(1)).as("n_toks"))
        .select(col("doc_id"), col("n_toks"),
          (col("w_sum").cast("double") / col("n_toks").cast("double"))
            .as("score"))
        .filter(ppmBucket("dsirs|", col("doc_id")) <
          least(lit(999999L), expr("CAST(round(score / 2) AS BIGINT)")))
    }),
    // Effective sample size of the DSIR importance weights — Kong's ESS
    // (the standard importance-sampling diagnostic): a weighted sample
    // of n docs carries the statistical power of only
    // (Σw)²/Σw² ≤ n unweighted ones, and a collapsing ESS is the
    // canonical symptom of a raw corpus far from the target
    // distribution (a few huge ratios dominate). One row per source
    // plus the corpus: weight-bearing docs, ESS in docs, and ESS as
    // ppm of n — which source's reweighted sample is effectively tiny.
    // All integers: per-doc weight is the exact micro mean truncated to
    // MILLI units so Σw fits int64 comfortably ((Σw_milli)² overflows
    // only past ~3e9·avg-weight docs; pre-scale DIV further at that
    // size). Scale shape: the 1024-row weight table broadcasts into the
    // token stream, the per-doc rollup partial-combines map-side, and
    // everything after is |sources|-row arithmetic.
    "sample_ess_report" -> ((s, dir) => {
      val w = dsirWeights(s, dir).select(col("bucket"), col("w_micro"))
      val perDoc = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(Text.tokenize(col("text"))).as("tok"))
        .select(col("doc_id"), col("source"),
          dsirBucket(col("tok")).as("bucket"))
        .join(broadcast(w), "bucket")
        .groupBy(col("doc_id"), col("source"))
        .agg(expr("(sum(w_micro) DIV count(1)) DIV 1000").as("mu"))
        .barrier() // the per-source rollup AND the corpus total
      def fold(g: org.apache.spark.sql.DataFrame) = g
        .select(col("source"), col("n_docs"),
          expr("(s1 * s1) DIV greatest(s2, 1)").as("ess_docs"),
          expr("(((s1 * s1) DIV greatest(s2, 1)) * 1000000)" +
            " DIV n_docs").as("ess_ppm"))
      fold(perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("mu")).as("s1"),
          sum(col("mu") * col("mu")).as("s2")))
        .unionByName(fold(perDoc
          .agg(count(lit(1)).as("n_docs"), sum(col("mu")).as("s1"),
            sum(col("mu") * col("mu")).as("s2"))
          .select(lit("__all__").as("source"), col("n_docs"),
            col("s1"), col("s2"))))
    }),
    // Curriculum ordering — the deterministic global training-order
    // position (easy → hard) a curriculum-scheduled run feeds its data
    // loader. Difficulty bands are exact integers (length bands, 16 of
    // them); the GLOBAL position inside the (band, doc_id) order is the
    // bucketed two-level rank: per-(band, id-range-bucket) counts roll up
    // through a bounded ≤16·B-row offset window, positions complete with
    // a per-(band, bucket) partitioned row_number. Same decomposition as
    // the pack index — no unpartitioned window ever sees a data-sized
    // relation, so the "sort the whole corpus by difficulty" step
    // survives 100 TB.
    "sample_curriculum_order" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nB = prefixBuckets(s)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          least(lit(15L), expr("CAST(length(text) AS BIGINT) div 256"))
            .as("band"))
      val mx = docs.agg(max(col("doc_id")).as("mx"))
      val bucketed = docs.join(broadcast(mx), lit(true))
        .withColumn("sub", expr(s"doc_id * ${nB}L div (mx + 1L)"))
        .drop("mx")
        .barrier() // read by the offset rollup AND the final rank
      // bounded-window: input is the ≤ bands·(nB+1)-row offset rollup
      val wb = Window.orderBy(col("band"), col("sub"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bucketed.groupBy(col("band"), col("sub"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prior", coalesce(sum(col("n")).over(wb), lit(0L)))
        .select(col("band"), col("sub"), col("prior"))
      bucketed.join(broadcast(offsets), Seq("band", "sub"))
        .withColumn("pos", col("prior") - 1L + row_number().over(
          Window.partitionBy(col("band"), col("sub"))
            .orderBy(col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("band"), col("pos"))
    }),
    // Winnowing fingerprints — the published robust-fingerprinting
    // algorithm (select the MINIMUM gram hash in each sliding window of w
    // consecutive gram hashes): any two docs sharing a run of at least
    // k+w-1 = 8 tokens are GUARANTEED to share a selected fingerprint,
    // while the selected density stays ~1/w of all grams — the partial-
    // overlap detector whose output is small enough to join at corpus
    // scale. Whole derivation is ONE narrow codegen'd pass of array HOFs
    // (tokens → gram hashes → window minima → distinct); only the
    // winnowed (doc_id, 8-byte fp) rows ever reach the exchange.
    "text_winnow_fps" -> ((s, dir) =>
      winnowFps(t(s, dir, "documents"), WinnowK, WinnowW)),
    // Partial-overlap pair detection — the CONSUMER of the winnowing
    // fingerprints (the published use: plagiarism/partial-dup detection):
    // two documents sharing at least minShared selected fingerprints
    // contain substantial common runs, even when neither whole-doc tier
    // (exact fp, MinHash) fires because the overlap is a passage, not the
    // document. Candidates meet ONLY on an 8-byte fingerprint key — the
    // winnowing guarantee bounds selected density to ~1/w of grams, which
    // is precisely what keeps this join affordable at corpus scale — and
    // the pair aggregate counts shared fps with doc_a < doc_b
    // orientation. One narrow winnow pass (shared derivation with
    // text_winnow_fps), one fp-keyed shuffle, one pair-keyed count.
    // Planted passage-sharing fixtures (-61..-63) make the tier's gap
    // visible under the gate: -61/-62 share an 11-token passage inside
    // otherwise-different docs.
    "dedup_partial_overlap" -> ((s, dir) => {
      import s.implicits._
      val minShared = 2
      val maxDf = 50
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(overlapFixture.toDF("doc_id", "text"))
      // fps read by the hot rollup AND both pair-join sides
      val fps = winnowFps(docs, WinnowK, WinnowW).barrier()
      // common-shingle suppression: a fingerprint in > maxDf docs is
      // corpus-wide boilerplate whose pair set grows quadratically —
      // published practice drops it BEFORE pairing (it carries no
      // pair-specific signal), and it is tiny by definition → broadcast
      val hot = fps.groupBy(col("wfp"))
        .agg(count(lit(1)).as("nd")).filter(col("nd") > maxDf)
        .select(col("wfp"))
      val kept = fps.join(broadcast(hot), Seq("wfp"), "left_anti")
      val a = kept.select(col("wfp"), col("doc_id").as("doc_a"))
      val b = kept.select(col("wfp"), col("doc_id").as("doc_b"))
      a.join(b, Seq("wfp")).filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= minShared)
    }),
    // Exact top-k-per-group sampling — "take exactly k docs per source,
    // stable across reruns": rank by a salted md5 of doc_id inside each
    // source and keep rank <= k. Unlike rate-based hash-mod sampling the
    // output size is exact; the plan is WindowGroupLimit (per-partition
    // k before the ranking exchange), so no source's full roster sorts.
    // exactly k docs GLOBALLY, stable across reruns — the "draw a fixed
    // 10k-doc eval subset" primitive. Deterministic salted-md5 order +
    // a LITERAL limit compiles to TakeOrderedAndProject: each partition
    // keeps its local top-k and only k rows per partition reach the
    // driver-side merge — no global sort, no single-partition shuffle.
    "sample_exact_k_global" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(md5(concat(lit("gk|"), col("doc_id").cast("string"))).asc,
          col("doc_id").asc)
        .limit(100)),
    "sample_topk_per_source" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(concat(lit("tk|"), col("doc_id").cast("string"))).asc,
          col("doc_id").asc)
      t(s, dir, "documents")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        // BIGINT at the output boundary only (WindowGroupLimit above)
        .select(col("source"), col("rk").cast("long").as("rk"),
          col("doc_id"))
    }),
    // Weighted sampling WITHOUT replacement — Efraimidis–Spirakis A-ES
    // (Inf. Proc. Letters 2006), the one-pass device behind every
    // weight-proportional corpus subsample: each row draws u ~ U(0,1]
    // and ranks by u^(1/w); the k LARGEST keys are a weighted sample
    // without replacement. Ranking by u^(1/w) DESC is ranking by E/w
    // ASC with E = −log2 u — and log2 here is the engine-portable
    // QUANTIZED log2 (the unigram-LM device at 2^20 sub-bit units: msb
    // from length(bin(x)), one linear interpolation inside the octave —
    // monotone, pure-integer, bit-identical in both engines; ln/pow
    // would not round-trip across libm builds). u is 1 + the top 40
    // md5 bits of a salted doc_id (deterministic — reruns and backfills
    // draw the SAME sample, the house sampling stance); w = token count
    // (length-weighted draws, the token-budget weighting). Magnitudes:
    // E_q ≤ 40·2^20 < 2^26, ·2^18 < 2^44 — no overflow anywhere near
    // int64. Scale shape: one narrow pass computes (w, u, key_q) per
    // row with NO shuffle; orderBy+limit compiles to
    // TakeOrderedAndProject (per-partition top-k then a k-row merge, no
    // global sort, plan-pinned in OperatorsSpec) — at 100 TB the sample
    // costs one scan plus a k-row reduction, and weights can swap to
    // any per-row signal (quality score, inverse source size) without
    // touching the shape.
    "sample_weighted_ares" -> ((s, dir) => {
      // E_q/w in 2^-18 units per weight unit: 41943040 = 40·2^20 (the
      // 40-bit u ceiling), 1048576 = 2^20, 262144 = 2^18
      val keyQ = expr("((41943040 - (1048576 * (length(bin(u)) - 1) + " +
        "((u - shiftleft(CAST(1 AS BIGINT), length(bin(u)) - 1)) " +
        "* 1048576) DIV shiftleft(CAST(1 AS BIGINT), " +
        "length(bin(u)) - 1))) * 262144) DIV w")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          greatest(size(Text.tokenize(col("text"))), lit(1))
            .cast("long").as("w"),
          (conv(substring(md5(concat(lit("ares|"),
            col("doc_id").cast("string"))), 1, 10), 16, 10)
            .cast("long") + 1L).as("u"))
        .withColumn("key_q", keyQ)
        .orderBy(col("key_q").asc, col("doc_id").asc)
        .limit(100)
        .select(col("doc_id"), col("source"), col("w"), col("key_q"))
    }),
    // Salient-term extraction — the tf-idf primitive reshaped for exact
    // verification: terms rank by (tf DESC, df ASC, tok ASC), which is
    // order-equivalent to tf·idf whenever tf ties break by rarity and
    // needs NO transcendental (ln) — every ranking input is an exact
    // integer, so the oracle is bit-exact in any engine. Scale shape: one
    // explode + (doc,tok) partial-agg; the SAME tf relation (barriered —
    // both branches read it) feeds the df rollup and the term join, so
    // token strings shuffle once; rank≤k compiles to WindowGroupLimit
    // (per-partition top-k before the final exchange).
    "text_salient_terms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .barrier()
      // tf rows are distinct (doc, tok) pairs, so df = row count per tok
      val dfr = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
      tf.join(dfr, "tok")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        // BIGINT at the output boundary only (WindowGroupLimit above)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("tok"), col("tf"), col("df"))
    }),
    // Unigram-LM quality gate (the CCNet shape: score every doc with a
    // language model trained on the corpus itself, flag the perplexity
    // tail) with a TRANSCENDENTAL-FREE score, so it stays bit-exact in
    // any engine: instead of mean -log p(tok) (whose log differs in ulps
    // across libm builds), score = mean over token occurrences of
    // 1e6 DIV cf(tok) — a per-token integer inverse corpus frequency.
    // Monotone in the same direction (rare-token-heavy docs score high,
    // exactly the docs a perplexity gate flags as tail), every partial an
    // exact integer, one final IEEE division. Scale shape: the SAME
    // barriered (doc, tok) tf relation as text_salient_terms feeds the
    // corpus-frequency rollup and the per-doc score join — token strings
    // shuffle once; the cf side is |vocab|-sized, the score agg is
    // map-side-combinable integer sums.
    "text_unigram_rarity" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .barrier()
      val cf = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cf"))
      tf.join(cf, "tok")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * expr("1000000L DIV cf")).as("rarity_micro_sum"))
        .select(col("doc_id"), col("n_tokens"), col("rarity_micro_sum"),
          (col("rarity_micro_sum").cast("double") /
            col("n_tokens").cast("double")).as("rarity"),
          ((col("rarity_micro_sum").cast("double") /
            col("n_tokens").cast("double")) > lit(250000.0)).as("is_tail"))
    }),
    // Exactly-k stratified sampling with PER-STRATUM budgets — "sample k
    // docs per (lang, source) cell, k from a config": the missing
    // primitive between rate-based mixture sampling (inexact counts) and
    // global top-k-per-source (one fixed k). Budgets ride a broadcast
    // join; rows rank inside their cell by a salted md5 of doc_id
    // (deterministic — reruns and backfills select the same docs); the
    // plan-shape trick is the LITERAL max-budget prefilter: row_number <=
    // max(k) compiles to WindowGroupLimit (per-partition top-max(k)
    // BEFORE the ranking exchange — no cell's full roster ever sorts),
    // and the per-cell k <= cell_k refinement is then a narrow filter.
    "sample_stratified_exact" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val budgets = stratifiedBudgets.toDF("b_lang", "cell_k")
      val maxK = stratifiedBudgets.map(_._2).max
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(md5(concat(lit("stx|"), col("doc_id").cast("string"))).asc,
          col("doc_id").asc)
      t(s, dir, "documents")
        .join(broadcast(budgets), col("lang") === col("b_lang"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= maxK)          // literal -> WindowGroupLimit
        .filter(col("rk") <= col("cell_k")) // per-cell budget, narrow
        // BIGINT at the output boundary only (OpModule discipline) — the
        // cast must stay ABOVE the literal filter or WindowGroupLimit
        // stops matching
        .select(col("lang"), col("source"),
          col("rk").cast("long").as("rk"), col("doc_id"))
    }),
    // Data-mixture sampling — the corpus-composition op a training run
    // applies last: per-language keep rates (the mixture weights) from a
    // broadcast config, membership a deterministic hash of doc_id (same
    // device as sample_train_split — reruns and backfills select the SAME
    // subset). Narrow: broadcast join + codegen'd filter, no shuffle.
    "sample_mixture_weights" -> ((s, dir) => {
      import s.implicits._
      val weights = Seq(("en", 100), ("zh", 80), ("de", 50), ("fr", 25),
        ("es", 10)).toDF("w_lang", "keep_pct")
      t(s, dir, "documents")
        .join(broadcast(weights), col("lang") === col("w_lang"))
        .filter(hashBucket("mix|", col("doc_id")) < col("keep_pct"))
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    // Temperature (α) sampling — the published multilingual-balance op
    // (XLM-R-style α≈0.5): per-language keep rates DERIVED FROM THE DATA,
    // r_l = min(1, 10/√N_l), so the kept distribution flattens from N_l
    // toward √N_l — head languages downsample, tail languages keep
    // everything. Unlike the normalized form (rates ∝ p_l^α / Σ p^α, whose
    // cross-language double SUM has engine-dependent accumulation order),
    // each rate here is a single-op IEEE chain (sqrt → divide → min →
    // scale → floor) on one exact integer count — bit-identical in any
    // engine, so the ppm thresholds are oracle-exact. Membership is the
    // same deterministic hash device as every sampler, at ppm
    // granularity. Scale shape: one tiny per-lang count agg → broadcast →
    // narrow codegen'd filter; no shuffle of the corpus.
    // Mixture-schedule materialization — the data-loader ORDER a
    // multi-source training run consumes: deterministic weighted
    // round-robin (stride scheduling) where each cycle takes w_s docs
    // from source s, w_s = ceil(sqrt(n_s)) (temperature α=0.5 over
    // source sizes — sqrt is IEEE-correctly-rounded in any engine, the
    // one transcendental-free weight family). Order key (cycle, source,
    // slot) is all-integer and strictly total; the global position is
    // the bucketed TWO-LEVEL rank (cycle-range buckets → bounded B-row
    // offset window → within-bucket rank), never a global sort — the
    // sample_curriculum_order device over a different order key.
    "sample_mixture_schedule" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nB = prefixBuckets(s)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val w = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .select(col("source"),
          expr("CAST(ceil(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)")
            .as("w"))
      val keyed = docs
        .withColumn("rk", (row_number().over(
          Window.partitionBy(col("source")).orderBy(col("doc_id"))) - 1)
          .cast("long"))
        .join(broadcast(w), "source")
        .select(col("doc_id"), col("source"),
          expr("rk DIV w").as("cycle"), expr("rk % w").as("slot"))
      val mxc = keyed.agg(max(col("cycle")).as("mxc"))
      val bucketed = keyed.join(broadcast(mxc), lit(true))
        .withColumn("sub", expr(s"cycle * ${nB}L DIV (mxc + 1L)"))
        .drop("mxc")
        .barrier() // read by the offset rollup AND the final rank
      // bounded-window: input is the ≤ nB+1-row cycle-bucket rollup
      val wb = Window.orderBy(col("sub"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bucketed.groupBy(col("sub"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prior", coalesce(sum(col("n")).over(wb), lit(0L)))
        .select(col("sub"), col("prior"))
      bucketed.join(broadcast(offsets), Seq("sub"))
        .withColumn("pos", col("prior") - 1L + row_number().over(
          Window.partitionBy(col("sub"))
            .orderBy(col("cycle"), col("source"), col("slot")))
          .cast("long"))
        .select(col("doc_id"), col("source"), col("cycle"), col("slot"),
          col("pos"))
    }),
    // Per-doc out-of-vocabulary rate against the top-V corpus vocabulary
    // — the other half of the tokenizer-eval pair with
    // text_vocab_coverage: a doc whose tokens fall outside the committed
    // vocab fragments into UNK/bytes at training time. The vocab cut is
    // the same TakeOrderedAndProject device (never a global sort); it
    // then BROADCASTS (V rows by construction) so the per-doc rollup is
    // one left join + map-side-combinable integer sums over the single
    // barriered (doc, tok) explode.
    "text_oov_rate" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("tok"))
        .barrier() // read by the vocab build AND the per-doc rollup
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("tok").asc).limit(16)
        .select(col("tok"), lit(true).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_toks"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_toks").cast("double"))
            .as("oov_rate"))
    }),
    "sample_temperature_alpha" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val rates = docs.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
        .select(col("lang").as("r_lang"),
          floor(lit(1000000d) * least(lit(1.0d),
            lit(10.0d) / sqrt(col("nl").cast("double"))))
            .cast("long").as("keep_ppm"))
      docs.join(broadcast(rates), col("lang") === col("r_lang"))
        .filter(ppmBucket("tmp|", col("doc_id")) < col("keep_ppm"))
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    // train/val/test split by the same device: an 80/10/10 assignment
    // that is stable under reprocessing and joins (split is a FUNCTION of
    // doc_id, never a stored random draw).
    "sample_train_split" -> ((s, dir) => {
      val bucket = hashBucket("spl|", col("doc_id"))
      t(s, dir, "documents").select(col("doc_id"), col("source"),
        when(bucket < 80, lit("train"))
          .when(bucket < 90, lit("val"))
          .otherwise(lit("test")).as("split"))
    }),
    // WordPiece greedy longest-match-first segmentation — the published
    // tokenizer-INFERENCE sibling of text_bpe_apply (BERT's MaxMatch):
    // a frequency-ranked subword inventory (top-512 substrings of length
    // ≤ 6, corpus-occurrence-weighted, plus every observed single char —
    // the fallback that guarantees per-round progress), then each word
    // segments by repeatedly taking the LONGEST inventory piece at the
    // cursor. The whole loop runs over DISTINCT WORDS (vocab-sized —
    // the corpus never enters the iteration), each round one broadcast
    // join + a per-word top-1 (a substring at fixed (pos, len) is
    // unique, so the longest match is deterministic with no tiebreak).
    // Early-exits when every word is finished; the fixed-32-round oracle
    // is identical because finished rows pass through unchanged. All
    // arithmetic integer; `done` marks >32-piece words deterministically
    // in both engines instead of refusing.
    "text_wordpiece_segment" -> ((s, dir) =>
      wordpieceSegments(s, dir)
        .select(col("word"), col("np").as("n_pieces"), col("seg"),
          (col("pos") > col("len")).as("done"))),
    // The fertility report every tokenizer eval publishes: per-doc word
    // and subword counts under the learned inventory. Docs join the
    // DISTINCT-word segmentation by word — the corpus pays one explode +
    // one thin join, never the segmentation loop.
    "text_wordpiece_counts" -> ((s, dir) => {
      val seg = wordpieceSegments(s, dir).select(col("word"), col("np"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("word"))
        .join(seg, "word")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("np")).as("n_subwords"))
    }),
    // Unigram-LM (SentencePiece) training — see the machinery Scaladoc
    // above unigramScore for the algorithm, the exact-integer qlog
    // likelihood device, and the scale shape (corpus scanned once; the
    // EM/Viterbi loop is vocab-sized). Output: the trained inventory
    // with counts and quantized log-weights.
    "text_unigram_train" -> ((s, dir) =>
      unigramScore(unigramModel(s, dir)._2)
        .select(col("piece"), col("plen"), col("c").as("cnt"),
          col("wq").as("weight_q"))),
    // Per-doc fertility under the trained unigram model — the
    // text_wordpiece_counts sibling: docs pay one explode + one thin
    // join against the DISTINCT-word segmentation, never the EM loop.
    "text_unigram_counts" -> ((s, dir) => {
      val (words, model) = unigramModel(s, dir)
      val seg = unigramViterbi(words, unigramScore(model))
        .filter(col("pos") === col("len")).select(col("word"), col("np"))
        .unionByName(words.filter(col("len") > UnigramMaxPos)
          .select(col("word"), lit(1L).as("np")))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("word"))
        .join(seg, "word")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("np")).as("n_subwords"))
    }),
    // Tokenizer-family comparison — the fertility report every tokenizer
    // paper publishes, computed for BOTH trained families on the SAME
    // distinct-word relation (one corpus scan feeds both): inventory
    // size, corpus word count, subword count (corpus-weighted over
    // distinct words), and fertility = subwords/word. BPE is excluded by
    // design: it tokenizes a different basis (the bpeish regex stream,
    // punctuation included), so its fertility is not comparable on this
    // axis — text_bpe_train reports its own per-round compression.
    "text_tokenizer_eval" -> ((s, dir) => {
      val words = wordpieceWords(s, dir)
        .barrier() // one scan feeds both families + the word total
      val grams = wordpieceGrams(words).barrier()
      val nw = words.agg(sum(col("wf")).as("n_words"))
        .barrier() // read by both output rows
      val wpVocab = wordpieceVocabFromGrams(grams).barrier()
      val wpSub = wordpieceLoop(words, wpVocab)
        .join(words.select(col("word"), col("wf")), "word")
        .agg(sum(col("wf") * col("np")).as("n_subwords"))
      val wpV = wpVocab.agg(count(lit(1)).as("vocab_size"))
      val um = unigramModelFrom(words, grams).barrier()
      val uSub = unigramViterbi(words, unigramScore(um))
        .filter(col("pos") === col("len"))
        .select(col("wf"), col("np"))
        .unionByName(words.filter(col("len") > UnigramMaxPos)
          .select(col("wf"), lit(1L).as("np")))
        .agg(sum(col("wf") * col("np")).as("n_subwords"))
      val uV = um.agg(count(lit(1)).as("vocab_size"))
      def row(name: String, v: org.apache.spark.sql.DataFrame,
          sub: org.apache.spark.sql.DataFrame) =
        v.crossJoin(sub).crossJoin(nw) // three 1-row scalars
          .select(lit(name).as("tokenizer"), col("vocab_size"),
            col("n_words"), col("n_subwords"),
            (col("n_subwords").cast("double") /
              col("n_words").cast("double")).as("fertility"))
      row("wordpiece", wpV, wpSub).unionByName(row("unigram", uV, uSub))
    }),
    // Viterbi segmentation of every distinct word under the trained
    // model (the tokenizer-inference sibling; words longer than the DP
    // horizon pass through as one uncovered piece).
    "text_unigram_segment" -> ((s, dir) => {
      val (words, model) = unigramModel(s, dir)
      val vit = unigramViterbi(words, unigramScore(model))
        .filter(col("pos") === col("len"))
        .select(col("word"), col("wf"), col("np").as("n_pieces"),
          col("seg"), col("sc").as("score_q"), lit(true).as("covered"))
      val long = words.filter(col("len") > UnigramMaxPos)
        .select(col("word"), col("wf"), lit(1L).as("n_pieces"),
          col("word").as("seg"), lit(0L).as("score_q"),
          lit(false).as("covered"))
      vit.unionByName(long)
    }))

  /** WordPiece machinery: inventory derivation + the greedy segmentation
    * fixpoint over the distinct-word relation. Returns the final state
    * (word, len, pos, np, seg) after ≤32 rounds. Mirrored CTE-for-CTE by
    * `oraWordpieceChain`.
    */
  private[graft] def wordpieceSegments(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val words = wordpieceWords(s, dir)
      .barrier() // read by the gram inventory AND the loop's s0
    wordpieceLoop(words, wordpieceVocab(words).barrier())
  }

  /** The greedy loop over a (word, len, ...) relation and a (piece, plen)
    * inventory — shared verbatim by the batch query and the streaming
    * inventory-maintenance tier, so store-derived and batch-derived
    * segmentations can only differ if their INPUTS differ. */
  private[graft] def wordpieceLoop(words: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.core.Barrier.BarrierOps
    val nWords = words.count()
    var state = words.select(col("word"), col("len"),
      lit(1L).as("pos"), lit(0L).as("np"), lit("").as("seg")).barrier()
    var round = 0
    var active = true
    while (active && round < WordpieceRounds) {
      val done = state.filter(col("pos") > col("len"))
      val undone = state.filter(col("pos") <= col("len"))
      val w = Window.partitionBy(col("word")).orderBy(col("plen").desc)
      val stepped = undone.join(broadcast(vocab),
          expr("substring(word, CAST(pos AS INT), CAST(plen AS INT)) = piece"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("word"), col("len"),
          (col("pos") + col("plen")).as("pos"),
          (col("np") + 1).as("np"),
          when(col("seg") === "", col("piece"))
            .otherwise(concat(col("seg"), lit("|"), col("piece"))).as("seg"))
      state = done.unionByName(stepped).barrier()
      round += 1
      active = !state.filter(col("pos") <= col("len")).isEmpty
    }
    // the stepped relation is an INNER join: a word whose character at
    // the cursor is absent from the inventory would silently vanish.
    // The batch derivation covers every observed char by construction;
    // the loud check exists for the streaming store, where a partially
    // committed batch (words written, grams not) could otherwise eat
    // words with no error. Re-ingesting the batch repairs the store.
    require(state.count() == nWords,
      "wordpiece loop lost words — the inventory does not cover every " +
        "observed character (partially-committed statistics store?); " +
        "re-ingest the missing batch")
    state
  }

  /** The WordPiece inventory off a (word, wf, len) distinct-word
    * relation: top-512 substrings (len ≤ 6) by corpus-occurrence weight
    * (freq DESC, piece ASC tie-break) plus every observed single char —
    * the progress-guaranteeing fallback. Exposed for the spec's true
    * greedy-walk recompute. */
  private[graft] def wordpieceVocab(words: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.core.Barrier.BarrierOps
    wordpieceVocabFromGrams(wordpieceGrams(words)
      .barrier()) // read by the top-512 cut AND the single-char floor
  }

  /** (piece, freq) gram weights of a (word, wf, len) relation — LINEAR
    * in wf, which is what makes the inventory streaming-maintainable:
    * per-batch contributions sum to the corpus value exactly. */
  private[graft] def wordpieceGrams(words: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    words
      .select(col("word"), col("wf"), col("len"),
        explode(sequence(lit(1L), col("len"))).as("pos"))
      .select(col("word"), col("wf"), col("len"), col("pos"),
        explode(sequence(lit(1L), lit(6L))).as("plen"))
      .filter(col("pos") + col("plen") - 1 <= col("len"))
      .select(expr("substring(word, CAST(pos AS INT), CAST(plen AS INT))")
        .as("piece"), col("wf"))
      .groupBy(col("piece")).agg(sum(col("wf")).as("freq"))

  /** The top-512 + single-char-floor cut over a (piece, freq) relation
    * (callers barrier the input — it feeds both branches). */
  private[graft] def wordpieceVocabFromGrams(
      grams: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val top = grams.orderBy(col("freq").desc, col("piece").asc).limit(512)
    top
      .unionByName(grams.filter(length(col("piece")) === 1))
      .distinct() // chars already in the top cut collapse
      .select(col("piece"), length(col("piece")).cast("long").as("plen"))
  }

  /** The distinct-word relation the WordPiece family iterates over. */
  private[graft] def wordpieceWords(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "documents")
      .select(explode(Text.tokenize(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
      .withColumn("len", length(col("word")).cast("long"))

  private val WordpieceRounds = 32

  // ---------------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) tokenizer training — the third
  // published subword family next to BPE (merge rules, text_bpe_train)
  // and WordPiece (greedy longest-match, text_wordpiece_segment): pieces
  // carry PROBABILITIES and a word's segmentation is the Viterbi-best
  // product of piece probabilities (Kudo 2018, arXiv:1804.10959).
  // Training is hard-EM (Viterbi-EM): seed a large candidate inventory
  // from substring statistics, then alternate (E) Viterbi-segmenting the
  // distinct-word relation under the current model with (M) re-estimating
  // piece counts from the segmentations, pruning the inventory on a
  // 512→384→256 schedule. Single chars are never pruned — the coverage
  // floor, the same role as WordPiece's char fallback.
  //
  // Exactness device: likelihoods live in 1/16-of-a-bit integer units.
  // qlog(x) = 16·msb(x) + (x − 2^msb)·16 DIV 2^msb is the floor of a
  // piecewise-linear log2 — monotone, pure-integer, and bit-identical in
  // Spark and DuckDB (msb = length(bin(x)) − 1 in both engines; log/exp
  // would NOT round-trip identically). A piece's Viterbi weight is
  // wq = qlog(count) − qlog(total) ≤ 0, so maximizing the summed weight
  // maximizes the quantized log-likelihood with the normalization
  // penalty applied INSIDE the DP comparison — the sim_pagerank
  // micro-unit fixed-point device applied to language modeling.
  //
  // Scale shape: the corpus is scanned exactly ONCE (the distinct-word
  // groupBy in wordpieceWords, map-side combined); every EM/DP round
  // iterates VOCAB-sized relations only — 3 Viterbi passes ×
  // UnigramMaxPos rounds of one broadcast join + a per-word top-1
  // (WindowGroupLimit) over ≤ len+1 rows per word. At 100 TB the loop
  // cost is unchanged; only the single corpus scan grows. Words longer
  // than the DP horizon pass through as one uncovered piece (the
  // published long-word escape hatch — BERT does the same at 100 chars).
  // ---------------------------------------------------------------------
  private[graft] val UnigramMaxPos = 16
  private val UnigramSeed = 512
  private val UnigramPruneSchedule = Seq(384, 256)

  /** Quantized log2 in 1/16-bit units over a positive BIGINT column
    * (SQL-expression form; counts are ≥ 1 by construction). */
  private def qlogSql(c: String): String =
    s"(16 * (length(bin($c)) - 1) + (($c - shiftleft(CAST(1 AS BIGINT), " +
      s"length(bin($c)) - 1)) * 16) DIV shiftleft(CAST(1 AS BIGINT), " +
      s"length(bin($c)) - 1))"

  /** Scores a (piece, c) model: attaches plen and the Viterbi weight
    * wq = qlog(c) − qlog(Σc). The total is a 1-row broadcast scalar. */
  private[graft] def unigramScore(model: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.core.Barrier.BarrierOps
    val mb = model.barrier() // read by the total AND the per-piece weights
    val tot = mb.agg(sum(col("c")).cast("long").as("tc"))
    mb.crossJoin(broadcast(tot)) // 1-row scalar: the broadcast-scalar idiom
      .select(col("piece"), length(col("piece")).cast("long").as("plen"),
        col("c"),
        expr(s"CAST(${qlogSql("c")} - ${qlogSql("tc")} AS BIGINT)").as("wq"))
  }

  /** Viterbi DP over the distinct-word relation under a scored model:
    * round r finalizes the best path reaching position r (pieces are ≤ 6
    * chars, so candidates only come from positions r−6..r−1 — already
    * final). Ties break by fewer pieces then seg ASC: total and
    * engine-identical. Returns all finalized (word, pos) states; the
    * full segmentation is the pos = len slice. */
  private[graft] def unigramViterbi(words: org.apache.spark.sql.DataFrame,
      scored: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.core.Barrier.BarrierOps
    val sv = scored.barrier() // read by every DP round
    var dp = words.filter(col("len") <= UnigramMaxPos)
      .select(col("word"), col("len"), col("wf"), lit(0L).as("pos"),
        lit(0L).as("sc"), lit(0L).as("np"), lit("").as("seg")).barrier()
    for (r <- 1 to UnigramMaxPos) {
      val byWord = Window.partitionBy(col("word"))
        .orderBy(col("sc").desc, col("np").asc, col("seg").asc)
      val stepped = dp
        .filter(col("pos") < col("len") && col("pos") < lit(r.toLong) &&
          col("pos") >= lit((r - 6).toLong))
        .join(broadcast(sv),
          expr(s"pos + plen = $r AND substring(word, CAST(pos + 1 AS INT), " +
            "CAST(plen AS INT)) = piece"))
        .select(col("word"), col("len"), col("wf"),
          (col("pos") + col("plen")).as("pos"),
          (col("sc") + col("wq")).as("sc"),
          (col("np") + lit(1L)).as("np"),
          when(col("seg") === "", col("piece"))
            .otherwise(concat(col("seg"), lit("|"), col("piece"))).as("seg"))
        .withColumn("rn", row_number().over(byWord))
        .filter(col("rn") === 1).drop("rn")
      dp = dp.unionByName(stepped).barrier()
    }
    dp
  }

  /** M-step + prune: corpus-weighted usage counts of the pieces the
    * Viterbi segmentations actually used, cut to the top-`keep`, with
    * every observed single char kept at a count floor of 1 (used chars
    * keep their true usage count) — so the next round's model always
    * covers every word. */
  private[graft] def unigramRecount(vit: org.apache.spark.sql.DataFrame,
      chars: org.apache.spark.sql.DataFrame, keep: Int)
      : org.apache.spark.sql.DataFrame = {
    import graft.core.Barrier.BarrierOps
    val usage = vit.filter(col("pos") === col("len"))
      .select(col("wf"), explode(split(col("seg"), "\\|")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wf")).as("c"))
      .barrier() // read by the top cut AND the char floor
    val top = usage.orderBy(col("c").desc, col("piece").asc).limit(keep)
    val floor = chars.join(usage, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("c"), lit(1L)).as("c"))
    top.unionByName(floor).distinct() // a top char re-floors identically
  }

  /** The trained unigram model: seed (top-512 substrings + single chars,
    * substring-occurrence weighted) then the hard-EM prune schedule.
    * Returns (distinct words, final (piece, c) model). */
  private[graft] def unigramModel(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    import graft.core.Barrier.BarrierOps
    val words = wordpieceWords(s, dir)
      .barrier() // read by the gram seed AND every Viterbi pass
    val grams = wordpieceGrams(words)
      .barrier() // read by the seed cut AND the char floor
    (words, unigramModelFrom(words, grams))
  }

  /** The EM chain off explicit (word, wf, len) + (piece, freq) relations
    * — shared VERBATIM by the batch query and the streaming statistics
    * tier (StatefulStreaming.unigramSegmentsFrom reads both relations
    * from the same additive store the WordPiece tier maintains), so
    * store-derived and batch-derived models can only differ if their
    * input STATISTICS differ. Callers barrier both inputs. */
  private[graft] def unigramModelFrom(words: org.apache.spark.sql.DataFrame,
      grams: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.core.Barrier.BarrierOps
    val chars = grams.filter(length(col("piece")) === 1)
      .select(col("piece")).barrier()
    var model: org.apache.spark.sql.DataFrame = grams
      .orderBy(col("freq").desc, col("piece").asc).limit(UnigramSeed)
      .select(col("piece"), col("freq").as("c"))
      .unionByName(grams.filter(length(col("piece")) === 1)
        .select(col("piece"), col("freq").as("c")))
      .distinct()
    for (keep <- UnigramPruneSchedule)
      model = unigramRecount(unigramViterbi(words, unigramScore(model)),
        chars, keep)
    model
  }

  /** BM25 query-term literals — one rare discriminative term (`dup`,
    * df ≈ 5% of docs by the generator's vocabulary) plus two common ones,
    * so the idf spread is real at every SF.
    */
  private[graft] val bm25Terms = Seq("dup", "vector", "window")

  /** One narrow array-zip bigram explode of a (doc_id, text) relation —
    * (doc_id, w1, w2), no shuffle. Shared by the bigram-LM / collocation
    * batch queries and the streaming model-maintenance tier. */
  private[graft] def bigramsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bigramsFromToks(
      docs.select(col("doc_id"), Text.tokenize(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2))

  /** The bigram explode over an already-tokenized (doc_id, toks) relation
    * (r18): split out of [[bigramsOf]] so a query that reads the bigram
    * relation TWICE can barrier at the token level — the checkpoint then
    * stores each token once per doc instead of twice per bigram event
    * (measured 0.31 s vs 0.54 s at sf0.1), and each consumer re-runs only
    * this cheap codegen'd explode, never the tokenizer.
    */
  private[graft] def bigramsFromToks(toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    toks
      .select(col("doc_id"), explode(expr(
        "transform(slice(toks, 1, size(toks) - 1), " +
          "(w, i) -> struct(w AS w1, element_at(toks, i + 2) AS w2))"))
        .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Distinct per-doc 8-gram fingerprints of a (doc_id, text) relation —
    * thin (doc_id, 60-bit gfp) rows, the decontamination family's md5
    * device. Shared by the `corpus_ngram_novelty` batch query and the
    * streaming first-seen tier so both paths shingle identically. */
  private[graft] def docGramsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), Text.tokenize(col("text")).as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 8), " +
          "i -> array_join(slice(toks, i + 1, 8), ' '))")).as("gram"))
      .select(col("doc_id"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10)
          .cast("long").as("gfp"))
      .distinct()

  /** The novelty tail over a distinct (doc_id, gfp) relation: first-seen
    * = min(doc_id) per gram, per-doc novel-fraction rollup. Shared by
    * the batch query and the streaming store reader so the attribution
    * arithmetic cannot drift between them. */
  /** Executable spec of the native `rolling_fps` walk (the MinhashSigs
    * discipline): per window, the SAME base / mod-(2^61−1) Horner
    * (base from the RollingFps.Base seed — default 131) evaluated with
    * composed builtins — DECIMAL(38,0) accumulator so
    * `acc·base + c` (< 2^101 at the 2^40 seed cap, inside DECIMAL38's
    * 10^38) never wraps int64 — over
    * `ascii()` of the per-character split. ASCII inputs only (every
    * normalize output; the expression's general code-point path is
    * pinned against a BigInt recompute in RollingFpsSpec). Sample-scale
    * by construction: it materializes every window slice — exactly the
    * xL cost the native walk exists to avoid. */
  private[graft] def rollingFpsSpecCol(l: Int): org.apache.spark.sql.Column =
    expr(
      s"""transform(
         |  CASE WHEN length(norm) >= $l
         |    THEN sequence(1, length(norm) - $l + 1)
         |    ELSE array() END,
         |  i -> CAST(aggregate(
         |    transform(slice(split(substring(norm, i, $l), ''), 1, $l),
         |      ch -> CAST(ascii(ch) AS DECIMAL(38, 0))),
         |    CAST(0 AS DECIMAL(38, 0)),
         |    (acc, c) -> CAST((acc * ${graft.plans.RollingFps.Base} + c)
         |      % ${graft.plans.RollingFps.P} AS DECIMAL(38, 0))
         |  ) AS BIGINT))""".stripMargin)

  private[graft] def noveltyReport(grams0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val grams = grams0.barrier() // first-seen rollup AND the join-back
    val first = grams.groupBy(col("gfp"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "gfp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), lit(1L))
          .otherwise(lit(0L))).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("(n_novel * 1000000) DIV n_grams").as("novelty_ppm"))
  }

  /** The bigram-LM train membership — a stable function of doc_id, so
    * streaming reprocessing and the batch query select the same docs. */
  private[graft] def lmTrainSplit(bigrams: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bigrams.filter(hashBucket("lm|", col("doc_id")) < 50)

  /** The interpolated-LM scoring tail over a bigram relation and the
    * model count relations cb(w1,w2,cb) / cw1(w1,cu1) / cw2(w2,cu2) /
    * 1-row tb — shared by the batch query and the streaming
    * model-maintenance tier so both paths run the SAME exact-integer
    * arithmetic. */
  private[graft] def bigramLmScore(bigrams: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame,
      cw1: org.apache.spark.sql.DataFrame,
      cw2: org.apache.spark.sql.DataFrame,
      tb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bigrams
      // cb is bigram-TYPE-bounded (vocab²) — same no-forced-broadcast
      // stance as knScore: AQE picks broadcast only when it fits
      .join(cb, Seq("w1", "w2"), "left")
      .join(broadcast(cw1), Seq("w1"), "left")
      .join(broadcast(cw2), Seq("w2"), "left")
      .join(broadcast(tb), lit(true))
      .withColumn("p_micro", expr(
        "(3 * (CASE WHEN cb IS NULL OR cu1 IS NULL THEN 0 " +
          "ELSE (1000000 * cb) DIV cu1 END) + " +
          "(CASE WHEN cu2 IS NULL THEN 0 " +
          "ELSE (1000000 * cu2) DIV tb END)) DIV 4"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("p_micro")).as("lm_micro_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("lm_micro_sum"),
        (col("lm_micro_sum").cast("double") /
          col("n_bigrams").cast("double")).as("lm_score"),
        ((col("lm_micro_sum").cast("double") /
          col("n_bigrams").cast("double")) < lit(32000.0)).as("is_tail"))

  /** The Kneser–Ney scoring tail over a bigram relation and the bigram
    * TYPE-count relation cb(w1, w2, cb) — shared by `text_kneser_ney`
    * and the streaming model read (`StatefulStreaming.knScoreFrom`):
    * the WHOLE KN model (c1, forward/backward continuation counts, the
    * type total) derives from cb by aggregation, so any path that can
    * reassemble cb (the batch split, the additive store) scores
    * identically. All exact micro-unit integers; see the query comment
    * for the discount algebra and the int64 bounds.
    */
  private[graft] def knScore(bigrams: org.apache.spark.sql.DataFrame,
      cb0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cb = cb0.barrier() // the model rollup AND the scoring join read it
    // ONE union rollup builds the whole per-word model — c1/n1p_fw for the
    // LEFT-context role, n1p_bw for the RIGHT — where r17 ran THREE
    // separate Exchange+HashAggregate pipelines over cb (r18, guide §2.4:
    // one exchange instead of three over the same vocab²-bounded relation;
    // measured 0.13 s vs 0.30 s at sf0.1). t_types (distinct bigram types)
    // = Σ n1p_fw, so the global rollup rides the same pass. Equivalence
    // with the r17 per-relation rollups: a word seen only as w2 gets
    // c1 = NULL (sum over no rows) exactly like the old missed cfw join,
    // and its n1p_fw = 0 (count) is only read on the c1-non-null branch;
    // symmetrically n1p_bw = 0 for a w1-only word feeds
    // (1000000 * 0) DIV t_types = 0 = the old NULL-branch value. Pinned
    // in OperatorsSpec (kn model fused-rollup equivalence).
    val model = cb
      .select(col("w1").as("word"), col("cb"), lit(1).as("fw"))
      .unionAll(cb.select(col("w2"), col("cb"), lit(0)))
      .groupBy(col("word"))
      .agg(sum(when(col("fw") === 1, col("cb"))).as("c1"),
        count(when(col("fw") === 1, lit(1))).as("n1p_fw"),
        count(when(col("fw") === 0, lit(1))).as("n1p_bw"))
      .barrier() // both scoring joins AND the t_types rollup read it
    val tt = model.agg(sum(col("n1p_fw")).as("t_types"))
    val m1 = model.select(col("word").as("w1"), col("c1"), col("n1p_fw"))
    val m2 = model.select(col("word").as("w2"), col("n1p_bw"))
    bigrams
      // cb is bigram-TYPE-bounded (vocab², not vocab): at 100 TB it can
      // exceed broadcast memory, so no forced hint — AQE broadcasts it
      // only when runtime stats say it fits, else this stays a shuffle
      // join on (w1, w2). The per-word model relation is vocab-bounded
      // and stays explicitly broadcast.
      .join(cb, Seq("w1", "w2"), "left")
      .join(broadcast(m1), Seq("w1"), "left")
      .join(broadcast(m2), Seq("w2"), "left")
      .join(broadcast(tt), lit(true))
      .withColumn("p_micro", expr(
        "CASE WHEN c1 IS NULL THEN " +
          "(CASE WHEN n1p_bw IS NULL THEN 0 " +
          "ELSE (1000000 * n1p_bw) DIV t_types END) " +
          "ELSE (CASE WHEN cb IS NULL THEN 0 " +
          "ELSE ((4 * cb - 3) * 250000) DIV c1 END) + " +
          "((750000 * n1p_fw * coalesce(n1p_bw, 0)) DIV t_types) DIV c1 " +
          "END"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("p_micro")).as("kn_micro_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("kn_micro_sum"),
        (col("kn_micro_sum").cast("double") /
          col("n_bigrams").cast("double")).as("kn_score"))
  }

  /** The BM25 scoring tail shared by the batch query and the streaming
    * index-maintenance tier (`StatefulStreaming.bm25SearchFrom`): rank a
    * posting relation `tf(doc_id, dl, tok, tf)` against per-term
    * `dfr(tok, df)` and 1-row `stats(n_docs, t_tokens)` — exact integer
    * micro-unit arithmetic throughout (see text_bm25_topk's comment for
    * the rational-idf derivation and overflow bounds), global top-k via
    * TakeOrderedAndProject.
    */
  private[graft] def bm25TopK(tf: org.apache.spark.sql.DataFrame,
      dfr: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      k: Int = 20): org.apache.spark.sql.DataFrame =
    tf.join(broadcast(dfr), "tok")
      .join(broadcast(stats), lit(true))
      .withColumn("idf_micro",
        expr("((n_docs - df) * 1000000) DIV (df + 1)"))
      .withColumn("sat_micro", expr(
        "(22000000 * t_tokens * tf) DIV " +
          "(10 * t_tokens * tf + 3 * t_tokens + 9 * n_docs * dl)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(expr("(idf_micro * sat_micro) DIV 1000000")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_terms"), col("score_micro"))

  /** IR / language-model scoring family. Both queries keep the score
    * TRANSCENDENTAL-FREE (the text_unigram_rarity device): every partial
    * is an exact integer in micro units, so Spark and DuckDB agree
    * bit-for-bit — no log/exp whose ulps differ across libm builds.
    */
  private lazy val irQueries: Map[String, Q] = Map(
    // BM25 top-k retrieval — the inverted-index ranking shape: score every
    // document against a fixed query-term set, return the global top 20.
    // RATIONAL-IDF variant: idf = (N - df) / (df + 1) in micro units
    // (monotone in the same direction as Robertson's log idf), and the
    // k1=1.2/b=0.75 saturation term cleared of divisions by multiplying
    // through by 10·T (T = corpus token count, avgdl = T/N):
    //   sat = 2.2·tf / (tf + 0.3 + 0.9·dl·N/T)
    //       = 22·T·tf / (10·T·tf + 3·T + 9·N·dl)      — exact integers.
    // Overflow bound: 22e6·T·tf ≤ 9.2e18 holds through the 64× scale rig
    // (T ≈ 7.7e8, tf ≤ 5e2). Scale shape: tf is FILTERED to the |Q| query
    // terms before its aggregate (the posting-list read — candidate docs
    // only, never the corpus); df and the (N, T) scalars ride broadcasts;
    // the global top-20 is orderBy+limit → TakeOrderedAndProject
    // (per-partition heads, no full sort).
    "text_bm25_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokenize(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
        .barrier() // read by the corpus stats AND the posting-list side
      val stats = docs.agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl").cast("long")).as("t_tokens"))
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
        .filter(col("tok").isin(bm25Terms: _*))
        .groupBy(col("doc_id"), col("dl"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .barrier() // feeds the df rollup AND the score join
      val dfr = tf.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("df"))
      bm25TopK(tf, dfr, stats)
    }),
    // Interpolated bigram-LM scoring — the CCNet quality gate's actual
    // shape: train an n-gram LM on a held-in slice (hash split, stable
    // under reprocessing), score EVERY doc by mean token predictability,
    // flag the low-likelihood tail. Model: p(w2|w1) = 3/4·cb/cu1 +
    // 1/4·cu2/Tb over TRAIN bigram events (cu1/cu2 = left/right unigram
    // occurrences, so both mixture components normalize exactly); unseen
    // bigrams back off to the unigram term alone. All probabilities in
    // integer micro units; the one IEEE division sits at the output.
    // Scale shape: ONE narrow bigram explode (array-zip HOF, no shuffle)
    // barriered for both the train rollups and the scoring pass; the
    // count relations are vocab²-bounded — broadcast here, and at a
    // 100 TB vocab they shuffle on (w1,w2) while the corpus side still
    // moves only thin (doc, w1, w2) rows.
    "text_bigram_lm" -> ((s, dir) => {
      val bigrams = bigramsOf(t(s, dir, "documents"))
        .barrier() // feeds the train counts AND the scoring join
      val train = lmTrainSplit(bigrams)
        .barrier() // three count rollups read it
      val cb = train.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cb"))
      val cw1 = train.groupBy(col("w1")).agg(count(lit(1)).as("cu1"))
      val cw2 = train.groupBy(col("w2")).agg(count(lit(1)).as("cu2"))
      val tb = train.agg(count(lit(1)).as("tb"))
      bigramLmScore(bigrams, cb, cw1, cw2, tb)
    }),
    // Kneser–Ney smoothed bigram LM — the published upgrade over the
    // interpolated JM model above, and THE smoothing every serious
    // n-gram LM ships (Chen & Goodman 1998): absolute discounting
    // D = 3/4 off every seen bigram, with the freed mass routed to the
    // CONTINUATION distribution — p_cont(w2) ∝ how many distinct left
    // contexts w2 follows, not how often it occurs (the "san francisco"
    // insight: 'francisco' is frequent but predictable, so its KN
    // backoff weight is tiny). Model over the SAME stable train split:
    //   p(w2|w1) = (cb − 3/4)⁺/c1 + (3/4 · n1p_fw(w1)/c1) · p_cont(w2)
    //   p_cont(w2) = n1p_bw(w2) / t_types
    // where c1 = Σ_w2 cb (train events starting w1), n1p_fw/n1p_bw =
    // distinct right/left neighbors, t_types = distinct bigram types.
    // Unseen w1 backs off to p_cont alone; unseen w2 scores 0. All in
    // exact micro-unit integers (quarters cleared: (cb − 3/4)·1e6/c1 =
    // (4·cb − 3)·250000 DIV c1), divisions ORDERED to bound magnitude:
    // (750000·n1p_fw·n1p_bw) DIV t_types DIV c1 — numerator ≤
    // 7.5e5·V², int64-safe through V ≈ 3.5e6 distinct train words
    // (64× rig: V = 31). By construction Σ_w2 p(w2|w1)·1e6 ≤ 1e6 with
    // < 1 micro truncation loss per continuation — the normalization
    // identity the spec pins per context. Scale shape: identical to
    // text_bigram_lm — ONE barriered bigram explode feeds the train
    // rollups and the scoring pass; every model relation derives from
    // the vocab²-bounded cb rollup (c1/n1p_fw/n1p_bw/t_types are
    // aggregates OF cb, not corpus passes) and rides broadcasts.
    "text_kneser_ney" -> ((s, dir) => {
      // barrier measured AGAINST the recompute alternative (r14): without
      // it the twice-read bigram relation re-tokenizes AND re-plans both
      // branches — 4.45 s vs 2.96 s at sf0.1 on the same harness. The
      // materialization wins; keep it — but at the TOKEN level (r18): the
      // checkpoint stores each token once per doc instead of twice per
      // bigram event (0.31 s vs 0.54 s at sf0.1), and the two consumers
      // re-run only the cheap codegen'd bigram explode, never the
      // tokenizer.
      // the train membership is a function of doc_id ALONE, so evaluate
      // its salted-md5 bucket ONCE PER DOC here (r18) instead of once per
      // bigram event inside lmTrainSplit — the r17 shape ran the
      // md5→conv→substring chain 53× per doc (265k events vs 5k docs at
      // sf0.1, measured 0.35 s vs 0.1 s for the train rollup leg) — and
      // filter BEFORE the explode, so the train side explodes only train
      // docs. Same predicate, same rows; oracle unchanged.
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokenize(col("text")).as("toks"),
          (hashBucket("lm|", col("doc_id")) < 50).as("is_train"))
        .filter(size(col("toks")) >= 2)
        .barrier() // feeds the train counts AND the scoring join
      val bigrams = bigramsFromToks(toks.select(col("doc_id"), col("toks")))
      knScore(bigrams,
        bigramsFromToks(toks.filter(col("is_train"))
          .select(col("doc_id"), col("toks")))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb")))
    }),
    // CCNet-style perplexity bucketing — the published head/middle/tail
    // split: score every doc by the trained bigram LM (the text_bigram_lm
    // model verbatim — one train split, same interpolated micro-unit
    // arithmetic), then cut each LANGUAGE's score distribution at its
    // 1/3 and 2/3 quantiles: bottom third = tail (highest perplexity),
    // top third = head. The quantiles come from a BOUNDED histogram, not
    // a corpus sort: per-doc scores are integers in [0, 1e6], so the
    // (lang, score) rollup has ≤ |langs|·1e6 cells at ANY corpus size —
    // the cumulative window and the cut search run over that histogram,
    // and the corpus itself only ever feeds partial-aggregating counts
    // and one broadcast-cuts join. This is exactly how CCNet avoids
    // sorting Common Crawl: quantile CUTOFFS first, then a comparison
    // pass. Everything integer → hash-exact under the oracle.
    "text_perplexity_buckets" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val bigrams = bigramsOf(docs)
        .barrier() // feeds the train counts AND the scoring join
      val train = lmTrainSplit(bigrams)
        .barrier() // three count rollups read it
      val cb = train.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cb"))
      val cw1 = train.groupBy(col("w1")).agg(count(lit(1)).as("cu1"))
      val cw2 = train.groupBy(col("w2")).agg(count(lit(1)).as("cu2"))
      val tb = train.agg(count(lit(1)).as("tb"))
      val scored = bigramLmScore(bigrams, cb, cw1, cw2, tb)
        .select(col("doc_id"), expr("lm_micro_sum DIV n_bigrams").as("sc"))
      val withLang = scored
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .barrier() // read by the histogram AND the assignment pass
      val hist = withLang.groupBy(col("lang"), col("sc"))
        .agg(count(lit(1)).as("cnt"))
      val wl = Window.partitionBy(col("lang")).orderBy(col("sc").asc)
      val cum = hist.withColumn("cum", sum(col("cnt")).over(wl))
      val ntot = hist.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
      val cuts = cum.join(ntot, "lang")
        .groupBy(col("lang"))
        .agg(min(when(col("cum") * 3 >= col("n"), col("sc"))).as("c_lo"),
          min(when(col("cum") * 3 >= col("n") * 2, col("sc"))).as("c_hi"))
      withLang.join(broadcast(cuts), "lang")
        .select(col("doc_id"), col("lang"), col("sc").as("lm_avg_micro"),
          when(col("sc") <= col("c_lo"), lit("tail"))
            .when(col("sc") <= col("c_hi"), lit("middle"))
            .otherwise(lit("head")).as("bucket"))
    }),
    // Collocation extraction — the top-20 adjacent word pairs by LIFT
    // (observed/expected co-occurrence: cb·T / (cu1·cu2), the
    // transcendental-free twin of PMI — identical ranking since log is
    // monotone), minimum support 5. The corpus-analysis op behind
    // phrase mining and tokenizer-vocab candidates. Micro-unit integer
    // lift with divisions ORDERED to stay in int64 at 64×:
    // ((1e6·cb) DIV cu1) · T DIV cu2 — both engines run the same two
    // truncating DIVs in the same order. Scale shape: one narrow bigram
    // explode, vocab²-bounded count relations, TakeOrderedAndProject
    // top-20 — the corpus never rides a ranking shuffle.
    "text_collocations" -> ((s, dir) => {
      val bigrams = bigramsOf(t(s, dir, "documents"))
        .barrier() // four count rollups read it
      val cb = bigrams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cb"))
      val cw1 = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("cu1"))
      val cw2 = bigrams.groupBy(col("w2")).agg(count(lit(1)).as("cu2"))
      val tb = bigrams.agg(count(lit(1)).as("tb"))
      cb.filter(col("cb") >= 5)
        .join(broadcast(cw1), "w1")
        .join(broadcast(cw2), "w2")
        .join(broadcast(tb), lit(true))
        .withColumn("lift_micro",
          expr("((1000000 * cb) DIV cu1) * tb DIV cu2"))
        .orderBy(col("lift_micro").desc, col("w1").asc, col("w2").asc)
        .limit(20)
        .select(col("w1"), col("w2"), col("cb"), col("lift_micro"))
    }),
    // TextRank keyword extraction (Mihalcea & Tarau 2004) — the graph
    // sibling of the frequency/lift rankers above: words vote for the
    // words they co-occur with, and centrality in the co-occurrence
    // graph (not raw count) ranks the keywords. Graph: distinct
    // adjacent-pair edges, symmetrized; rank: 2 damped power-iteration
    // rounds in exact micro-unit integers — the sim_pagerank device
    // verbatim, so engine and oracle agree bit-for-bit. Scale shape:
    // the corpus is touched ONCE (the narrow bigramsOf explode feeding
    // a distinct on (w1,w2)); everything after — edges, degrees, both
    // rank rounds — iterates the vocab²-bounded pair relation, and the
    // top-50 cut is a TakeOrderedAndProject, so no corpus-sized rows
    // ever ride a ranking shuffle. At 100 TB the pair relation grows
    // with the VOCABULARY, not the data.
    "text_textrank_keywords" -> ((s, dir) => {
      val pairs = bigramsOf(t(s, dir, "documents"))
        .filter(col("w1") =!= col("w2"))
        .select(col("w1").as("src"), col("w2").as("dst"))
        .distinct()
      val edges = pairs
        .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().barrier() // degrees + both rank rounds read it
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
      val e = edges.join(deg, "src").barrier() // read by both rounds
      val nodes = edges.select(col("src").as("w")).distinct()
        .barrier() // r0 and both rounds' left joins
      def round(r: org.apache.spark.sql.DataFrame) = {
        val contrib = e
          .join(r.withColumnRenamed("w", "src"), "src")
          .select(col("dst"), expr("pr DIV od").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        nodes
          .join(contrib.withColumnRenamed("dst", "w"), Seq("w"), "left")
          .select(col("w"),
            expr("150000 + (85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100")
              .as("pr"))
      }
      val r0 = nodes.select(col("w"), lit(1000000L).as("pr"))
      round(round(r0))
        .orderBy(col("pr").desc, col("w").asc).limit(50)
        .select(col("w").as("word"), col("pr").as("rank_micro"))
    }))

  /** DuckDB mirrors of [[irQueries]] — same tokenization CTEs as the
    * rarity/salient oracles; HUGEINT sums cast back to BIGINT; `//` is
    * DuckDB's integer DIV (identical on the all-positive operands here).
    * Bigram pairs come from DuckDB's aligned multi-unnest zip.
    */
  private lazy val irOracles: Map[String, String] = Map(
    "text_bm25_topk" -> {
      val terms = bm25Terms.map("'" + _ + "'").mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM (
         |    SELECT doc_id, list_filter(
         |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')
         |      AS toks
         |    FROM documents)),
         |stats AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS t_tokens FROM d),
         |tf AS (
         |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
         |  WHERE tok IN ($terms) GROUP BY 1, 2, 3),
         |dfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf
         |        GROUP BY 1)
         |SELECT doc_id, n_terms, score_micro FROM (
         |  SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |    CAST(sum((((n_docs - df) * 1000000 // (df + 1)) *
         |      ((22000000 * t_tokens * tf) //
         |       (10 * t_tokens * tf + 3 * t_tokens + 9 * n_docs * dl)))
         |      // 1000000) AS BIGINT) AS score_micro
         |  FROM tf JOIN dfr USING (tok) CROSS JOIN stats
         |  GROUP BY 1)
         |ORDER BY score_micro DESC, doc_id ASC
         |LIMIT 20""".stripMargin
    },
    "text_bigram_lm" ->
      s"""WITH d AS (
         |  SELECT doc_id, toks FROM (
         |    SELECT doc_id, list_filter(
         |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')
         |      AS toks
         |    FROM documents)
         |  WHERE len(toks) >= 2),
         |bg AS (
         |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
         |    unnest(toks[2:len(toks)]) AS w2
         |  FROM d),
         |train AS (
         |  SELECT * FROM bg
         |  WHERE ${oraHashBucket("lm|")} < 50),
         |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM train
         |       GROUP BY 1, 2),
         |cw1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu1 FROM train
         |        GROUP BY 1),
         |cw2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS cu2 FROM train
         |        GROUP BY 1),
         |tb AS (SELECT CAST(count(*) AS BIGINT) AS tb FROM train),
         |scored AS (
         |  SELECT bg.doc_id,
         |    (3 * (CASE WHEN cb.cb IS NULL OR cw1.cu1 IS NULL THEN 0
         |          ELSE (1000000 * cb.cb) // cw1.cu1 END)
         |     + (CASE WHEN cw2.cu2 IS NULL THEN 0
         |        ELSE (1000000 * cw2.cu2) // tb.tb END)) // 4 AS p_micro
         |  FROM bg
         |  LEFT JOIN cb ON cb.w1 = bg.w1 AND cb.w2 = bg.w2
         |  LEFT JOIN cw1 ON cw1.w1 = bg.w1
         |  LEFT JOIN cw2 ON cw2.w2 = bg.w2
         |  CROSS JOIN tb)
         |SELECT doc_id, n_bigrams, lm_micro_sum,
         |  CAST(lm_micro_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
         |    AS lm_score,
         |  (CAST(lm_micro_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
         |    < 32000.0 AS is_tail
         |FROM (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(p_micro) AS BIGINT) AS lm_micro_sum
         |  FROM scored GROUP BY 1)""".stripMargin,
    // mirrors text_kneser_ney: same bigram CTEs, the cb rollup, the
    // four model aggregates OF cb, and the same division order
    "text_kneser_ney" ->
      s"""WITH d AS (
         |  SELECT doc_id, toks FROM (
         |    SELECT doc_id, list_filter(
         |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')
         |      AS toks
         |    FROM documents)
         |  WHERE len(toks) >= 2),
         |bg AS (
         |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
         |    unnest(toks[2:len(toks)]) AS w2
         |  FROM d),
         |train AS (
         |  SELECT * FROM bg
         |  WHERE ${oraHashBucket("lm|")} < 50),
         |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM train
         |       GROUP BY 1, 2),
         |cfw AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1,
         |          CAST(count(*) AS BIGINT) AS n1p_fw FROM cb GROUP BY 1),
         |cbw AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bw FROM cb
         |        GROUP BY 1),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM cb),
         |scored AS (
         |  SELECT bg.doc_id,
         |    CASE WHEN cfw.c1 IS NULL THEN
         |      (CASE WHEN cbw.n1p_bw IS NULL THEN 0
         |       ELSE (1000000 * cbw.n1p_bw) // tt.t_types END)
         |    ELSE (CASE WHEN cb.cb IS NULL THEN 0
         |          ELSE ((4 * cb.cb - 3) * 250000) // cfw.c1 END)
         |      + ((750000 * cfw.n1p_fw * coalesce(cbw.n1p_bw, 0))
         |         // tt.t_types) // cfw.c1
         |    END AS p_micro
         |  FROM bg
         |  LEFT JOIN cb ON cb.w1 = bg.w1 AND cb.w2 = bg.w2
         |  LEFT JOIN cfw ON cfw.w1 = bg.w1
         |  LEFT JOIN cbw ON cbw.w2 = bg.w2
         |  CROSS JOIN tt)
         |SELECT doc_id, n_bigrams, kn_micro_sum,
         |  CAST(kn_micro_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
         |    AS kn_score
         |FROM (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(p_micro) AS BIGINT) AS kn_micro_sum
         |  FROM scored GROUP BY 1)""".stripMargin,
    // mirrors text_perplexity_buckets: the text_bigram_lm CTE chain up
    // to per-doc integer mean score, then the bounded (lang, sc)
    // histogram, ascending cumulative window, tercile-cut min-search,
    // and the comparison-pass bucket assignment
    "text_perplexity_buckets" ->
      s"""WITH d AS (
         |  SELECT doc_id, toks FROM (
         |    SELECT doc_id, list_filter(
         |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')
         |      AS toks
         |    FROM documents)
         |  WHERE len(toks) >= 2),
         |bg AS (
         |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
         |    unnest(toks[2:len(toks)]) AS w2
         |  FROM d),
         |train AS (
         |  SELECT * FROM bg
         |  WHERE ${oraHashBucket("lm|")} < 50),
         |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM train
         |       GROUP BY 1, 2),
         |cw1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu1 FROM train
         |        GROUP BY 1),
         |cw2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS cu2 FROM train
         |        GROUP BY 1),
         |tb AS (SELECT CAST(count(*) AS BIGINT) AS tb FROM train),
         |scored AS (
         |  SELECT bg.doc_id,
         |    (3 * (CASE WHEN cb.cb IS NULL OR cw1.cu1 IS NULL THEN 0
         |          ELSE (1000000 * cb.cb) // cw1.cu1 END)
         |     + (CASE WHEN cw2.cu2 IS NULL THEN 0
         |        ELSE (1000000 * cw2.cu2) // tb.tb END)) // 4 AS p_micro
         |  FROM bg
         |  LEFT JOIN cb ON cb.w1 = bg.w1 AND cb.w2 = bg.w2
         |  LEFT JOIN cw1 ON cw1.w1 = bg.w1
         |  LEFT JOIN cw2 ON cw2.w2 = bg.w2
         |  CROSS JOIN tb),
         |ds AS (
         |  SELECT doc_id,
         |    CAST(sum(p_micro) AS BIGINT) // CAST(count(*) AS BIGINT)
         |      AS sc
         |  FROM scored GROUP BY 1),
         |dl AS (
         |  SELECT ds.doc_id, dc.lang, ds.sc
         |  FROM ds JOIN documents dc USING (doc_id)),
         |hist AS (
         |  SELECT lang, sc, CAST(count(*) AS BIGINT) AS cnt
         |  FROM dl GROUP BY 1, 2),
         |cum AS (
         |  SELECT lang, sc,
         |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY sc ASC)
         |      AS BIGINT) AS cum
         |  FROM hist),
         |ntot AS (
         |  SELECT lang, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM hist GROUP BY 1),
         |cuts AS (
         |  SELECT lang,
         |    min(CASE WHEN cum * 3 >= n THEN sc END) AS c_lo,
         |    min(CASE WHEN cum * 3 >= 2 * n THEN sc END) AS c_hi
         |  FROM cum JOIN ntot USING (lang) GROUP BY 1)
         |SELECT dl.doc_id, dl.lang, dl.sc AS lm_avg_micro,
         |  CASE WHEN dl.sc <= c_lo THEN 'tail'
         |       WHEN dl.sc <= c_hi THEN 'middle'
         |       ELSE 'head' END AS bucket
         |FROM dl JOIN cuts USING (lang)""".stripMargin,
    // full-corpus bigram counts (no split), lift's two integer DIVs in
    // the SAME order as the Spark expr
    "text_collocations" ->
      s"""WITH d AS (
         |  SELECT doc_id, toks FROM (
         |    SELECT doc_id, list_filter(
         |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')
         |      AS toks
         |    FROM documents)
         |  WHERE len(toks) >= 2),
         |bg AS (
         |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
         |    unnest(toks[2:len(toks)]) AS w2
         |  FROM d),
         |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bg
         |       GROUP BY 1, 2),
         |cw1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu1 FROM bg
         |        GROUP BY 1),
         |cw2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS cu2 FROM bg
         |        GROUP BY 1),
         |tb AS (SELECT CAST(count(*) AS BIGINT) AS tb FROM bg)
         |SELECT w1, w2, cb,
         |  ((1000000 * cb) // cu1) * tb // cu2 AS lift_micro
         |FROM cb JOIN cw1 USING (w1) JOIN cw2 USING (w2) CROSS JOIN tb
         |WHERE cb >= 5
         |ORDER BY lift_micro DESC, w1 ASC, w2 ASC
         |LIMIT 20""".stripMargin,
    // mirrors text_textrank_keywords: the shared tokenize/zip CTEs, the
    // symmetrized distinct pair graph, then the sim_pagerank round
    // mirror (150000 + 85·s // 100) unrolled twice. edges/e/nodes are
    // MATERIALIZED: each is referenced by several round CTEs and DuckDB
    // inlines plain CTEs per reference
    "text_textrank_keywords" ->
      s"""WITH d AS (
         |  SELECT doc_id, toks FROM (
         |    SELECT doc_id, list_filter(
         |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')
         |      AS toks
         |    FROM documents)
         |  WHERE len(toks) >= 2),
         |bg AS (
         |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
         |    unnest(toks[2:len(toks)]) AS w2
         |  FROM d),
         |pairs AS (
         |  SELECT DISTINCT w1 AS src, w2 AS dst FROM bg WHERE w1 <> w2),
         |edges AS MATERIALIZED (
         |  SELECT src, dst FROM pairs
         |  UNION
         |  SELECT dst, src FROM pairs),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM edges
         |        GROUP BY 1),
         |e AS MATERIALIZED (
         |  SELECT edges.src, edges.dst, deg.od
         |  FROM edges JOIN deg USING (src)),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS w FROM edges),
         |r1 AS MATERIALIZED (
         |  SELECT n.w, 150000 + (85 * COALESCE(c.s, 0)) // 100 AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT dst, CAST(sum(1000000 // od) AS BIGINT) AS s
         |    FROM e GROUP BY 1) c ON c.dst = n.w),
         |r2 AS (
         |  SELECT n.w, 150000 + (85 * COALESCE(c.s, 0)) // 100 AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, CAST(sum(r1.pr // e.od) AS BIGINT) AS s
         |    FROM e JOIN r1 ON r1.w = e.src GROUP BY 1) c
         |  ON c.dst = n.w)
         |SELECT w AS word, CAST(pr AS BIGINT) AS rank_micro FROM r2
         |ORDER BY pr DESC, w ASC
         |LIMIT 50""".stripMargin)

  /** Mixed-script fixture rows (negative ids, disjoint from generated data)
    * exercising: han+latin mix, digit runs, a single-char han span, and a
    * pure-han keyword — mirrored verbatim in the DuckDB oracle.
    */
  private val cjkFixture = Seq(
    (-1L, "深度学习 deep learning 模型训练"),
    (-2L, "大规模数据 spark 引擎 100 terabytes"),
    (-3L, "我"),
    (-4L, "搜索关键词分析"))

  /** Cyrillic fixture rows (negative ids, disjoint from generated data and
    * the CJK block) for the ru tier: pure cyrillic, majority-cyrillic with
    * a latin term (and ё, which sits OUTSIDE the contiguous а-я range), and
    * a minority-cyrillic row that must classify by the later tiers —
    * mirrored verbatim in the DuckDB oracle. Third column = true label.
    */
  /** Classifier edge fixtures (block -71..-72): no-token and single-token
    * docs the generated corpus lacks. Mirrored verbatim in the oracle. */
  private val qcFixture = Seq(
    (-71L, "??? !!!"),
    (-72L, "spark"))

  /** Health-report fixtures (block -96..-98): a 'probe' source carrying a
    * normalization-equivalent clone pair + a unique doc. Mirrored
    * verbatim in the oracle. */
  private val healthFixture = Seq(
    (-96L, "probe", "en", 26L, "cloned probe body text one"),
    (-97L, "probe", "en", 27L, "Cloned PROBE body, text one"),
    (-98L, "probe", "en", 17L, "unique probe body"))

  /** Rolling-fingerprint prefix CTEs — the oracle twin of the native
    * `rolling_fps` walk (plans/RollingFps.scala). The engine computes
    * each window's Rabin–Karp polynomial (base b = RollingFps.Base —
    * the deployment seed, default 131 — mod p = 2^61−1)
    * with an O(n) rolling update; SQL has no linear scan-with-carry, so
    * the oracle reaches the SAME value through the modular-inverse
    * prefix identity:
    *
    *   P[j]     = Horner(c_1..c_j) = b^j · Σ_{k≤j} c_k·b^{−k} (mod p)
    *   fp(i, L) = P[i+L−1] − P[i−1]·b^L                       (mod p)
    *
    * The inner Σ runs as ONE window-function running sum of exact
    * HUGEINTs (each term < 2^122 at the max seed, document sums exact
    * in HUGEINT — no overflow, no rounding), reduced mod p once
    * per prefix; `pws` is the b^j / b^{−j} power ladder from a
    * 1-row-per-step recursive CTE, its inverse step derived from the
    * SAME seed (RollingFps.BaseInv). Equality of the two formulations
    * is pinned in NativeExprSpec against an independent BigInt
    * recompute. Ends with `pl(did, ps)` — per-doc list of P[j] — and
    * `pws(j, pw, ipw)`; expects an `n(norm)` CTE upstream.
    */
  private val oraRollP = "2305843009213693951" // 2^61 − 1 (Mersenne prime)
  private val oraRollingCtes: String =
    s"""nid AS (SELECT row_number() OVER () AS did, norm FROM n),
       |mx AS (SELECT max(len(norm)) AS m FROM nid),
       |pws AS (
       |  WITH RECURSIVE r(j, pw, ipw) AS (
       |    SELECT 0, CAST(1 AS HUGEINT), CAST(1 AS HUGEINT)
       |    UNION ALL
       |    -- ipw step = base^(−1) mod p, from the shared seed
       |    SELECT j + 1, (pw * ${graft.plans.RollingFps.Base}) % $oraRollP,
       |      (ipw * ${graft.plans.RollingFps.BaseInv}) % $oraRollP
       |    FROM r, mx WHERE j < mx.m)
       |  SELECT * FROM r),
       |ch AS (SELECT did, i, CAST(unicode(substr(norm, i, 1)) AS HUGEINT)
       |    AS c
       |  FROM (SELECT did, norm, unnest(generate_series(1, len(norm)))
       |          AS i
       |        FROM nid)),
       |pref AS (
       |  SELECT did, i,
       |    (pws.pw * (sum(c * pws.ipw) OVER (PARTITION BY did ORDER BY i
       |       ROWS UNBOUNDED PRECEDING) % $oraRollP)) % $oraRollP AS pj
       |  FROM ch JOIN pws ON pws.j = ch.i),
       |pl AS MATERIALIZED (SELECT did, list(pj ORDER BY i) AS ps
       |  FROM pref GROUP BY did)""".stripMargin

  /** The fp(i, L) expression over `pl`'s list + a `pwl` = 131^L column
    * (window positions 1-based; i = 1 has no dropped prefix). */
  private def oraRollFp(lcol: String): String =
    s"""CASE WHEN i = 1 THEN ps[i + $lcol - 1]
       |  ELSE ((ps[i + $lcol - 1] - (ps[i - 1] * pwl) % $oraRollP)
       |        % $oraRollP + $oraRollP) % $oraRollP END""".stripMargin

  /** Classifier-score CTE chain over a `docs(doc_id, text, ...)` CTE —
    * ends in `sc(doc_id, n_feats, score)`. Shared by the classifier
    * oracle and the corpus health report (one scoring definition, two
    * oracles). */
  private val oraQcScoreCtes: String =
    """tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                t -> length(t) > 0) AS toks
      |  FROM docs),
      |ft AS (
      |  SELECT doc_id,
      |    list_concat(toks, list_transform(range(1, len(toks)),
      |      i -> toks[i] || '_' || toks[i + 1])) AS feats
      |  FROM tk),
      |sc AS (
      |  SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_feats,
      |    CASE WHEN len(feats) = 0 THEN NULL ELSE
      |      CAST(list_aggregate(list_transform(feats, f ->
      |          (('0x' || substring(md5('qc|' || f), 1, 15))::BIGINT
      |            % 4096 * 2654435761) % 2003 - 1001), 'sum') AS DOUBLE)
      |        / CAST(len(feats) AS DOUBLE) END AS score
      |  FROM ft)""".stripMargin

  /** Substring-dedup fixtures (block -81..-83, mirrored in the oracle):
    * -81/-82 share exactly one 10-token passage (3 shared 8-grams cover
    * the passage in both docs, surrounding tokens survive); -83 repeats
    * a 12-token run WITHIN one doc — within-doc repetition must count,
    * and its every position is covered (fully stripped). */
  private val ssdFixture = Seq(
    (-81L, "alpha beta gamma delta epsilon zeta eta theta iota kappa unique one tail"),
    (-82L, "prefix words here alpha beta gamma delta epsilon zeta eta theta iota kappa other end"),
    (-83L, "solo repeat cycle one two three four five six seven eight nine solo repeat cycle one two three four five six seven eight nine"))

  /** Adds the hashed-linear-classifier columns (n_feats, score, keep) to
    * any relation with a `text` column — the scoring core shared by the
    * `text_quality_classifier` query and the streaming classifier gate
    * tier. Purely narrow: features are built and scored inside one
    * aggregate() HOF per row, so the transform composes into any plan
    * without adding an exchange.
    */
  private[graft] def withClassifierScore(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // ONE-walk native expression (plans/ClassifierStats.scala) — the
    // interpreted token-array + bigram-array + aggregate() HOF form this
    // replaces cost ~15 s of every ~19 s soak hygiene micro-batch;
    // values are bit-identical (ClassifierStatsSpec) so every dependent
    // oracle (text_quality_classifier, quality_threshold_sweep) and the
    // streaming gate parity specs are unchanged.
    import org.apache.spark.sql.graft.ColumnBridge
    val st = ColumnBridge.column(
      graft.plans.ClassifierStats(ColumnBridge.expression(col("text"))))
    docs
      .withColumn("__cs", st)
      .withColumn("n_feats", col("__cs.n_feats"))
      .withColumn("score",
        when(col("n_feats") === 0L, lit(null).cast("double"))
          .otherwise(col("__cs.wsum").cast("double") /
            col("n_feats").cast("double")))
      .withColumn("keep", coalesce(col("score") >= 0.0, lit(false)))
      .drop("__cs")
  }

  /** The HOF/builtin form of [[withClassifierScore]], kept ONLY as the
    * equivalence reference for ClassifierStatsSpec (it is the executable
    * specification the native expression must match bit-for-bit). */
  private[graft] def withClassifierScoreHof(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("__toks", Text.tokenize(col("text")))
      .withColumn("__feats", expr(
        "concat(__toks, CASE WHEN size(__toks) >= 2 THEN " +
          "transform(sequence(1, size(__toks) - 1), " +
          "i -> concat(element_at(__toks, i), '_', element_at(__toks, i + 1)))" +
          " ELSE array() END)"))
      .withColumn("n_feats", size(col("__feats")).cast("long"))
      .withColumn("__wsum",
        expr("aggregate(__feats, CAST(0 AS BIGINT), (a, f) -> a + " +
          "((CAST(conv(substring(md5(concat('qc|', f)), 1, 15), 16, 10) " +
          "AS BIGINT) % 4096 * 2654435761) % 2003 - 1001))"))
      .withColumn("score",
        when(col("n_feats") === 0L, lit(null).cast("double"))
          .otherwise(col("__wsum").cast("double") /
            col("n_feats").cast("double")))
      .withColumn("keep", coalesce(col("score") >= 0.0, lit(false)))
      .drop("__toks", "__feats", "__wsum")

  private val cyrFixture = Seq(
    (-21L, "глубокое обучение моделей", "ru"),
    (-22L, "распределённый spark движок", "ru"),
    (-23L, "data engineering через spark 2024", "en"))

  /** The sequence-packing index (GPT concatenate-and-slice): each doc's
    * token interval in the doc_id-ordered concatenated stream, as the
    * distributed prefix-sum — id-range buckets via a 1-row broadcast max,
    * bounded offset window, per-bucket parallel cumsum; no unpartitioned
    * window over data. Shared by `corpus_pack_sequences` (the index) and
    * `corpus_pack_spans` (the per-pack materialization plan).
    */
  /** The batch corpus front door (quality gate → keep-first dedup →
    * decontamination vs the benchmark holdout → split assignment) as a
    * reusable relation — the body of `pipeline_clean_corpus`, also the
    * head of `pipeline_packed_corpus`. */
  private def cleanCorpus(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val isBench = hashBucket("bmk|", col("doc_id")) < 20
    val benchFp = docs.filter(isBench)
      .select(Text.fingerprint(col("text")).as("fp")).distinct()
    val quality = docs.filter(!isBench).filter(qualityPred)
      .select(col("doc_id"), col("source"),
        Text.fingerprint(col("text")).as("fp"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)
    val deduped = quality.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val split = hashBucket("spl|", col("doc_id"))
    deduped.join(broadcast(benchFp), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("source"),
        when(split < 80, lit("train")).when(split < 90, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  /** Sliding-window chunk body over an arbitrary (doc_id, text) relation
    * — `text_chunk_windows` over the raw corpus, `pipeline_chunked_corpus`
    * over the front door's train survivors. W=64-token windows at stride
    * S=48; starts are the multiples of S below the token count, each
    * chunk covers [start, min(start+W, toks)). One tokenize (Generate-
    * bound array), bounded explode, zero exchanges. */
  private def chunkWindows(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val W = 64
    val S = 48
    docs
      .select(col("doc_id"),
        explode(array(Text.bpeishTokens(col("text")))).as("tl"))
      .filter(size(col("tl")) > 0)
      .select(col("doc_id"), col("tl"),
        explode(expr(s"sequence(0, (size(tl) - 1) div $S)")).as("ci"))
      .select(col("doc_id"),
        (col("ci").cast("long") * S).as("chunk_start"),
        least(lit(W.toLong),
          size(col("tl")).cast("long") - col("ci") * S).as("chunk_toks"),
        expr(s"array_join(slice(tl, ci * $S + 1, $W), ' ')")
          .as("chunk_text"))
  }

  private def packIndex(s: org.apache.spark.sql.SparkSession, dir: String,
      L: Long): org.apache.spark.sql.DataFrame =
    packIndexFromCounts(
      t(s, dir, "documents")
        .select(col("doc_id"),
          Text.bpeishTokenCount(col("text")).cast("long").as("toks"))
        .filter(col("toks") > 0L),
      L)

  /** Bucket count for the distributed prefix-sums (pack index, token
    * budget). Defaults to the cluster's default parallelism (floored at
    * 32) so the per-bucket window partitions scale WITH the cluster —
    * a fixed 32 would serialize a 1000-executor 100 TB run through 32
    * window partitions; conf-overridable to reproduce a specific layout.
    * The OUTPUT is bucket-count independent: buckets only decompose the
    * global running total (global cum = bucket offset + within-bucket
    * cum, exactly), and rows with equal sort keys always land in the
    * same bucket — so the oracles are unaffected by the choice.
    */
  private def prefixBuckets(s: org.apache.spark.sql.SparkSession): Int =
    Knobs.positiveInt(s, Knobs.PrefixSumBuckets)
      .getOrElse(math.max(32, s.sparkContext.defaultParallelism))

  /** The prefix-sum core of [[packIndex]] over an arbitrary thin
    * (doc_id, toks) relation — also the tail of `pipeline_packed_corpus`,
    * where the relation is the front door's train-split survivors. */
  private[graft] def packIndexFromCounts(docs: org.apache.spark.sql.DataFrame,
      L: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nB = prefixBuckets(docs.sparkSession)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val bucketed = docs.join(broadcast(mx), lit(true))
      .withColumn("bucket", expr(s"doc_id * ${nB}L div (mx + 1L)"))
      .drop("mx")
      .barrier() // read by the bucket rollup AND the final projection
    // bounded-window: input is the ≤ nB+1-row doc-bucket rollup
    val wb = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(sum(col("toks")).as("btoks"))
      .withColumn("prior", coalesce(sum(col("btoks")).over(wb), lit(0L)))
      .select(col("bucket"), col("prior"))
    bucketed.join(broadcast(offsets), "bucket")
      .withColumn("cum", col("prior") + sum(col("toks")).over(
        Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), col("toks"),
        (col("cum") - col("toks")).as("start_tok"),
        expr(s"(cum - toks) div $L").as("pack_first"),
        expr(s"(cum - 1) div $L").as("pack_last"),
        expr(s"(cum - toks) % $L").as("offset_in_pack"))
  }

  /** Span derivation from a pack index — one row per (pack, doc) with the
    * doc-local token slice [tok_from, tok_from + n_toks) that pack draws
    * and where in the pack it lands. The explode is bounded (a doc
    * touches ⌈toks/L⌉+1 packs); all arithmetic is exact integer
    * intersection of [start, start+toks) with [p·L, (p+1)·L). Shared by
    * `corpus_pack_spans` (the plan a loader point-reads) and
    * [[materializePacks]] (the actual assembly).
    */
  private[graft] def packSpansFrom(index: org.apache.spark.sql.DataFrame,
      L: Long): org.apache.spark.sql.DataFrame =
    index
      .select(col("doc_id"), col("toks"), col("start_tok"),
        explode(expr("sequence(pack_first, pack_last)")).as("pack_id"))
      .select(col("pack_id"), col("doc_id"),
        (greatest(col("start_tok"), col("pack_id") * L) -
          col("start_tok")).as("tok_from"),
        (least(col("start_tok") + col("toks"), (col("pack_id") + 1) * L) -
          greatest(col("start_tok"), col("pack_id") * L)).as("n_toks"),
        (greatest(col("start_tok"), col("pack_id") * L) -
          col("pack_id") * L).as("pack_offset"))

  /** Materialized training packs over an arbitrary (doc_id, text)
    * relation: index → spans → per-span token slices → packs reassembled
    * in offset order. One tokenize pass (the token arrays feed BOTH the
    * count index and the slicing, barriered so neither re-scans text).
    * Token movement: the audited fixture plan broadcasts the THIN span
    * side into the slice join, so token data crosses exactly one exchange
    * (the pack_id reassembly — unavoidable, reassembly IS the output); at
    * cluster scale where spans outgrow broadcast, the slice join
    * co-partitions by doc_id and text moves twice — still bounded by the
    * output's own volume, never quadratic. Every pack but the last has
    * exactly L tokens; `n_toks` is carried so a consumer (and SoakSpec)
    * can check pack ≡ span-index without re-tokenizing.
    */
  private[graft] def materializePacks(docs: org.apache.spark.sql.DataFrame,
      L: Long): org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col("doc_id"), Text.bpeishTokens(col("text")).as("toklist"))
      .withColumn("toks", size(col("toklist")).cast("long"))
      .filter(col("toks") > 0L)
      .barrier() // read by the count index AND the slice join
    val spans = packSpansFrom(
      packIndexFromCounts(toks.select(col("doc_id"), col("toks")), L), L)
    assemblePacks(packPieces(toks.select(col("doc_id"), col("toklist")),
      spans))
  }

  /** Per-span token slices from a (doc_id, toklist) relation and a span
    * index — the (pack_id, pack_offset, piece) rows both the batch
    * materializer and the streaming carry tier assemble from. */
  private[graft] def packPieces(toks: org.apache.spark.sql.DataFrame,
      spans: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    spans.join(toks, "doc_id")
      .select(col("pack_id"), col("pack_offset"),
        expr("slice(toklist, CAST(tok_from AS INT) + 1, " +
          "CAST(n_toks AS INT))").as("piece"))

  /** Offset-ordered reassembly of (pack_id, pack_offset, piece) rows into
    * (pack_id, n_toks, tokens) packs — the one exchange token payload
    * ever crosses (see [[materializePacks]]'s movement audit). */
  private[graft] def assemblePacks(pieces: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    pieces
      .groupBy(col("pack_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pack_offset"), col("piece")))),
        x => x.getField("piece"))).as("tokarr"))
      .select(col("pack_id"),
        size(col("tokarr")).cast("long").as("n_toks"),
        concat_ws(" ", col("tokarr")).as("tokens"))

  /** Distinct word-n-gram fingerprints per document: (doc_id, gfp) with
    * gfp the first 60 bits of md5(space-joined gram) — an 8-byte join key
    * so gram strings never shuffle. One narrow tokenize+slice pass; docs
    * shorter than n tokens emit nothing. Shared by the batch
    * decontamination query above and the streaming n-gram gate
    * (`streaming.StatefulStreaming.ngramGateBatch`).
    */
  private[graft] def gramFps(docs: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), Text.tokenize(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(0, size(toks) - $n), " +
          s"i -> array_join(slice(toks, i + 1, $n), ' '))")).as("gram"))
      .select(col("doc_id"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10)
          .cast("long").as("gfp"))
      .distinct()

  /** Planted 13-gram contamination fixtures. Ids <= -100 are benchmark
    * docs by construction; -31..-34 are training docs:
    *  -31 embeds exactly ONE 13-token run from bench -101 inside unrelated
    *      surrounding words (substring match, not whole-doc equality),
    *  -32 shares only a 12-token run with -101 — one short of the
    *      threshold, must NOT be flagged,
    *  -33 overlaps nothing,
    *  -34 is a verbatim clone of bench -102 (15 tokens → 3 shared grams).
    * Mirrored verbatim in the oracle.
    */
  private val ngramFixture = Seq(
    (-101L, "the quick brown fox jumps over the lazy dog while seven " +
      "wizards brew strong coffee at dawn"),
    (-102L, "carefully measured rainfall data from mountain stations shows " +
      "variance across decades of continuous observation records"),
    (-31L, "students report that the quick brown fox jumps over the lazy " +
      "dog while seven wizards brew tea instead"),
    (-32L, "the quick brown fox jumps over the lazy dog while seven " +
      "wizards dance happily through the night and morning"),
    (-33L, "entirely unrelated sentences about gardening tools and copper " +
      "pipes fill this training document with harmless novel content"),
    (-34L, "carefully measured rainfall data from mountain stations shows " +
      "variance across decades of continuous observation records"))

  /** The incremental front door's merge step — the library entry a
    * pipeline calls with yesterday's persisted artifacts:
    *
    *  - `oldRoster` (doc_id, source, fp): quality-passing non-bench rows
    *    of the previous snapshot,
    *  - `oldBench` (doc_id, fp): the previous bench members' fps,
    *  - `newWork` (doc_id, source, text): ONLY the docs the snapshot diff
    *    classified added/changed — the one place text is scanned,
    *  - `retired` (doc_id): removed ∪ changed ids.
    *
    * Patches both indexes, then runs the front door's keep-first window,
    * bench anti-join, and split over the merged THIN roster. Equal to a
    * full `pipeline_clean_corpus` re-run on the new snapshot by
    * construction (the patched roster IS the new snapshot's quality
    * roster row-for-row) — pinned by the incremental query's oracle.
    */
  private[graft] def incrementalCleanCorpus(
      oldRoster: org.apache.spark.sql.DataFrame,
      oldBench: org.apache.spark.sql.DataFrame,
      newWork: org.apache.spark.sql.DataFrame,
      retired: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isBench = hashBucket("bmk|", col("doc_id")) < 20
    val roster = oldRoster.join(retired, Seq("doc_id"), "left_anti")
      .unionByName(newWork.filter(!isBench).filter(qualityPred)
        .select(col("doc_id"), col("source"),
          Text.fingerprint(col("text")).as("fp")))
    val benchFp = oldBench.join(retired, Seq("doc_id"), "left_anti")
      .unionByName(newWork.filter(isBench)
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp")))
      .select(col("fp")).distinct()
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)
    val split = hashBucket("spl|", col("doc_id"))
    roster.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(broadcast(benchFp), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("source"),
        when(split < 80, lit("train")).when(split < 90, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  /** The combined quality-gate predicate (the thresholds a pretraining
    * corpus filter applies) — shared by the standalone gate query and the
    * front-door composition. */
  private def qualityPred: org.apache.spark.sql.Column =
    length(col("text")) >= 100 &&
      Text.wsTokenCount(col("text")) >= 20 &&
      Text.stopwordRatio(col("text")) >= 0.05 &&
      Text.punctRatio(col("text")) <= 0.2

  /** The AMS tug-of-war counter row over a token-occurrence relation:
    * (n_occurrences, x0..x15), every column an additive sum — THE
    * mergeable summary (17 integers represent the whole stream; the sum
    * of per-batch rows IS the corpus row). Shared by `text_f2_moment`
    * and the streaming maintenance tier.
    */
  private[graft] def f2Counters(occ: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def sign(j: Int) = when(substring(md5(concat(lit(s"ams$j|"),
      col("tok"))), 1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"),
      1L).otherwise(-1L)
    occ.agg(count(lit(1)).as("n_occurrences"),
      (0 until 16).map(j => sum(sign(j)).as(s"x$j")): _*)
  }

  /** The estimator fold over a counter row: median-of-4 of mean-of-4 of
    * X². Batch and streaming paths run this same code (parity pinned in
    * StreamingSpec). */
  private[graft] def f2EstimateOf(xs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val means = (0 until 4).map(g => expr(
      (4 * g until 4 * g + 4).map(j => s"x$j * x$j")
        .mkString("(", " + ", ")") + " DIV 4").as(s"m$g"))
    xs.select((col("n_occurrences") +: means): _*)
      // median of 4 = mean of the middle two = (sum − max − min) / 2
      .select(col("n_occurrences"),
        expr("(m0 + m1 + m2 + m3 " +
          "- greatest(m0, m1, m2, m3) - least(m0, m1, m2, m3)) DIV 2")
          .as("f2_est"))
  }

  /** Hashed-feature bucket for the DSIR weight model — same salted-md5
    * device as the classifier's feature hash, D = 1024 buckets. */
  private val DsirD = 1024
  private def dsirBucket(tok: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit("dsir|"), tok)), 1, 15), 16, 10)
      .cast("long") % DsirD

  /** The DSIR weight model as a relation: per hashed-unigram bucket,
    * exact target/raw counts plus the add-one-smoothed normalized
    * frequency ratio in micro units —
    * w = ((tgt+1)/(tgt_tot+D)) / ((raw+1)/(raw_tot+D)), one fixed IEEE
    * op chain then one round, so Spark and the DuckDB oracle agree
    * bit-exactly. Target membership is the heuristic quality gate
    * (qualityPred) — the stand-in for a curated target domain. */
  private[graft] def dsirWeights(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = t(s, dir, "documents")
    // The explode must carry ONLY plain columns (doc_id) past the
    // Generate: riding the interpreted quality HOFs through the same
    // select re-inlines them into the post-Generate projection and
    // evaluates them once per TOKEN, not per doc (the CollapseProject
    // trap the minhash path documents — measured 22 s → 0.6 s at sf0.1).
    // So: per-(doc, bucket) counts first (thin, ≤ min(toks, D) rows per
    // doc), then the per-DOC quality flag joins onto that pre-aggregated
    // relation — two narrow corpus scans, same discipline as the
    // verify-side tokenize in dedup_minhash_lsh.
    val perDoc = docs
      .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("tok"))
      .select(col("doc_id"), dsirBucket(col("tok")).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("ct"))
    val flags = docs.select(col("doc_id"), qualityPred.as("is_tgt"))
    val ct = perDoc.join(flags, "doc_id")
      .groupBy(col("bucket"))
      .agg(sum(when(col("is_tgt"), col("ct")).otherwise(0L)).as("tgt_ct"),
        sum(col("ct")).as("raw_ct"))
      .barrier() // read by the totals rollup AND the ratio projection
    val tot = ct.agg(sum(col("tgt_ct")).as("tgt_tot"),
      sum(col("raw_ct")).as("raw_tot"))
    ct.join(broadcast(tot), lit(true))
      .select(col("bucket"), col("tgt_ct"), col("raw_ct"),
        expr("CAST(round(((CAST(tgt_ct + 1 AS DOUBLE) / " +
          s"CAST(tgt_tot + $DsirD AS DOUBLE)) / (CAST(raw_ct + 1 AS DOUBLE) / " +
          s"CAST(raw_tot + $DsirD AS DOUBLE))) * 1000000D) AS BIGINT)")
          .as("w_micro"))
  }

  /** Shared bench-membership rule: planted ids <= -100 are benchmark docs
    * by construction, plus a 20% hash-mod holdout of the generated corpus
    * (non-negative ids). Used by the 13-gram decontamination and the
    * bloom pre-gate; [[oraBenchRule]] is its DuckDB mirror. */
  private def benchRuleCol: org.apache.spark.sql.Column =
    col("doc_id") <= -100 ||
      (col("doc_id") >= 0 && hashBucket("bmk|", col("doc_id")) < 20)

  private def oraBenchRule: String =
    s"(doc_id <= -100 OR (doc_id >= 0 AND ${oraHashBucket("bmk|")} < 20))"

  /** Winnowing parameters: 5-word grams, window of 4 gram hashes → the
    * guarantee threshold is a shared run of k+w-1 = 8 tokens. */
  private val WinnowK = 5
  private val WinnowW = 4

  /** Distinct winnowing-selected gram fingerprints per document:
    * (doc_id, wfp). Gram hashing matches `gramFps` (first 60 bits of
    * md5(space-joined gram) as BIGINT) so the two sub-document
    * fingerprint families stay join-compatible. Docs shorter than
    * k+w-1 tokens emit nothing (the guard also keeps `sequence` from
    * producing a descending range on short docs).
    */
  private[graft] def winnowFps(docs: org.apache.spark.sql.DataFrame,
      k: Int, w: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), Text.tokenize(col("text")).as("toks"))
      .filter(size(col("toks")) >= k + w - 1)
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, size(toks) - $k),
           |  i -> CAST(conv(substring(md5(
           |         array_join(slice(toks, i + 1, $k), ' ')), 1, 15),
           |       16, 10) AS BIGINT))""".stripMargin).as("ghs"))
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(sequence(0, size(ghs) - $w),
           |  i -> array_min(slice(ghs, i + 1, $w))))""".stripMargin))
        .as("wfp"))
      .distinct()

  /** Bloom geometry: m = 2^15 bits (512 longs ≈ 4 KB broadcast), k = 4
    * probes. At the fixture scale (~100 bench fps) the false-positive rate
    * is ~0; in production m scales with |bench fps| at ~10 bits/fp.
    */
  private val BloomM = 1 << 15
  private val BloomW = BloomM / 64
  private val BloomK = 4

  /** SQL fragment: probe i's bit position for the 60-bit `fpl` column —
    * md5-derived so construction and membership agree bit-for-bit. */
  private def bloomPos(i: Int): String =
    s"pmod(CAST(conv(substring(md5(concat('bf$i|', CAST(fpl AS STRING)))," +
      s" 1, 6), 16, 10) AS BIGINT), $BloomM)"

  /** SQL fragment: all-k-bits-set membership probe against a broadcast
    * `bm` array<long> column, for a row's `fpl`. Shared by the batch
    * bloom query and the streaming gate tier — construction and probe
    * must agree bit-for-bit or false negatives appear. */
  private[graft] def bloomMightContain: String = (0 until BloomK).map { i =>
    s"(shiftright(bm[CAST(${bloomPos(i)} / 64 AS INT)], " +
      s"CAST(${bloomPos(i)} % 64 AS INT)) & 1L) = 1L"
  }.mkString(" AND ")

  /** The ~4 KB bloom bitmap of a fingerprint relation (`fp` = md5 hex),
    * as ONE array<long> row: k md5-derived bit positions per fp,
    * bit_or-aggregated per word, densified via a 0..W-1 sequence against
    * a map — all built-ins, no driver loop. Build once per benchmark
    * refresh; broadcast at probe time.
    */
  private[graft] def bloomBitmapFromFps(fps: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bits = fps
      .select(conv(substring(col("fp"), 1, 15), 16, 10).cast("long").as("fpl"))
      .distinct()
      .select(explode(expr(
        s"array(${(0 until BloomK).map(bloomPos).mkString(", ")})"))
        .as("pos"))
      .select((col("pos") / 64).cast("int").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("b"))
      .groupBy(col("w")).agg(expr("bit_or(b)").as("bits"))
    bits
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits"))))
        .as("m"))
      .select(expr(s"transform(sequence(0, ${BloomW - 1}), " +
        "w -> coalesce(m[w], CAST(0 AS BIGINT)))").as("bm"))
  }

  /** Planted clone fixtures for the bloom gate (ids <= -100 are benchmark
    * docs under the shared membership rule): -41 is a verbatim clone of
    * bench -103 (must flag), -42 differs by one word (must NOT flag).
    * The ngram fixtures also ride along, adding -34 ≡ bench -102.
    */
  private val bloomFixture = Seq(
    (-103L, "large scale evaluation suite question about prime numbers " +
      "and their distribution across intervals"),
    (-41L, "large scale evaluation suite question about prime numbers " +
      "and their distribution across intervals"),
    (-42L, "large scale evaluation suite question about prime numbers " +
      "and their distribution across sets"))

  /** Corpus + planted fixtures with per-doc (fp, fpl = first 60 md5 bits
    * as BIGINT) and the shared bench-membership flag. */
  private def fpDocs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionByName((ngramFixture ++ bloomFixture).toDF("doc_id", "text"))
      .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"),
        benchRuleCol.as("is_bench"))
      .select(col("doc_id"), col("fp"), col("is_bench"),
        conv(substring(col("fp"), 1, 15), 16, 10).cast("long").as("fpl"))
  }

  /** (bloom-gated training candidates, ungated training side, distinct
    * benchmark fps) — split out so the spec can pin pruning and
    * gated≡ungated identity. ALL THREE derive from the one barriered
    * fingerprint pass (bitmap build, train probe, and the exact-verify
    * build side — a separate bench derivation would re-scan the corpus).
    * The bitmap is built as (word, bit_or(bits)) then densified into one
    * array<long> row via a 0..W-1 sequence against a map — all built-ins,
    * one row, no driver loop.
    */
  private[graft] def bloomParts(s: org.apache.spark.sql.SparkSession,
      dir: String) = {
    val docs = fpDocs(s, dir).barrier() // bench + train both read this pass
    val bench = docs.filter(col("is_bench")).select(col("fp")).distinct()
    val bitmap = bloomBitmapFromFps(docs.filter(col("is_bench")))
    val train = docs.filter(!col("is_bench"))
      .select(col("doc_id"), col("fp"), col("fpl"))
    (train.join(broadcast(bitmap), lit(true))
      .filter(expr(bloomMightContain))
      .select(col("doc_id"), col("fp")), train, bench)
  }

  /** PII patterns — literal-char classes + the (?i) flag only, identical
    * semantics in Java regex (Spark) and RE2 (DuckDB): no lookarounds, no
    * escapes that differ between engines. The phone pattern demands the
    * structured 3-3-4 shape with separators (optional +country and
    * parens) rather than "any long digit run" — a bare `[0-9 ]{9,}` class
    * would redact dates, ID lists, and quantity tables wholesale (fixture
    * row -15 pins that it does not).
    */
  private val EmailPat = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhonePat =
    "(?:\\+[0-9]{1,3}[ ])?\\(?[0-9]{3}\\)?[ -][0-9]{3}[ -][0-9]{4}"

  /** Planted PII rows (negative ids, mirrored in the oracle): the sf
    * corpus is PII-free, these make the scrub observable under the gate —
    * including the adversarial cases (mixed-case email, digit runs that
    * must NOT be treated as phones).
    */
  private val piiFixture = Seq(
    (-11L, "contact bob.smith@example.com or +1 (555) 123-4567 now"),
    (-12L, "two mails a@b.io c@d.org and 555-867-5309 plus 555 123 9999"),
    (-13L, "no pii in this row at all"),
    (-14L, "Reach John.Doe@Example.COM today"),
    (-15L, "revenue 2020 2021 2022 totals 123456789 and 12 34 56 78 90"))

  /** Per-lang cell budgets for exactly-k stratified sampling (k docs per
    * (lang, source) cell) — mirrored verbatim in the oracle. */
  private val stratifiedBudgets = Seq(("en", 7), ("zh", 5), ("de", 3))

  /** Planted multi-line docs for line-level dedup (negative ids, -51..-57,
    * disjoint from every other fixture block; mirrored in the oracle).
    * "Accept cookies to continue" appears in 4 docs (> maxDocs=2 →
    * boilerplate, dropped everywhere; -57 is ONLY that banner → cleans to
    * empty); "shared once only line" appears in exactly 2 (= maxDocs →
    * kept); -56 is single-line and untouched.
    */
  private val lineFixture = Seq(
    (-51L, "unique research content about distributed joins\n" +
      "Accept cookies to continue\nmore unique prose on shuffle plans"),
    (-52L, "different document body entirely\nAccept cookies to continue\n" +
      "closing thoughts about barriers"),
    (-53L, "third doc with its own content\nAccept cookies to continue"),
    (-54L, "fourth doc shares a line with fifth\nshared once only line\n" +
      "unique tail here"),
    (-55L, "fifth doc body text\nshared once only line"),
    (-56L, "entirely boilerplate free document"),
    (-57L, "Accept cookies to continue"))

  /** Planted code/prose docs for the code detector (negative ids
    * -111..-116, disjoint from every other fixture block; mirrored in the
    * oracle): -111 python-shaped (def/return, indented block), -112
    * c-shaped (braces, semicolons), -113 JSON-ish config (braces,
    * indentation, no keywords), -114 plain prose, -115 prose containing
    * one code KEYWORD in passing — must score below threshold (keyword
    * evidence alone is not code), -116 a short note.
    */
  /** Shared code-evidence regexes — the SAME pattern strings run in Java
    * regex (Spark) and RE2 (DuckDB oracle); char class, \b alternation,
    * and the (?m) line anchor are dialect-common. */
  private val CodeSymRe = "[{}()\\[\\];=<>]"
  private val CodeKwRe = "\\b(def|return|import|class|function|const|" +
    "void|elif|lambda|struct|printf|println)\\b"
  private val CodeIndentRe = "(?m)^[ \\t]"

  /** (doc_id, text) → evidence counts + the integer evidence-per-100-chars
    * code score; shared by `text_code_detect` and the routed pipeline. */
  private def codeScored(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n_chars"),
        regexp_count(col("text"), lit(CodeSymRe)).cast("long").as("n_sym"),
        regexp_count(col("text"), lit(CodeKwRe)).cast("long").as("n_kw"),
        regexp_count(col("text"), lit(CodeIndentRe)).cast("long")
          .as("n_indent"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"))
      .withColumn("code_score", expr(
        "(10L * n_sym + 25L * n_kw + 40L * n_indent) * 100L" +
          " DIV greatest(n_chars, 1L)"))

  /** DuckDB mirror of [[codeScored]] over a `docs(doc_id, text)` CTE —
    * emits `sc` (counts) and `scs` (+ code_score). */
  private def oraCodeScored: String =
    s"""sc AS (
       |  SELECT doc_id, text,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(regexp_extract_all(text, '$CodeSymRe')) AS BIGINT)
       |      AS n_sym,
       |    CAST(len(regexp_extract_all(text, '$CodeKwRe')) AS BIGINT)
       |      AS n_kw,
       |    CAST(len(regexp_extract_all(text, '$CodeIndentRe')) AS BIGINT)
       |      AS n_indent,
       |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
       |  FROM docs),
       |scs AS (
       |  SELECT *, (10 * n_sym + 25 * n_kw + 40 * n_indent) * 100
       |    // greatest(n_chars, 1) AS code_score
       |  FROM sc)""".stripMargin

  /** (doc_id, text) → per-doc routing verdicts (lane, passed, fp) — the
    * batch pipeline's per-row front half (route by code score, gate with
    * the lane's own filter, fingerprint for the dedup), shared VERBATIM
    * with the streaming routed-ingest tier so stream and batch agree on
    * every verdict. */
  private[graft] def routedVerdicts(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    codeScored(docs)
      .withColumn("lane",
        when(col("code_score") >= 50, lit("code")).otherwise(lit("prose")))
      .withColumn("passed",
        when(col("lane") === "code", col("n_chars") >= 30)
          .otherwise(qualityPred))
      .select(col("doc_id"), col("lane"), col("passed"),
        Text.fingerprint(col("text")).as("fp"))

  /** The planted docs as a DuckDB VALUES body (newlines via chr(10)). */
  private def codeFixtureValues: String = codeFixture.map { case (id, txt) =>
    val t = txt.split("\n", -1).map(s => "'" + s.replace("'", "''") + "'")
      .mkString(" || chr(10) || ")
    s"($id, $t)"
  }.mkString(",\n          ")

  private[graft] val codeFixture = Seq(
    (-111L, "def shard(items):\n    total = 0\n    for x in items:\n" +
      "        total = total + x\n    return total"),
    (-112L, "int main(void) {\n    int n = 42;\n    printf(fmt, n);\n" +
      "    return 0;\n}"),
    (-113L, "{\n  \"retries\": 3,\n  \"endpoint\": \"local\",\n" +
      "  \"batch\": [1, 2, 3]\n}"),
    (-114L, "the quarterly report shows steady growth across all regions " +
      "with no surprises"),
    (-115L, "the word class appears here in prose but nothing else looks " +
      "like source code at all"),
    (-116L, "short note"),
    // byte-identical clone of -112: routes to the code lane with the same
    // fingerprint, so the routed pipeline's within-lane keep-first dedup
    // keeps exactly one of the pair (doc_id ASC → -117, the smaller id)
    // and marks the other kept=false
    (-117L, "int main(void) {\n    int n = 42;\n    printf(fmt, n);\n" +
      "    return 0;\n}"))

  /** Planted passage-sharing docs for partial-overlap detection (negative
    * ids -61..-63, disjoint from every other fixture block; mirrored in
    * the oracle): -61 and -62 embed the same 14-token passage inside
    * otherwise-different documents — a shared run far past the k+w-1 = 8
    * winnowing guarantee, so they MUST pair; -63 shares nothing.
    */
  private val overlapFixture = Seq(
    (-61L, "alpha intro words differ entirely here the shared passage " +
      "about catalyst optimizer rules rewriting logical plans into " +
      "physical strategies with codegen ends with tail one"),
    (-62L, "totally different preamble and framing the shared passage " +
      "about catalyst optimizer rules rewriting logical plans into " +
      "physical strategies with codegen then another ending"),
    (-63L, "unrelated gardening document about soil drainage and copper " +
      "pipes sharing no passage with anything else at all"))

  /** Deterministic percent bucket of an id: first 6 hex chars of a salted
    * md5 → BIGINT → mod 100. Must stay bit-identical to `oraHashBucket`.
    */
  private def hashBucket(salt: String, id: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 6), 16, 10)
      .cast("long") % 100

  /** DuckDB mirror of `hashBucket`. */
  private def oraHashBucket(salt: String) =
    s"('0x' || substring(md5('$salt' || doc_id::VARCHAR), 1, 6))::BIGINT % 100"

  /** Parts-per-million variant of [[hashBucket]], for data-derived keep
    * rates finer than percent granularity. Mirror: [[oraPpmBucket]]. */
  private def ppmBucket(salt: String, id: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 6), 16, 10)
      .cast("long") % 1000000L

  private def oraPpmBucket(salt: String) =
    s"('0x' || substring(md5('$salt' || doc_id::VARCHAR), 1, 6))::BIGINT % 1000000"

  /** DuckDB mirror of [[dsirWeights]]: quality-gate target membership →
    * hashed-unigram bucket counts → smoothed micro-unit ratio. Ends in
    * `dq(doc_id, toks, is_tgt)` (reused by the importance consumer) and
    * `dw(bucket, tgt_ct, raw_ct, w_micro)`. */
  private lazy val oraDsirCtes: String =
    s"""dq AS (
       |  SELECT doc_id, toks,
       |    (CAST(length(text) AS INT) >= 100
       |     AND len(string_split_regex(trim(text), '\\s+')) >= 20
       |     AND (CASE WHEN len(toks) = 0 THEN 0.0
       |          ELSE CAST(len(list_filter(toks, x -> list_contains($stop, x))) AS DOUBLE)
       |               / CAST(len(toks) AS DOUBLE) END) >= 0.05
       |     AND (CASE WHEN length(text) = 0 THEN 0.0
       |          ELSE CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
       |               / CAST(length(text) AS DOUBLE) END) <= 0.2) AS is_tgt
       |  FROM (SELECT *, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                              x -> x <> '') AS toks
       |        FROM documents)),
       |db AS (
       |  SELECT is_tgt,
       |    ('0x' || substring(md5('dsir|' || tok), 1, 15))::BIGINT
       |      % 1024 AS bucket
       |  FROM (SELECT is_tgt, unnest(toks) AS tok FROM dq)),
       |dct AS (
       |  SELECT bucket,
       |    sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tgt_ct,
       |    count(*) AS raw_ct
       |  FROM db GROUP BY 1),
       |dtot AS (
       |  SELECT sum(tgt_ct) AS tgt_tot, sum(raw_ct) AS raw_tot FROM dct),
       |dw AS (
       |  SELECT bucket, CAST(tgt_ct AS BIGINT) AS tgt_ct,
       |    CAST(raw_ct AS BIGINT) AS raw_ct,
       |    CAST(round(((CAST(tgt_ct + 1 AS DOUBLE) / CAST(tgt_tot + 1024 AS DOUBLE))
       |      / (CAST(raw_ct + 1 AS DOUBLE) / CAST(raw_tot + 1024 AS DOUBLE)))
       |      * 1000000) AS BIGINT) AS w_micro
       |  FROM dct CROSS JOIN dtot)""".stripMargin

  private val stop =
    "['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','be','this','that']"

  /** The front-door pipeline's oracle CTE chain over a named source
    * relation — shared by the full run (`documents`) and the incremental
    * query's full-re-run-on-new-snapshot oracle. */
  private def oraCleanCorpusCtes(src: String): String =
    s"""bench AS (
       |  SELECT DISTINCT
       |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
       |      AS fp
       |  FROM $src WHERE ${oraHashBucket("bmk|")} < 20),
       |q AS (
       |  SELECT doc_id, source,
       |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
       |      AS fp
       |  FROM (SELECT *, list_filter(string_split_regex(lower(text),
       |                '[^a-z0-9]+'), x -> x <> '') AS toks
       |        FROM $src WHERE ${oraHashBucket("bmk|")} >= 20)
       |  WHERE CAST(length(text) AS INT) >= 100
       |    AND len(string_split_regex(trim(text), '\\s+')) >= 20
       |    AND (CASE WHEN len(toks) = 0 THEN 0.0
       |         ELSE CAST(len(list_filter(toks, x -> list_contains($stop, x))) AS DOUBLE)
       |              / CAST(len(toks) AS DOUBLE) END) >= 0.05
       |    AND (CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
       |              / CAST(length(text) AS DOUBLE) END) <= 0.2),
       |d AS (
       |  SELECT doc_id, source, fp FROM (
       |    SELECT q.*, row_number() OVER (PARTITION BY fp
       |      ORDER BY doc_id ASC) AS rn FROM q)
       |  WHERE rn = 1)""".stripMargin

  private val oraCleanCorpusSelect: String =
    s"""SELECT d.doc_id, d.source,
       |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT *, ${oraHashBucket("spl|")} AS b FROM d) d
       |WHERE d.fp NOT IN (SELECT fp FROM bench)""".stripMargin

  /** CMS bucket for token `tokCol` in sketch row `j` — deterministic
    * md5 arithmetic (the oracle device), 256 buckets per row. */
  private def cmsBucket(tokCol: org.apache.spark.sql.Column,
      j: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat(tokCol, lit("_c"), j.cast("string"))),
      1, 15), 16, 10).cast("long") % 256

  /** The 4×256 CMS cell relation (j, b, c) of a token stream — the
    * MERGEABLE sketch state: cell-wise ADDITIVE, so per-batch
    * contributions sum to the whole-corpus sketch (the streaming tier's
    * contract). Map-side combine collapses each task to ≤1024 rows. */
  private[graft] def cmsCellsOf(toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    toks.select(col("tok"), explode(sequence(lit(0), lit(3))).as("j"))
      .select(col("j"), cmsBucket(col("tok"), col("j")).as("b"))
      .groupBy(col("j"), col("b")).agg(count(lit(1)).as("c"))

  /** Exact per-token counts keyed by the 8-byte fp (fp, exact_count,
    * token) — the verification twin's state, also additive per batch
    * (counts sum, min(token) is min-mergeable; partial aggregation
    * moves one short string per fp per task, never per occurrence). */
  private[graft] def cmsExactOf(toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    toks.select(col("tok"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10)
          .cast("long").as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("exact_count"),
        min(col("tok")).as("token"))

  /** The heavy-hitter report over a cell sketch + exact counts: exact
    * top-20 (TakeOrderedAndProject, fp tie-break), each winner's CMS
    * estimate = min over its 4 probed cells (broadcast join against the
    * ≤1024-row sketch). Shared verbatim by the batch query and the
    * streaming store reader, so stream ≡ batch is structural. */
  private[graft] def cmsReport(cells: org.apache.spark.sql.DataFrame,
      exact: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bounded-window: ranks the 20-row limit() below
    val w = Window.orderBy(col("exact_count").desc, col("fp").asc)
    val winners = exact
      .orderBy(col("exact_count").desc, col("fp").asc).limit(20)
      // bounded 20-row window, so the cast cannot defeat any group limit
      .withColumn("rank", row_number().over(w).cast("long"))
    val probes = winners
      .select(col("rank"), col("token"), col("exact_count"),
        explode(sequence(lit(0), lit(3))).as("j"))
      .withColumn("b", cmsBucket(col("token"), col("j")))
    probes.join(broadcast(cells), Seq("j", "b"))
      .groupBy(col("rank"), col("token"), col("exact_count"))
      .agg(min(col("c")).as("cms_estimate"))
      .select(col("rank"), col("token"), col("exact_count"),
        col("cms_estimate"),
        (col("cms_estimate") - col("exact_count")).as("cms_overestimate"))
  }

  /** Shared CTE chain for the BPE oracles: the bpeish token stream
    * (d/e0/t0) plus 3 count→pick→greedy-rewrite rounds (s/w/g/h/i/j/t/o
    * per round). Callers prepend `WITH ` and append their own SELECT.
    */
  private lazy val oraBpeChain: String = {
    val rounds = (1 to 3).map { r =>
      val prev = if (r == 1) "t0" else s"t${r - 1}"
      s"""s$r AS (
         |  SELECT doc_id, pos, tok,
         |    row_number() OVER w AS idx, lead(tok) OVER w AS nxt
         |  FROM $prev
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |w$r AS (
         |  SELECT tok AS wa, nxt AS wb, count(*) AS pair_count
         |  FROM s$r WHERE nxt IS NOT NULL
         |  GROUP BY 1, 2
         |  ORDER BY pair_count DESC, wa ASC, wb ASC LIMIT 1),
         |g$r AS (
         |  SELECT s.*, w.wa, w.wb,
         |    CASE WHEN s.tok = w.wa AND s.nxt = w.wb THEN 1 ELSE 0 END AS c
         |  FROM s$r s CROSS JOIN w$r w),
         |h$r AS (
         |  SELECT *, CASE WHEN c = 1 THEN idx - sum(c) OVER (
         |      PARTITION BY doc_id ORDER BY idx ROWS UNBOUNDED PRECEDING)
         |    END AS grp
         |  FROM g$r),
         |i$r AS (
         |  SELECT *, c = 1 AND (idx - min(idx) OVER (
         |      PARTITION BY doc_id, grp)) % 2 = 0 AS sel
         |  FROM h$r),
         |j$r AS (
         |  SELECT *, coalesce(lag(sel) OVER (
         |      PARTITION BY doc_id ORDER BY idx), false) AS prev_sel
         |  FROM i$r),
         |t$r AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN sel THEN wa || wb ELSE tok END AS tok
         |  FROM j$r WHERE NOT prev_sel),
         |o$r AS (
         |  SELECT CAST($r AS INT) AS round, wa || ' ' || wb AS pair,
         |    pair_count,
         |    (SELECT count(*) FROM j$r WHERE sel) AS n_merges,
         |    (SELECT count(*) FROM t$r) AS tokens_after
         |  FROM w$r)""".stripMargin
    }.mkString(",\n")
    s"""d AS (
       |  SELECT doc_id, regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS t
       |  FROM documents),
       |e0 AS (
       |  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
       |  FROM d),
       |t0 AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok FROM e0),
       |$rounds""".stripMargin
  }

  def oracles: Map[String, String] = irOracles ++ Map(
    "u1_tokenize_explode" ->
      """SELECT keyword, count(*) AS keyword_count
        |FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS keyword
        |      FROM documents)
        |WHERE keyword <> '' GROUP BY 1""".stripMargin,
    "u1_tokenize_cjk" -> {
      val values = (cjkFixture ++
        cyrFixture.map { case (id, txt, _) => (id, txt) })
        .map { case (id, txt) => s"($id, '$txt')" }.mkString(",\n          ")
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |          $values) v(doc_id, text))
         |SELECT tok AS keyword, count(*) AS keyword_count FROM (
         |  SELECT unnest(flatten(list_transform(
         |    regexp_extract_all(lower(text), '[一-鿿]+|[a-z0-9]+|[а-яё]+'),
         |    sp -> CASE WHEN regexp_matches(sp, '^[一-鿿]')
         |           THEN CASE WHEN length(sp) = 1 THEN [sp]
         |                ELSE list_transform(range(1, length(sp)),
         |                       i -> substring(sp, CAST(i AS INT), 2)) END
         |           ELSE [sp] END))) AS tok
         |  FROM docs)
         |GROUP BY 1""".stripMargin
    },
    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS INT) AS char_len,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS bpe_tokens,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(len(list_filter(toks, x -> list_contains($stop, x))) AS DOUBLE)
         |            / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |            / CAST(length(text) AS DOUBLE) END AS punct_ratio
         |FROM (SELECT *, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                            x -> x <> '') AS toks
         |      FROM documents)""".stripMargin,
    "text_quality_filter" ->
      s"""SELECT doc_id, lang, source
         |FROM (SELECT *, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                            x -> x <> '') AS toks
         |      FROM documents)
         |WHERE CAST(length(text) AS INT) >= 100
         |  AND len(string_split_regex(trim(text), '\\s+')) >= 20
         |  AND (CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(len(list_filter(toks, x -> list_contains($stop, x))) AS DOUBLE)
         |            / CAST(len(toks) AS DOUBLE) END) >= 0.05
         |  AND (CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |            / CAST(length(text) AS DOUBLE) END) <= 0.2""".stripMargin,
    "text_langid" -> {
      val values = (cjkFixture.map { case (id, txt) => (id, txt, "zh") } ++
        cyrFixture)
        .map { case (id, txt, lb) => s"($id, '$txt', '$lb')" }
        .mkString(",\n          ")
      s"""WITH docs AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |          $values) v(doc_id, text, lang))
         |SELECT doc_id, lang,
         |  CASE WHEN length(text) > 0 AND
         |            length(regexp_replace(text, '[^一-鿿]', '', 'g')) * 10
         |              >= length(text) * 3 THEN 'zh'
         |       WHEN length(text) > 0 AND
         |            length(regexp_replace(text, '[^а-яА-ЯёЁ]', '', 'g')) * 10
         |              >= length(text) * 3 THEN 'ru'
         |       WHEN len(list_filter(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                                        x -> x <> ''),
         |                            x -> list_contains($stop, x))) > 0 THEN 'en'
         |       WHEN regexp_full_match(text, '[0-9\\s[:punct:]]*') THEN 'num'
         |       ELSE 'other' END AS pred_lang
         |FROM docs""".stripMargin
    },
    "text_repetition_report" ->
      s"""WITH fx AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    (CAST(-81 AS BIGINT), 'spam spam spam spam spam ham'),
         |    (CAST(-82 AS BIGINT), 'one'),
         |    (CAST(-83 AS BIGINT), '')) v(doc_id, text)),
         |tok AS MATERIALIZED (
         |  SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), '[^a-z0-9]+'),
         |    x -> x <> '') AS toks
         |  FROM fx),
         |base AS MATERIALIZED (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(length(array_to_string(toks, ' ')) AS BIGINT) AS tchars
         |  FROM tok),
         |words AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS nw,
         |    CAST(count(*) AS BIGINT) AS ndw
         |  FROM (SELECT doc_id, w, count(*) AS c
         |        FROM (SELECT doc_id, unnest(toks) AS w FROM tok)
         |        GROUP BY 1, 2)
         |  GROUP BY 1),
         |g2 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt FROM (
         |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
         |  FROM tok, unnest(generate_series(1, len(toks) - 1)) AS t(i)
         |  WHERE len(toks) >= 2) GROUP BY 1, 2),
         |top2 AS (SELECT doc_id, cnt AS top2_cnt,
         |    CAST(cnt * length(g) AS BIGINT) AS top2_chars
         |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |          ORDER BY cnt DESC, g ASC) AS rn FROM g2)
         |  WHERE rn = 1),
         |g5 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt FROM (
         |  SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS g
         |  FROM tok, unnest(generate_series(1, len(toks) - 4)) AS t(i)
         |  WHERE len(toks) >= 5) GROUP BY 1, 2),
         |dup5 AS (SELECT doc_id,
         |    CAST(sum(cnt * length(g)) AS BIGINT) AS dup5_chars
         |  FROM g5 WHERE cnt >= 2 GROUP BY 1)
         |SELECT b.doc_id, b.n_tokens,
         |  CASE WHEN b.n_tokens = 0 THEN 0.0
         |       ELSE CAST(w.nw - w.ndw AS DOUBLE) / CAST(w.nw AS DOUBLE)
         |       END AS dup_word_frac,
         |  COALESCE(t2.top2_cnt, 0) AS top2_cnt,
         |  CASE WHEN b.n_tokens = 0 THEN 0.0
         |       ELSE least(1.0, CAST(COALESCE(t2.top2_chars, 0) AS DOUBLE)
         |                       / CAST(b.tchars AS DOUBLE)) END
         |    AS top2_char_frac,
         |  CASE WHEN b.n_tokens = 0 THEN 0.0
         |       ELSE least(1.0, CAST(COALESCE(d5.dup5_chars, 0) AS DOUBLE)
         |                       / CAST(b.tchars AS DOUBLE)) END
         |    AS dup5_char_frac
         |FROM base b
         |LEFT JOIN words w USING (doc_id)
         |LEFT JOIN top2 t2 USING (doc_id)
         |LEFT JOIN dup5 d5 USING (doc_id)""".stripMargin,
    "text_gopher_rules" ->
      """SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(list_aggregate(list_transform(ws, w -> length(w)), 'sum')
        |    AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS mean_word_len,
        |  CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
        |    AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS alpha_frac,
        |  CAST(len(list_filter(ws, w -> regexp_matches(w, '#|\.\.\.')))
        |    AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS symbol_ratio,
        |  (len(ws) >= 30 AND len(ws) <= 100000
        |    AND (CAST(list_aggregate(list_transform(ws, w -> length(w)),
        |          'sum') AS DOUBLE) / CAST(len(ws) AS DOUBLE)) >= 3.0
        |    AND (CAST(list_aggregate(list_transform(ws, w -> length(w)),
        |          'sum') AS DOUBLE) / CAST(len(ws) AS DOUBLE)) <= 10.0
        |    AND (CAST(len(list_filter(ws, w -> regexp_matches(w, '#|\.\.\.')))
        |          AS DOUBLE) / CAST(len(ws) AS DOUBLE)) < 0.1
        |    AND (CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
        |          AS DOUBLE) / CAST(len(ws) AS DOUBLE)) > 0.8) AS pass
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |      FROM documents)""".stripMargin,
    // mirrors the hashed-feature device bit-for-bit: same 'qc|' salt, same
    // 60-bit md5 prefix, same % 4096 bucket and (b*K) % 2003 - 1001 weight
    // (all-positive operands, so % == pmod in both engines); DuckDB range()
    // is empty for len < 2, matching the Spark CASE guard
    "text_quality_classifier" -> {
      val values = qcFixture
        .map { case (id, txt) => s"($id, '$txt')" }.mkString(", ")
      s"""WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES $values) v(doc_id, text)),
        |$oraQcScoreCtes
        |SELECT doc_id, n_feats, score,
        |  coalesce(score >= 0.0, false) AS keep
        |FROM sc""".stripMargin
    },
    // mirrors quality_threshold_sweep: the shared classifier-score CTEs
    // sliced per threshold; the same coalesce drops NULL-score docs
    "quality_threshold_sweep" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |$oraQcScoreCtes,
         |th AS (SELECT CAST(unnest([-500.0, -250.0, -100.0, 0.0, 100.0,
         |                           250.0, 500.0]) AS DOUBLE) AS threshold),
         |k AS (
         |  SELECT t.threshold, count(*) AS n_keep,
         |    CAST(sum(sc.n_feats) AS BIGINT) AS kept_feats
         |  FROM sc, th t
         |  WHERE coalesce(sc.score >= t.threshold, false)
         |  GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM sc)
         |SELECT t.threshold, coalesce(k.n_keep, 0) AS n_keep,
         |  coalesce(k.kept_feats, 0) AS kept_feats,
         |  CAST(coalesce(k.n_keep, 0) AS DOUBLE)
         |    / (SELECT CAST(n_docs AS DOUBLE) FROM n) AS keep_rate
         |FROM th t LEFT JOIN k USING (threshold)""".stripMargin,
    // mirrors sample_shuffle_epochs: the two-level bucketed rank equals
    // a plain per-epoch row_number over the same (key, doc_id) order
    "sample_shuffle_epochs" ->
      """WITH e AS (SELECT unnest(generate_series(0, 1)) AS epoch),
        |k AS (
        |  SELECT e.epoch, d.doc_id,
        |    ('0x' || substring(md5('ep|' || e.epoch || ':' || d.doc_id),
        |      1, 15))::BIGINT AS shuffle_key
        |  FROM documents d, e)
        |SELECT epoch, doc_id, shuffle_key,
        |  row_number() OVER (PARTITION BY epoch
        |    ORDER BY shuffle_key, doc_id) - 1 AS position
        |FROM k""".stripMargin,
    // the HLL estimate is approximate by design; deterministic are the
    // exact counts, the diversity ratio, and the 5% verdict (mirroring
    // approx_uv_hll's oracle discipline)
    "text_ngram_diversity" ->
      """WITH g AS (
        |  SELECT lang, ('0x' || substring(md5(gram), 1, 15))::BIGINT AS gfp
        |  FROM (SELECT lang,
        |          unnest(list_transform(range(0, len(toks) - 7),
        |            i -> array_to_string(toks[i+1:i+8], ' '))) AS gram
        |        FROM (SELECT lang,
        |                list_filter(string_split_regex(lower(text),
        |                  '[^a-z0-9]+'), x -> x <> '') AS toks
        |              FROM documents)
        |        WHERE len(toks) >= 8))
        |SELECT lang, count(*) AS total_grams,
        |  count(DISTINCT gfp) AS distinct_grams,
        |  CAST(count(DISTINCT gfp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS diversity,
        |  true AS within_tol
        |FROM g GROUP BY 1""".stripMargin,
    // mirrors corpus_ngram_novelty: the diversity oracle's gram CTE
    // keyed by doc, distinct per doc, min(doc_id) first-seen, join-back
    "corpus_ngram_novelty" ->
      """WITH g AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substring(md5(gram), 1, 15))::BIGINT AS gfp
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(0, len(toks) - 7),
        |            i -> array_to_string(toks[i+1:i+8], ' '))) AS gram
        |        FROM (SELECT doc_id,
        |                list_filter(string_split_regex(lower(text),
        |                  '[^a-z0-9]+'), x -> x <> '') AS toks
        |              FROM documents)
        |        WHERE len(toks) >= 8)),
        |fs AS (SELECT gfp, min(doc_id) AS first_doc FROM g GROUP BY 1)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  (CAST(sum(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |     AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
        |    AS novelty_ppm
        |FROM g JOIN fs USING (gfp)
        |GROUP BY 1""".stripMargin,
    // mirrors corpus_vocab_growth: first-seen per type, binary-length
    // buckets, cumulative window over the tiny bucket relation
    "corpus_vocab_growth" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
        |wf AS (SELECT t, min(doc_id) AS first_doc FROM (
        |    SELECT DISTINCT doc_id, unnest(toks) AS t FROM toks)
        |  GROUP BY 1),
        |gf AS (SELECT gfp, min(doc_id) AS first_doc FROM (
        |    SELECT DISTINCT doc_id,
        |      ('0x' || substring(md5(gram), 1, 15))::BIGINT AS gfp
        |    FROM (SELECT doc_id,
        |            unnest(list_transform(range(0, len(toks) - 7),
        |              i -> array_to_string(toks[i+1:i+8], ' '))) AS gram
        |          FROM toks WHERE len(toks) >= 8))
        |  GROUP BY 1),
        |wc AS (SELECT length(bin(first_doc + 1)) - 1 AS j,
        |         count(*) AS vocab_new FROM wf GROUP BY 1),
        |gc AS (SELECT length(bin(first_doc + 1)) - 1 AS j,
        |         count(*) AS vocab_new FROM gf GROUP BY 1)
        |SELECT 'word' AS kind, (CAST(1 AS BIGINT) << (j + 1)) - 1
        |    AS checkpoint_docs, vocab_new,
        |  CAST(sum(vocab_new) OVER (ORDER BY j) AS BIGINT) AS vocab_cum
        |FROM wc
        |UNION ALL
        |SELECT 'gram8', (CAST(1 AS BIGINT) << (j + 1)) - 1, vocab_new,
        |  CAST(sum(vocab_new) OVER (ORDER BY j) AS BIGINT)
        |FROM gc""".stripMargin,
    // composes the salient-terms and RAKE oracles verbatim (disjoint
    // CTE names) and folds the two distinct vocabularies
    "text_keyword_agreement" -> {
      val pat = "\\b(" + graft.functions.Text.stopwords.mkString("|") +
        ")\\b"
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
         |    AS tok
         |  FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
         |       GROUP BY 1, 2),
         |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |sal AS MATERIALIZED (
         |  SELECT DISTINCT tok AS w FROM (
         |    SELECT tf.doc_id, tf.tok,
         |      row_number() OVER (PARTITION BY tf.doc_id
         |        ORDER BY tf.tf DESC, df.df ASC, tf.tok ASC) AS rank
         |    FROM tf JOIN df USING (tok))
         |  WHERE rank <= 3),
         |ph AS MATERIALIZED (
         |  SELECT trim(p) AS phrase FROM (
         |    SELECT unnest(string_split_regex(
         |      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
         |      '$pat')) AS p
         |    FROM documents)
         |  WHERE trim(p) <> ''
         |    AND len(string_split(trim(p), ' ')) <= 4),
         |wo AS (SELECT unnest(ws) AS w, len(ws) AS plen FROM (
         |    SELECT string_split(phrase, ' ') AS ws FROM ph)),
         |stats AS (SELECT w,
         |    (CAST(sum(plen) AS BIGINT) * 1000000)
         |      // CAST(count(*) AS BIGINT) AS w_score
         |  FROM wo GROUP BY 1),
         |phr AS (SELECT phrase, count(*) AS n_occurrences
         |  FROM ph GROUP BY 1),
         |rk20 AS MATERIALIZED (
         |  SELECT p.phrase,
         |    CAST(sum(s.w_score) AS BIGINT) AS score_micro
         |  FROM (SELECT phrase, n_occurrences,
         |          unnest(string_split(phrase, ' ')) AS w FROM phr) p
         |  JOIN stats s USING (w)
         |  GROUP BY 1
         |  ORDER BY score_micro DESC, phrase ASC
         |  LIMIT 20),
         |rkw AS MATERIALIZED (
         |  SELECT DISTINCT unnest(string_split(phrase, ' ')) AS w
         |  FROM rk20),
         |agg AS (SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM sal) AS n_tfidf_words,
         |  (SELECT CAST(count(*) AS BIGINT) FROM rkw) AS n_rake_words,
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM sal JOIN rkw USING (w)) AS n_common)
         |SELECT n_tfidf_words, n_rake_words, n_common,
         |  n_tfidf_words - n_common AS n_only_tfidf,
         |  n_rake_words - n_common AS n_only_rake,
         |  (n_common * 1000000)
         |    // greatest(n_tfidf_words + n_rake_words - n_common, 1)
         |    AS jaccard_ppm
         |FROM agg""".stripMargin
    },
    // mirrors RAKE: same stopword split, same deg/freq micro ratios,
    // same (score DESC, phrase ASC) cut
    "text_rake_keywords" -> {
      val pat = "\\b(" + graft.functions.Text.stopwords.mkString("|") +
        ")\\b"
      s"""WITH ph AS MATERIALIZED (
         |  SELECT trim(p) AS phrase FROM (
         |    SELECT unnest(string_split_regex(
         |      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
         |      '$pat')) AS p
         |    FROM documents)
         |  WHERE trim(p) <> ''
         |    AND len(string_split(trim(p), ' ')) <= 4),
         |wo AS (SELECT unnest(ws) AS w, len(ws) AS plen FROM (
         |    SELECT string_split(phrase, ' ') AS ws FROM ph)),
         |stats AS (SELECT w,
         |    (CAST(sum(plen) AS BIGINT) * 1000000)
         |      // CAST(count(*) AS BIGINT) AS w_score
         |  FROM wo GROUP BY 1),
         |phr AS (SELECT phrase, count(*) AS n_occurrences
         |  FROM ph GROUP BY 1)
         |SELECT p.phrase, p.n_occurrences,
         |  CAST(sum(s.w_score) AS BIGINT) AS score_micro
         |FROM (SELECT phrase, n_occurrences,
         |        unnest(string_split(phrase, ' ')) AS w FROM phr) p
         |JOIN stats s USING (w)
         |GROUP BY 1, 2
         |ORDER BY score_micro DESC, phrase ASC
         |LIMIT 20""".stripMargin
    },
    // mirrors q_topk_ta: same three integer attributes, same
    // ORDER-BY-LIMIT prefixes, same threshold and certificate algebra
    "q_topk_ta" -> {
      val per = Seq(8, 32, 128).map { p =>
        (1 to 3).map(i =>
          s"""pre${p}_$i AS MATERIALIZED (
             |  SELECT doc_id, s$i FROM sc
             |  ORDER BY s$i DESC, doc_id ASC LIMIT $p)""".stripMargin)
          .mkString(",\n") + ",\n" +
          s"""cand$p AS MATERIALIZED (
             |  SELECT c.doc_id, sc.s1 + sc.s2 + sc.s3 AS total
             |  FROM (SELECT doc_id FROM pre${p}_1 UNION
             |        SELECT doc_id FROM pre${p}_2 UNION
             |        SELECT doc_id FROM pre${p}_3) c
             |  JOIN sc USING (doc_id)),
             |kth$p AS (SELECT min(total) AS kth_seen,
             |    CAST(count(*) AS BIGINT) AS k_found FROM
             |  (SELECT total FROM cand$p
             |   ORDER BY total DESC, doc_id ASC LIMIT 10)),
             |t$p AS (SELECT (SELECT min(s1) FROM pre${p}_1)
             |  + (SELECT min(s2) FROM pre${p}_2)
             |  + (SELECT min(s3) FROM pre${p}_3) AS threshold)"""
            .stripMargin
      }.mkString(",\n")
      val outs = Seq(8, 32, 128).map { p =>
        s"""SELECT CAST($p AS BIGINT) AS prefix_depth,
           |  (SELECT CAST(count(*) AS BIGINT) FROM cand$p)
           |    AS n_candidates,
           |  (SELECT threshold FROM t$p) AS threshold,
           |  (SELECT kth_seen FROM kth$p) AS kth_seen,
           |  (SELECT k_found FROM kth$p) = 10
           |    AND (SELECT kth_seen FROM kth$p)
           |        >= (SELECT threshold FROM t$p) AS certified"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH sc AS MATERIALIZED (
         |  SELECT doc_id, n_chars AS s1,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         |      AS s2,
         |    CAST(len(list_distinct(list_filter(string_split_regex(
         |      lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS BIGINT)
         |      AS s3
         |  FROM documents),
         |$per
         |$outs""".stripMargin
    },
    // mirrors text_f2_moment: the 16 tug-of-war counters, mean-of-4 /
    // median-of-4, and the exact twin — integer-identical
    "text_f2_moment" -> {
      val hi = "('0','1','2','3','4','5','6','7')"
      val xcols = (0 until 16).map(j =>
        s"""CAST(sum(CASE WHEN substr(md5('ams$j|' || tok), 1, 1)
           |    IN $hi THEN 1 ELSE -1 END) AS BIGINT) AS x$j""".stripMargin)
        .mkString(",\n")
      val mcols = (0 until 4).map(g =>
        (4 * g until 4 * g + 4).map(j => s"x$j * x$j")
          .mkString(s"(", " + ", s") // 4 AS m$g")).mkString(",\n")
      s"""WITH occ AS MATERIALIZED (
         |  SELECT unnest(list_filter(string_split_regex(lower(text),
         |    '[^a-z0-9]+'), x -> x <> '')) AS tok FROM documents),
         |xs AS (SELECT CAST(count(*) AS BIGINT) AS n_occurrences,
         |$xcols
         |  FROM occ),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct,
         |    CAST(sum(cf * cf) AS BIGINT) AS f2_exact
         |  FROM (SELECT tok, count(*) AS cf FROM occ GROUP BY 1)),
         |m AS (SELECT n_occurrences, n_distinct, f2_exact,
         |$mcols
         |  FROM xs, ex),
         |e AS (SELECT n_occurrences, n_distinct, f2_exact,
         |    (m0 + m1 + m2 + m3 - greatest(m0, m1, m2, m3)
         |     - least(m0, m1, m2, m3)) // 2 AS f2_est
         |  FROM m)
         |SELECT n_occurrences, n_distinct, f2_exact, f2_est,
         |  (abs(f2_est - f2_exact) * 1000000) // f2_exact AS rel_err_ppm
         |FROM e""".stripMargin
    },
    // mirrors corpus_source_ablation: the text_quality_filter gate as a
    // per-doc flag, per-source additive rollup, LOO arithmetic
    "corpus_source_ablation" ->
      s"""WITH f AS (SELECT source, n_chars,
         |    CASE WHEN CAST(length(text) AS INT) >= 100
         |      AND len(string_split_regex(trim(text), '\\s+')) >= 20
         |      AND (CASE WHEN len(toks) = 0 THEN 0.0
         |           ELSE CAST(len(list_filter(toks,
         |             x -> list_contains($stop, x))) AS DOUBLE)
         |             / CAST(len(toks) AS DOUBLE) END) >= 0.05
         |      AND (CASE WHEN length(text) = 0 THEN 0.0
         |           ELSE CAST(length(text) - length(regexp_replace(text,
         |             '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |             / CAST(length(text) AS DOUBLE) END) <= 0.2
         |      THEN 1 ELSE 0 END AS pass
         |  FROM (SELECT *, list_filter(string_split_regex(lower(text),
         |          '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents)),
         |per AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(pass) AS BIGINT) AS n_pass,
         |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |  FROM f GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
         |    CAST(sum(n_pass) AS BIGINT) AS t_pass,
         |    CAST(sum(sum_chars) AS BIGINT) AS t_chars FROM per)
         |SELECT source, n_docs, n_pass,
         |  (n_pass * 1000000) // n_docs AS pass_ppm,
         |  ((t_pass - n_pass) * 1000000) // greatest(t_docs - n_docs, 1)
         |    AS loo_pass_ppm,
         |  (n_pass * 1000000) // n_docs -
         |    ((t_pass - n_pass) * 1000000) // greatest(t_docs - n_docs, 1)
         |    AS delta_ppm,
         |  sum_chars // n_docs AS mean_chars,
         |  (t_chars - sum_chars) // greatest(t_docs - n_docs, 1)
         |    AS loo_mean_chars
         |FROM per, tot""".stripMargin,
    "corpus_health_report" -> {
      val values = healthFixture.map { case (id, src, lg, nc, txt) =>
        s"($id, '$src', '$lg', $nc, '$txt')" }.mkString(", ")
      s"""WITH all_docs AS (
        |  SELECT doc_id, source, lang, n_chars, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES $values)
        |    v(doc_id, source, lang, n_chars, text)),
        |docs AS (SELECT doc_id, text FROM all_docs),
        |$oraQcScoreCtes,
        |f AS (
        |  SELECT d.doc_id, d.source, d.lang, d.n_chars,
        |    coalesce(sc.score >= 0.0, false) AS keep,
        |    md5(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ',
        |      'g'))) AS fp
        |  FROM all_docs d JOIN sc ON sc.doc_id = d.doc_id),
        |g AS (SELECT fp, count(*) AS fp_ct FROM f GROUP BY 1)
        |SELECT source, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS keep_rate,
        |  CAST(sum(CASE WHEN fp_ct > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS clone_rate,
        |  count(DISTINCT lang) AS langs
        |FROM f JOIN g USING (fp)
        |GROUP BY 1""".stripMargin
    },
    // fully relational mirror (no nested lambdas): duplicated grams →
    // covered positions via unnest(range(i, i+8)) → kept = positions
    // EXCEPT covered, reassembled in order
    // mirrors text_dup_profile: the same 8 fixed lengths, fp rollup,
    // and count algebra per length
    "text_dup_profile" -> {
      // rolling-prefix fps (oraRollingCtes — the rolling_fps twin); a
      // length exceeding every document still emits its zeros row (the
      // aggregate runs over an empty window relation)
      def lenSql(l: Int): String =
        s"""SELECT CAST($l AS BIGINT) AS win_len,
           |  CAST(coalesce(sum(c), 0) AS BIGINT) AS n_windows,
           |  CAST(count(*) AS BIGINT) AS n_distinct,
           |  CAST(coalesce(sum(CASE WHEN c >= 2 THEN c ELSE 0 END), 0)
           |    AS BIGINT) AS n_dup_windows,
           |  CAST((coalesce(sum(CASE WHEN c >= 2 THEN c ELSE 0 END), 0)
           |    * 1000000) // greatest(coalesce(sum(c), 0), 1)
           |    AS BIGINT) AS dup_ppm
           |FROM (
           |  SELECT fp, count(*) AS c FROM (
           |    SELECT ${oraRollFp(s"$l").replace("\n", " ")} AS fp
           |    FROM (SELECT ps, pw.pw AS pwl,
           |            unnest(generate_series(1,
           |              greatest(len(ps) - $l + 1, 0))) AS i
           |          FROM pl JOIN pws pw ON pw.j = $l))
           |  GROUP BY fp)""".stripMargin
      s"""WITH n AS (SELECT
         |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
         |  FROM documents),
         |$oraRollingCtes
         |${Seq(8, 16, 32, 64, 128, 256, 512, 1024).map(lenSql)
          .mkString("\nUNION ALL\n")}""".stripMargin
    },
    // mirrors text_longest_dup: the SAME 13-round binary search unrolled
    // (each round MATERIALIZED — the sim_kcore inlining lesson), fp
    // probes identical to the engine's, exact substring regroup at the
    // answer length
    "text_longest_dup" -> {
      // probe fps via the rolling-prefix identity (oraRollingCtes);
      // a mid beyond every document finds no pws row and so no windows
      // — dup=false, exactly the engine's empty rolling_fps array
      def roundSql(k: Int): String =
        s"""m$k AS (SELECT lo, hi, (lo + hi) // 2 AS mid FROM s$k),
           |w$k AS (SELECT ${oraRollFp("mid").replace("\n", " ")} AS fp
           |  FROM (SELECT ps, m.mid, pw.pw AS pwl,
           |          unnest(generate_series(1,
           |            greatest(len(ps) - m.mid + 1, 0))) AS i
           |        FROM pl CROSS JOIN m$k m
           |        JOIN pws pw ON pw.j = m.mid)),
           |d$k AS (SELECT count(*) > 0 AS dup FROM (
           |  SELECT fp FROM w$k GROUP BY fp HAVING count(*) >= 2
           |  LIMIT 1)),
           |s${k + 1} AS MATERIALIZED (
           |  SELECT CASE WHEN d.dup THEN m.mid ELSE m.lo END AS lo,
           |         CASE WHEN d.dup THEN m.hi ELSE m.mid END AS hi
           |  FROM m$k m CROSS JOIN d$k d)""".stripMargin
      s"""WITH n AS (SELECT
         |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
         |  FROM documents),
         |$oraRollingCtes,
         |s1 AS (SELECT 0 AS lo, 8192 AS hi),
         |${(1 to 13).map(roundSql).mkString(",\n")},
         |fin AS (SELECT lo AS l, greatest(lo, 1) AS lw FROM s14),
         |dupw AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS occ FROM (
         |    SELECT substr(norm, i, lw) AS w
         |    FROM (SELECT n.norm, f.lw,
         |            unnest(range(1, greatest(len(n.norm) - f.lw + 2, 1)))
         |              AS i
         |          FROM n CROSS JOIN fin f))
         |  GROUP BY w HAVING count(*) >= 2)
         |SELECT CAST(f.l AS BIGINT) AS max_dup_len,
         |  CAST(coalesce((SELECT count(*) FROM dupw), 0) AS BIGINT)
         |    AS n_dup_strings,
         |  coalesce((SELECT min(w) FROM dupw), '') AS example,
         |  CAST(coalesce((SELECT max(occ) FROM dupw), 0) AS BIGINT)
         |    AS max_occ
         |FROM fin f""".stripMargin
    },
    "text_substring_dedup" -> {
      val values = ssdFixture
        .map { case (id, txt) => s"($id, '$txt')" }.mkString(",\n          ")
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |          $values) v(doc_id, text)),
         |tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text),
         |    '[^a-z0-9]+'), x -> x <> '') AS toks
         |  FROM docs),
         |g AS (
         |  SELECT doc_id, i, ('0x' || substring(md5(
         |      array_to_string(toks[i+1:i+8], ' ')), 1, 15))::BIGINT AS gfp
         |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 7)) AS i
         |        FROM tk WHERE len(toks) >= 8)),
         |dup AS (SELECT gfp FROM g GROUP BY gfp HAVING count(*) > 1),
         |cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + 8)) AS p
         |        FROM g JOIN dup USING (gfp)),
         |pos AS (SELECT doc_id, unnest(range(0, len(toks))) AS p,
         |          unnest(toks) AS tok
         |        FROM tk),
         |keptpos AS (
         |  SELECT pos.doc_id, pos.p, pos.tok
         |  FROM pos LEFT JOIN cov
         |    ON pos.doc_id = cov.doc_id AND pos.p = cov.p
         |  WHERE cov.p IS NULL),
         |kept AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    array_to_string(list(tok ORDER BY p), ' ') AS clean
         |  FROM keptpos GROUP BY doc_id)
         |SELECT t.doc_id,
         |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(len(t.toks) - coalesce(k.n_kept, 0) AS BIGINT) AS n_dropped,
         |  md5(coalesce(k.clean, '')) AS clean_fp
         |FROM tk t LEFT JOIN kept k USING (doc_id)""".stripMargin
    },
    // mirrors text_heavy_hitters_cms: the deterministic md5-bucketed
    // 4×256 sketch re-derived cell by cell, probed for the exact top-20
    "text_heavy_hitters_cms" ->
      """WITH tl AS (
        |  SELECT regexp_extract_all(lower(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9\s]') AS t
        |  FROM documents),
        |tok AS (SELECT unnest(t) AS tok FROM tl),
        |fpt AS (SELECT tok,
        |          ('0x' || substring(md5(tok), 1, 15))::BIGINT AS fp
        |        FROM tok),
        |c AS (SELECT fp, count(*) AS exact_count FROM fpt GROUP BY 1),
        |win AS (
        |  SELECT fp, exact_count,
        |    row_number() OVER (ORDER BY exact_count DESC, fp ASC) AS rank
        |  FROM c ORDER BY exact_count DESC, fp ASC LIMIT 20),
        |tx AS (SELECT f.fp, min(f.tok) AS token
        |       FROM fpt f JOIN win USING (fp) GROUP BY 1),
        |cells AS (
        |  SELECT j.j,
        |    ('0x' || substring(md5(tok || '_c' || j.j), 1, 15))::BIGINT
        |      % 256 AS b,
        |    count(*) AS c
        |  FROM tok, (SELECT unnest(generate_series(0, 3)) AS j) j
        |  GROUP BY 1, 2),
        |probes AS (
        |  SELECT w.rank, t.token, w.exact_count, j.j,
        |    ('0x' || substring(md5(t.token || '_c' || j.j), 1, 15))::BIGINT
        |      % 256 AS b
        |  FROM win w JOIN tx t USING (fp),
        |       (SELECT unnest(generate_series(0, 3)) AS j) j)
        |SELECT p.rank, p.token, p.exact_count,
        |  min(ce.c) AS cms_estimate,
        |  min(ce.c) - p.exact_count AS cms_overestimate
        |FROM probes p JOIN cells ce ON ce.j = p.j AND ce.b = p.b
        |GROUP BY 1, 2, 3""".stripMargin,
    "text_top_ngrams" ->
      """WITH g AS (
        |  SELECT lang, gram,
        |    ('0x' || substring(md5(gram), 1, 15))::BIGINT AS gfp
        |  FROM (SELECT lang,
        |          unnest(list_transform(range(0, len(toks) - 7),
        |            i -> array_to_string(toks[i+1:i+8], ' '))) AS gram
        |        FROM (SELECT lang,
        |                list_filter(string_split_regex(lower(text),
        |                  '[^a-z0-9]+'), x -> x <> '') AS toks
        |              FROM documents)
        |        WHERE len(toks) >= 8)),
        |c AS (SELECT lang, gfp, count(*) AS cnt FROM g GROUP BY 1, 2),
        |r AS (SELECT lang, gfp, cnt,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY cnt DESC, gfp ASC) AS rank
        |      FROM c)
        |SELECT r.lang, t.gram, r.cnt, r.rank
        |FROM r JOIN (SELECT lang, gfp, min(gram) AS gram
        |             FROM g GROUP BY 1, 2) t USING (lang, gfp)
        |WHERE rank <= 10""".stripMargin,
    // mirrors text_bpe_merges: the bpeish subword stream, adjacent-pair
    // unnest, fp-keyed counting, global rank tie-broken on the fp
    "text_bpe_merges" ->
      """WITH tl AS (
        |  SELECT regexp_extract_all(lower(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9\s]') AS t
        |  FROM documents),
        |p AS (
        |  SELECT pair,
        |    ('0x' || substring(md5(pair), 1, 15))::BIGINT AS pfp
        |  FROM (SELECT unnest(list_transform(range(1, len(t)),
        |          i -> t[i] || ' ' || t[i + 1])) AS pair
        |        FROM tl WHERE len(t) >= 2)),
        |c AS (SELECT pfp, min(pair) AS pair, count(*) AS pair_count
        |      FROM p GROUP BY 1)
        |SELECT rank, pair, pair_count FROM (
        |  SELECT pair, pair_count,
        |    row_number() OVER (ORDER BY pair_count DESC, pfp ASC) AS rank
        |  FROM c)
        |WHERE rank <= 40""".stripMargin,
    // mirrors text_bpe_train: 3 chained count→pick→greedy-rewrite rounds
    // (the sim_kmeans_train chained-CTE device applied to the tokenizer
    // loop); greedy non-overlap = even offsets within idx-consecutive
    // candidate islands, identical window algebra to the Spark side
    "text_bpe_train" ->
      s"""WITH $oraBpeChain
         |SELECT * FROM o1
         |UNION ALL SELECT * FROM o2
         |UNION ALL SELECT * FROM o3""".stripMargin,
    // mirrors text_bpe_apply: the same 3-round chain, final stream
    // counted per doc against the raw token count; integer // division
    // (both engines truncate identically on non-negative operands)
    "text_bpe_apply" ->
      s"""WITH $oraBpeChain,
         |cnt AS (SELECT doc_id, count(*) AS n FROM t3 GROUP BY 1),
         |raw AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS tokens_raw
         |        FROM d)
         |SELECT r.doc_id, r.tokens_raw,
         |  CAST(coalesce(c.n, 0) AS BIGINT) AS tokens_bpe,
         |  CASE WHEN r.tokens_raw = 0 THEN CAST(1000000 AS BIGINT)
         |    ELSE (coalesce(c.n, 0) * 1000000) // r.tokens_raw
         |  END AS compression_micro
         |FROM raw r LEFT JOIN cnt c USING (doc_id)""".stripMargin,
    "text_corpus_stats" ->
      """SELECT lang, source, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |    AS total_ws_tokens,
        |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT)
        |    AS total_bpe_tokens
        |FROM documents GROUP BY 1, 2""".stripMargin,
    // mirrors privacy_k_anonymity: same QI tuple, class rollup,
    // log2 buckets via length(bin(..)), and the k=8 violation scalar
    "privacy_k_anonymity" ->
      """WITH classes AS (
        |  SELECT lang, source,
        |    length(bin(greatest(n_chars, 1))) - 1 AS len_bucket,
        |    CAST(count(*) AS BIGINT) AS class_size
        |  FROM documents GROUP BY 1, 2, 3),
        |tot AS (SELECT CAST(sum(class_size) AS BIGINT) AS t_docs,
        |  CAST(coalesce(sum(CASE WHEN class_size < 8 THEN class_size
        |    ELSE 0 END), 0) AS BIGINT) AS t_violating
        |  FROM classes)
        |SELECT length(bin(class_size)) - 1 AS size_bucket,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(class_size) AS BIGINT) AS n_docs,
        |  CAST(min(class_size) AS BIGINT) AS min_size,
        |  CAST(max(class_size) AS BIGINT) AS max_size,
        |  (any_value(t.t_violating) * 1000000)
        |    // greatest(any_value(t.t_docs), 1) AS violating_k8_ppm
        |FROM classes CROSS JOIN tot t
        |GROUP BY 1""".stripMargin,
    "text_pii_scrub" -> {
      val values = piiFixture
        .map { case (id, txt) => s"($id, '$txt')" }.mkString(",\n          ")
      val oraEmail = """(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
      val oraPhone =
        """(?:\+[0-9]{1,3}[ ])?\(?[0-9]{3}\)?[ -][0-9]{3}[ -][0-9]{4}"""
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |          $values) v(doc_id, text)),
         |s1 AS (SELECT doc_id, text,
         |         regexp_replace(text, '$oraEmail', '<EMAIL>', 'g') AS de
         |       FROM docs)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$oraEmail')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(de, '$oraPhone')) AS INT) AS n_phones,
         |  md5(regexp_replace(de, '$oraPhone', '<PHONE>', 'g')) AS scrubbed_fp
         |FROM s1""".stripMargin
    },
    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "text_contamination_neardup" ->
      s"""WITH pairs AS (${Dedup.oraclesMinhash})
         |SELECT least(da.source, db.source) AS src_x,
         |  greatest(da.source, db.source) AS src_y,
         |  count(*) AS neardup_pairs
         |FROM pairs p
         |JOIN documents da ON da.doc_id = p.doc_a
         |JOIN documents db ON db.doc_id = p.doc_b
         |WHERE da.source <> db.source
         |GROUP BY 1, 2""".stripMargin,
    "text_contamination" ->
      """WITH fp AS (SELECT DISTINCT source,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  count(*) AS shared_fps
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    "text_contamination_ngram" -> {
      val values = ngramFixture
        .map { case (id, txt) => s"($id, '$txt')" }.mkString(",\n          ")
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |          $values) v(doc_id, text)),
         |tok AS (
         |  SELECT doc_id, $oraBenchRule AS is_bench,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                x -> x <> '') AS toks
         |  FROM docs),
         |grams AS (
         |  SELECT DISTINCT doc_id, is_bench,
         |    ('0x' || substring(md5(gram), 1, 15))::BIGINT AS gfp
         |  FROM (SELECT doc_id, is_bench,
         |          unnest(list_transform(range(0, len(toks) - 12),
         |            i -> array_to_string(toks[i+1:i+13], ' '))) AS gram
         |        FROM tok WHERE len(toks) >= 13))
         |SELECT g.doc_id, count(*) AS shared_13grams
         |FROM grams g
         |JOIN (SELECT DISTINCT gfp FROM grams WHERE is_bench) b USING (gfp)
         |WHERE NOT g.is_bench
         |GROUP BY 1""".stripMargin
    },
    "text_contamination_report" -> {
      val values = (ngramFixture ++ bloomFixture)
        .map { case (id, txt) => s"($id, '$txt')" }.mkString(",\n          ")
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |          $values) v(doc_id, text)),
         |f AS (
         |  SELECT doc_id, $oraBenchRule AS is_bench,
         |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
         |      AS fp
         |  FROM docs),
         |ex AS (
         |  SELECT DISTINCT t.doc_id, TRUE AS exact_clone
         |  FROM f t JOIN f b ON t.fp = b.fp AND b.is_bench
         |  WHERE NOT t.is_bench),
         |tok AS (
         |  SELECT doc_id, $oraBenchRule AS is_bench,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                x -> x <> '') AS toks
         |  FROM docs),
         |grams AS (
         |  SELECT DISTINCT doc_id, is_bench,
         |    ('0x' || substring(md5(gram), 1, 15))::BIGINT AS gfp
         |  FROM (SELECT doc_id, is_bench,
         |          unnest(list_transform(range(0, len(toks) - 12),
         |            i -> array_to_string(toks[i+1:i+13], ' '))) AS gram
         |        FROM tok WHERE len(toks) >= 13)),
         |quoted AS (
         |  SELECT g.doc_id, count(*) AS shared_13grams
         |  FROM grams g
         |  JOIN (SELECT DISTINCT gfp FROM grams WHERE is_bench) b
         |    USING (gfp)
         |  WHERE NOT g.is_bench
         |  GROUP BY 1),
         |pairs AS (${Dedup.oraclesMinhashFrom("docs")}),
         |bdocs AS (SELECT doc_id FROM f WHERE is_bench),
         |para AS (
         |  SELECT DISTINCT d AS doc_id, TRUE AS near_dup FROM (
         |    SELECT p.doc_a AS d FROM pairs p
         |    JOIN bdocs b ON b.doc_id = p.doc_b
         |    UNION ALL
         |    SELECT p.doc_b FROM pairs p
         |    JOIN bdocs b ON b.doc_id = p.doc_a) x
         |  WHERE d NOT IN (SELECT doc_id FROM bdocs))
         |SELECT COALESCE(e.doc_id, q.doc_id, p.doc_id) AS doc_id,
         |  COALESCE(e.exact_clone, FALSE) AS exact_clone,
         |  CAST(COALESCE(q.shared_13grams, 0) AS BIGINT) AS shared_13grams,
         |  COALESCE(p.near_dup, FALSE) AS near_dup
         |FROM ex e
         |FULL OUTER JOIN quoted q ON q.doc_id = e.doc_id
         |FULL OUTER JOIN para p
         |  ON p.doc_id = COALESCE(e.doc_id, q.doc_id)""".stripMargin
    },
    // the oracle mirrors ONLY the exact decontamination semantics — the
    // bloom is a pruning device with zero false negatives, and its false
    // positives are killed by the verify join, so gated ≡ exact
    "text_decontam_bloom" -> {
      val values = (ngramFixture ++ bloomFixture)
        .map { case (id, txt) => s"($id, '$txt')" }.mkString(",\n          ")
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |          $values) v(doc_id, text)),
         |f AS (
         |  SELECT doc_id, $oraBenchRule AS is_bench,
         |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
         |      AS fp
         |  FROM docs)
         |SELECT DISTINCT t.doc_id, t.fp
         |FROM f t JOIN f b ON t.fp = b.fp AND b.is_bench
         |WHERE NOT t.is_bench""".stripMargin
    },
    "text_repetition" ->
      """SELECT doc_id, count(*) AS n_toks,
        |  CAST(count(DISTINCT tok) AS DOUBLE) / count(*) AS distinct_ratio,
        |  CAST(max(c) AS DOUBLE) / count(*) AS top_token_share
        |FROM (SELECT doc_id, tok,
        |        count(*) OVER (PARTITION BY doc_id, tok) AS c
        |      FROM (SELECT doc_id,
        |              unnest(list_filter(string_split_regex(lower(text),
        |                '[^a-z0-9]+'), x -> x <> '')) AS tok
        |            FROM documents))
        |GROUP BY doc_id""".stripMargin,
    // same planted union; counts via len(regexp_extract_all) — RE2-safe
    // patterns (char class, alternation + \b, (?m) anchor), score by
    // BIGINT floor division (// ≡ Spark's DIV on non-negative operands)
    "text_code_detect" ->
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |          $codeFixtureValues) v(doc_id, text)),
         |$oraCodeScored
         |SELECT doc_id, n_chars, n_sym, n_kw, n_indent, n_lines,
         |  code_score, code_score >= 50 AS is_code
         |FROM scs""".stripMargin,
    // the shared scoring chain, then per-lane gates (prose: the proven
    // pipeline_clean_corpus predicate chain; code: length floor) and a
    // keep-first (lane, fp) dedup window
    "pipeline_routed_corpus" ->
      (s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |          $codeFixtureValues) v(doc_id, text)),
         |$oraCodeScored,
         |""".stripMargin +
        s"""routed AS (
           |  SELECT doc_id, text, n_chars,
           |    CASE WHEN code_score >= 50 THEN 'code' ELSE 'prose' END
           |      AS lane,
           |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
           |      'g'))) AS fp,
           |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           |      x -> x <> '') AS toks
           |  FROM scs),
           |gated AS (
           |  SELECT doc_id, lane, fp,
           |    CASE WHEN lane = 'code' THEN n_chars >= 30
           |         ELSE (n_chars >= 100
           |           AND len(string_split_regex(trim(text), '\\s+')) >= 20
           |           AND (CASE WHEN len(toks) = 0 THEN 0.0
           |                ELSE CAST(len(list_filter(toks,
           |                    x -> list_contains($stop, x))) AS DOUBLE)
           |                  / CAST(len(toks) AS DOUBLE) END) >= 0.05
           |           AND (CASE WHEN length(text) = 0 THEN 0.0
           |                ELSE CAST(length(text) - length(regexp_replace(
           |                    text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
           |                  / CAST(length(text) AS DOUBLE) END) <= 0.2)
           |    END AS passed
           |  FROM routed),
           |keep AS (
           |  SELECT doc_id, rn = 1 AS kept FROM (
           |    SELECT doc_id, row_number() OVER (PARTITION BY lane, fp
           |      ORDER BY doc_id ASC) AS rn
           |    FROM gated WHERE passed))
           |SELECT g.doc_id, g.lane, g.passed,
           |  COALESCE(k.kept, false) AS kept
           |FROM gated g LEFT JOIN keep k ON k.doc_id = g.doc_id"""
          .stripMargin),
    // the tokenize chain shared with text_top_ngrams; global rank only
    // over the top-4096 cut, HUGEINT sums pinned back to BIGINT
    "text_vocab_coverage" ->
      """WITH tf AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT unnest(list_filter(string_split_regex(lower(text),
        |          '[^a-z0-9]+'), x -> x <> '')) AS tok
        |        FROM documents)
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT tok, tf,
        |    row_number() OVER (ORDER BY tf DESC, tok ASC) AS rank
        |  FROM tf),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total_tokens FROM tf),
        |sz AS (SELECT unnest([8, 16, 32, 64, 256]) AS vocab_size)
        |SELECT CAST(s.vocab_size AS BIGINT) AS vocab_size,
        |  CAST(sum(r.tf) AS BIGINT) AS covered_tokens,
        |  t.total_tokens,
        |  CAST(CAST(sum(r.tf) AS BIGINT) AS DOUBLE) /
        |    CAST(t.total_tokens AS DOUBLE) AS coverage
        |FROM sz s
        |JOIN ranked r ON r.rank <= s.vocab_size
        |CROSS JOIN tot t
        |GROUP BY s.vocab_size, t.total_tokens""".stripMargin,
    "text_line_dedup" -> {
      val values = lineFixture.map { case (id, txt) =>
        val t = txt.split("\n", -1).map(s => s"'$s'")
          .mkString(" || chr(10) || ")
        s"($id, $t)"
      }.mkString(",\n          ")
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |          $values) v(doc_id, text)),
         |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs),
         |lines AS (
         |  SELECT doc_id, i AS idx, ls[i] AS line, md5(trim(ls[i])) AS lfp
         |  FROM (SELECT doc_id, ls,
         |          unnest(generate_series(1, len(ls))) AS i
         |        FROM l0)),
         |hot AS (
         |  SELECT lfp FROM (
         |    SELECT lfp, count(DISTINCT doc_id) AS nd FROM lines GROUP BY 1)
         |  WHERE nd > 2),
         |cleaned AS (
         |  SELECT doc_id,
         |    md5(string_agg(line, chr(10) ORDER BY idx)) AS clean_fp,
         |    count(*) AS n_kept
         |  FROM lines WHERE lfp NOT IN (SELECT lfp FROM hot)
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(c.clean_fp, md5('')) AS clean_fp,
         |  CAST(COALESCE(c.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(len(string_split(d.text, chr(10))) AS BIGINT)
         |    - CAST(COALESCE(c.n_kept, 0) AS BIGINT) AS n_dropped
         |FROM docs d LEFT JOIN cleaned c ON c.doc_id = d.doc_id""".stripMargin
    },
    // same snapshot conventions as corpus_snapshot_diff; the score and
    // 21-bucket granularity mirror corpus_token_budget's proven fragment;
    // every count/ppm CAST to BIGINT (DuckDB sums/divides go HUGEINT)
    "corpus_quality_drift" -> {
      def snap(pred: String, txt: String) =
        s"""SELECT CAST(least(floor((CASE WHEN len(toks0) = 0 THEN 0.0
           |    ELSE CAST(len(list_filter(toks0,
           |           x -> list_contains($stop, x))) AS DOUBLE)
           |         / CAST(len(toks0) AS DOUBLE) END) * 20), 20)
           |  AS BIGINT) AS bucket
           |FROM (SELECT list_filter(string_split_regex(lower($txt),
           |        '[^a-z0-9]+'), x -> x <> '') AS toks0
           |      FROM documents WHERE $pred)""".stripMargin
      val newTxt = s"CASE WHEN ${oraHashBucket("upd|")} < 10 " +
        "THEN text || ' rev2' ELSE text END"
      s"""WITH olds AS (${snap(s"${oraHashBucket("mem|")} < 95", "text")}),
         |news AS (${snap(s"${oraHashBucket("mem|")} >= 5", newTxt)}),
         |oc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
         |       FROM olds GROUP BY 1),
         |nc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
         |       FROM news GROUP BY 1),
         |op AS (SELECT bucket, n,
         |         CAST(n * 1000000 // (SELECT sum(n) FROM oc) AS BIGINT)
         |           AS ppm FROM oc),
         |np AS (SELECT bucket, n,
         |         CAST(n * 1000000 // (SELECT sum(n) FROM nc) AS BIGINT)
         |           AS ppm FROM nc)
         |SELECT COALESCE(op.bucket, np.bucket) AS bucket,
         |  COALESCE(op.n, 0) AS old_n, COALESCE(np.n, 0) AS new_n,
         |  COALESCE(op.ppm, 0) AS old_ppm, COALESCE(np.ppm, 0) AS new_ppm,
         |  COALESCE(np.ppm, 0) - COALESCE(op.ppm, 0) AS shift_ppm
         |FROM op FULL OUTER JOIN np ON op.bucket = np.bucket""".stripMargin
    },
    "corpus_snapshot_diff" ->
      s"""WITH o AS (
         |  SELECT doc_id,
         |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
         |      AS fp_old
         |  FROM documents WHERE ${oraHashBucket("mem|")} < 95),
         |n AS (
         |  SELECT doc_id,
         |    md5(trim(regexp_replace(lower(
         |      CASE WHEN ${oraHashBucket("upd|")} < 10
         |           THEN text || ' rev2' ELSE text END),
         |      '[^a-z0-9]+', ' ', 'g'))) AS fp_new
         |  FROM documents WHERE ${oraHashBucket("mem|")} >= 5)
         |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       WHEN o.fp_old = n.fp_new THEN 'unchanged'
         |       ELSE 'changed' END AS change
         |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,
    // the oracle computes the SAME selection with a plain global running
    // total — the semantics; the Spark side's bucketed prefix-sum is the
    // scale mechanism
    "corpus_token_budget" ->
      s"""WITH s AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(lower(text),
         |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS toks,
         |    CASE WHEN len(toks0) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter(toks0, x -> list_contains($stop, x))) AS DOUBLE)
         |              / CAST(len(toks0) AS DOUBLE) END AS score
         |  FROM (SELECT *, list_filter(string_split_regex(lower(text),
         |          '[^a-z0-9]+'), x -> x <> '') AS toks0
         |        FROM documents)),
         |c AS (
         |  SELECT doc_id, source, toks,
         |    sum(toks) OVER (ORDER BY score DESC, doc_id ASC
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM s)
         |SELECT doc_id, source, toks FROM c WHERE cum <= 12000""".stripMargin,
    "pipeline_clean_corpus" ->
      s"WITH ${oraCleanCorpusCtes("documents")}\n$oraCleanCorpusSelect",
    // front-door CTEs → train survivors → the pack-sequences cumsum over
    // exactly those docs
    "pipeline_packed_corpus" ->
      s"""WITH ${oraCleanCorpusCtes("documents")},
         |sel AS ($oraCleanCorpusSelect),
         |surv AS (SELECT doc_id FROM sel WHERE split = 'train'),
         |s2 AS (
         |  SELECT d.doc_id,
         |    CAST(len(regexp_extract_all(lower(d.text),
         |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS toks
         |  FROM documents d JOIN surv USING (doc_id)),
         |c AS (
         |  SELECT doc_id, toks,
         |    sum(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |      AS cum
         |  FROM s2 WHERE toks > 0)
         |SELECT doc_id, toks,
         |  CAST(cum - toks AS BIGINT) AS start_tok,
         |  CAST((cum - toks) // 512 AS BIGINT) AS pack_first,
         |  CAST((cum - 1) // 512 AS BIGINT) AS pack_last,
         |  CAST((cum - toks) % 512 AS BIGINT) AS offset_in_pack
         |FROM c""".stripMargin,
    // front-door CTEs → train survivors → the chunk CTE over exactly
    // those docs
    "pipeline_chunked_corpus" ->
      s"""WITH ${oraCleanCorpusCtes("documents")},
         |sel AS ($oraCleanCorpusSelect),
         |surv AS (SELECT doc_id FROM sel WHERE split = 'train'),
         |tl AS (
         |  SELECT d.doc_id, regexp_extract_all(lower(d.text),
         |    '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS t
         |  FROM documents d JOIN surv USING (doc_id)),
         |x AS (
         |  SELECT doc_id, t,
         |    unnest(generate_series(0, CAST((len(t) - 1) // 48 AS BIGINT)))
         |      AS ci
         |  FROM tl WHERE len(t) > 0)
         |SELECT doc_id, CAST(ci * 48 AS BIGINT) AS chunk_start,
         |  CAST(least(64, len(t) - ci * 48) AS BIGINT) AS chunk_toks,
         |  array_to_string(t[ci * 48 + 1 : ci * 48 + 64], ' ') AS chunk_text
         |FROM x""".stripMargin,
    "text_dsir_weights" ->
      s"""WITH $oraDsirCtes
         |SELECT bucket, tgt_ct, raw_ct, w_micro FROM dw""".stripMargin,
    "sample_importance_dsir" ->
      s"""WITH $oraDsirCtes,
         |dtk AS (
         |  SELECT doc_id,
         |    ('0x' || substring(md5('dsir|' || tok), 1, 15))::BIGINT
         |      % 1024 AS bucket
         |  FROM (SELECT doc_id, unnest(toks) AS tok FROM dq)),
         |dsc AS (
         |  SELECT doc_id, CAST(sum(w_micro) AS BIGINT) AS w_sum,
         |    CAST(count(*) AS BIGINT) AS n_toks
         |  FROM dtk JOIN dw USING (bucket) GROUP BY 1)
         |SELECT doc_id, n_toks,
         |  CAST(w_sum AS DOUBLE) / CAST(n_toks AS DOUBLE) AS score
         |FROM dsc
         |WHERE ${oraPpmBucket("dsirs|")}
         |  < least(999999, CAST(round((CAST(w_sum AS DOUBLE)
         |      / CAST(n_toks AS DOUBLE)) / 2) AS BIGINT))""".stripMargin,
    // mirrors the ESS report: the DSIR per-doc chain, milli truncation,
    // per-source + corpus folds of Kong's (Σw)²/Σw²
    "sample_ess_report" ->
      s"""WITH $oraDsirCtes,
         |dtk AS (
         |  SELECT doc_id,
         |    ('0x' || substring(md5('dsir|' || tok), 1, 15))::BIGINT
         |      % 1024 AS bucket
         |  FROM (SELECT doc_id, unnest(toks) AS tok FROM dq)),
         |mu AS (
         |  SELECT d.doc_id, docs.source,
         |    (CAST(sum(w_micro) AS BIGINT) // count(*)) // 1000 AS mu
         |  FROM dtk d JOIN dw USING (bucket)
         |  JOIN documents docs ON docs.doc_id = d.doc_id
         |  GROUP BY 1, 2),
         |f AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(mu) AS BIGINT) AS s1,
         |    CAST(sum(mu * mu) AS BIGINT) AS s2
         |  FROM mu GROUP BY 1
         |  UNION ALL
         |  SELECT '__all__', CAST(count(*) AS BIGINT),
         |    CAST(sum(mu) AS BIGINT), CAST(sum(mu * mu) AS BIGINT)
         |  FROM mu)
         |SELECT source, n_docs,
         |  (s1 * s1) // greatest(s2, 1) AS ess_docs,
         |  (((s1 * s1) // greatest(s2, 1)) * 1000000) // n_docs
         |    AS ess_ppm
         |FROM f""".stripMargin,
    "sample_curriculum_order" ->
      """SELECT doc_id, band,
        |  CAST(row_number() OVER (ORDER BY band, doc_id) - 1 AS BIGINT)
        |    AS pos
        |FROM (SELECT doc_id,
        |        CAST(least(15, length(text) // 256) AS BIGINT) AS band
        |      FROM documents)""".stripMargin,
    // the oracle IS the full front-door re-run on the new snapshot — hash
    // equality proves the incremental patch-and-rededup path reproduces it
    "pipeline_incremental_corpus" ->
      s"""WITH newsnap AS (
         |  SELECT doc_id, source,
         |    CASE WHEN ${oraHashBucket("upd|")} < 10
         |         THEN text || ' rev2' ELSE text END AS text
         |  FROM documents WHERE ${oraHashBucket("mem|")} >= 5),
         |${oraCleanCorpusCtes("newsnap")}
         |$oraCleanCorpusSelect""".stripMargin,
    // the oracle computes the SAME intervals with a plain global running
    // total — the semantics; the bucketed prefix-sum is the scale
    // mechanism (exactly the corpus_token_budget discipline)
    "corpus_pack_sequences" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    sum(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      AS cum
        |  FROM s WHERE toks > 0)
        |SELECT doc_id, toks,
        |  CAST(cum - toks AS BIGINT) AS start_tok,
        |  CAST((cum - toks) // 512 AS BIGINT) AS pack_first,
        |  CAST((cum - 1) // 512 AS BIGINT) AS pack_last,
        |  CAST((cum - toks) % 512 AS BIGINT) AS offset_in_pack
        |FROM c""".stripMargin,
    // same cumsum CTE, then exact integer intersection of each doc's
    // [start, start+toks) with each touched pack's [p·512, (p+1)·512)
    "corpus_pack_spans" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    sum(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      AS cum
        |  FROM s WHERE toks > 0),
        |x AS (
        |  SELECT doc_id, toks, CAST(cum - toks AS BIGINT) AS start_tok,
        |    unnest(generate_series(CAST((cum - toks) // 512 AS BIGINT),
        |                           CAST((cum - 1) // 512 AS BIGINT)))
        |      AS pack_id
        |  FROM c)
        |SELECT pack_id, doc_id,
        |  greatest(start_tok, pack_id * 512) - start_tok AS tok_from,
        |  least(start_tok + toks, (pack_id + 1) * 512)
        |    - greatest(start_tok, pack_id * 512) AS n_toks,
        |  greatest(start_tok, pack_id * 512) - pack_id * 512 AS pack_offset
        |FROM x""".stripMargin,
    // mirrors text_chunk_windows: starts at multiples of 48 below the
    // token count, 64-token slices clipped at doc end (DuckDB 1-based
    // inclusive list slicing clips like Spark's slice)
    "text_chunk_windows" ->
      """WITH tl AS (
        |  SELECT doc_id, regexp_extract_all(lower(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9\s]') AS t
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(0, CAST((len(t) - 1) // 48 AS BIGINT)))
        |      AS ci
        |  FROM tl WHERE len(t) > 0)
        |SELECT doc_id, CAST(ci * 48 AS BIGINT) AS chunk_start,
        |  CAST(least(64, len(t) - ci * 48) AS BIGINT) AS chunk_toks,
        |  array_to_string(t[ci * 48 + 1 : ci * 48 + 64], ' ') AS chunk_text
        |FROM x""".stripMargin,
    // the spans CTE joined to doc metadata, rolled up per (pack, source),
    // totals + top-source (toks DESC, source ASC) per pack
    "corpus_pack_manifest" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    sum(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      AS cum
        |  FROM s WHERE toks > 0),
        |x AS (
        |  SELECT doc_id, toks, CAST(cum - toks AS BIGINT) AS start_tok,
        |    unnest(generate_series(CAST((cum - toks) // 512 AS BIGINT),
        |                           CAST((cum - 1) // 512 AS BIGINT)))
        |      AS pack_id
        |  FROM c),
        |sp AS (
        |  SELECT pack_id, doc_id,
        |    least(start_tok + toks, (pack_id + 1) * 512)
        |      - greatest(start_tok, pack_id * 512) AS n_toks
        |  FROM x),
        |ps AS (
        |  SELECT sp.pack_id, d.source,
        |    CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(sp.n_toks) AS BIGINT) AS toks
        |  FROM sp JOIN documents d USING (doc_id)
        |  GROUP BY 1, 2)
        |SELECT t.pack_id, t.n_docs, t.n_tokens, t.n_sources,
        |  p.top_source, p.top_source_toks
        |FROM (SELECT pack_id, CAST(sum(nd) AS BIGINT) AS n_docs,
        |        CAST(sum(toks) AS BIGINT) AS n_tokens,
        |        CAST(count(*) AS BIGINT) AS n_sources
        |      FROM ps GROUP BY 1) t
        |JOIN (SELECT pack_id, source AS top_source,
        |        toks AS top_source_toks
        |      FROM (SELECT pack_id, source, toks,
        |              row_number() OVER (PARTITION BY pack_id
        |                ORDER BY toks DESC, source ASC) AS rk
        |            FROM ps)
        |      WHERE rk = 1) p USING (pack_id)""".stripMargin,
    // plain global row_number over (toks, doc_id) — the semantics; the
    // bucketed doc-count prefix sum is the scale mechanism. Every output
    // column CAST to BIGINT (DuckDB windowed/grouped sums go HUGEINT).
    "corpus_length_batches" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, toks,
        |    row_number() OVER (ORDER BY toks, doc_id) AS rn
        |  FROM s WHERE toks > 0),
        |b AS (SELECT doc_id, toks,
        |        CAST((rn - 1) // 32 AS BIGINT) AS batch_id FROM r)
        |SELECT batch_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(toks) AS BIGINT) AS max_toks,
        |  CAST(sum(toks) AS BIGINT) AS sum_toks,
        |  CAST(count(*) * max(toks) - sum(toks) AS BIGINT) AS padding
        |FROM b GROUP BY 1""".stripMargin,
    // the same span CTEs, then each span's actual token slice, packs
    // reassembled in offset order — mirrors materializePacks exactly
    "corpus_pack_tokens" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9\s]') AS toklist,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toklist, toks,
        |    sum(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      AS cum
        |  FROM s WHERE toks > 0),
        |x AS (
        |  SELECT doc_id, toklist, toks,
        |    CAST(cum - toks AS BIGINT) AS start_tok,
        |    unnest(generate_series(CAST((cum - toks) // 512 AS BIGINT),
        |                           CAST((cum - 1) // 512 AS BIGINT)))
        |      AS pack_id
        |  FROM c),
        |sl AS (
        |  SELECT pack_id,
        |    greatest(start_tok, pack_id * 512) - pack_id * 512
        |      AS pack_offset,
        |    list_slice(toklist,
        |      CAST(greatest(start_tok, pack_id * 512) - start_tok
        |        AS BIGINT) + 1,
        |      CAST(least(start_tok + toks, (pack_id + 1) * 512) - start_tok
        |        AS BIGINT)) AS piece
        |  FROM x)
        |SELECT pack_id, CAST(sum(len(piece)) AS BIGINT) AS n_toks,
        |  string_agg(array_to_string(piece, ' '), ' '
        |             ORDER BY pack_offset) AS tokens
        |FROM sl GROUP BY pack_id""".stripMargin,
    "text_winnow_fps" ->
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                x -> x <> '') AS toks
         |  FROM documents),
         |gh AS (
         |  SELECT doc_id,
         |    list_transform(range(0, len(toks) - ${WinnowK - 1}),
         |      i -> ('0x' || substring(md5(
         |             array_to_string(toks[i+1:i+$WinnowK], ' ')), 1, 15))
         |           ::BIGINT) AS ghs
         |  FROM tok WHERE len(toks) >= ${WinnowK + WinnowW - 1})
         |SELECT DISTINCT doc_id, wfp FROM (
         |  SELECT doc_id,
         |    unnest(list_transform(range(0, len(ghs) - ${WinnowW - 1}),
         |      i -> list_aggregate(ghs[i+1:i+$WinnowW], 'min'))) AS wfp
         |  FROM gh)""".stripMargin,
    "dedup_partial_overlap" -> {
      val values = overlapFixture
        .map { case (id, txt) => s"($id, '$txt')" }.mkString(",\n          ")
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |          $values) v(doc_id, text)),
         |tok AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                x -> x <> '') AS toks
         |  FROM docs),
         |gh AS (
         |  SELECT doc_id,
         |    list_transform(range(0, len(toks) - ${WinnowK - 1}),
         |      i -> ('0x' || substring(md5(
         |             array_to_string(toks[i+1:i+$WinnowK], ' ')), 1, 15))
         |           ::BIGINT) AS ghs
         |  FROM tok WHERE len(toks) >= ${WinnowK + WinnowW - 1}),
         |w AS (
         |  SELECT DISTINCT doc_id, wfp FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(0, len(ghs) - ${WinnowW - 1}),
         |        i -> list_aggregate(ghs[i+1:i+$WinnowW], 'min'))) AS wfp
         |    FROM gh)),
         |hot AS (
         |  SELECT wfp FROM (
         |    SELECT wfp, count(*) AS nd FROM w GROUP BY 1)
         |  WHERE nd > 50),
         |k AS (SELECT * FROM w WHERE wfp NOT IN (SELECT wfp FROM hot))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS shared_fps
         |FROM k a JOIN k b ON a.wfp = b.wfp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= 2""".stripMargin
    },
    "sample_exact_k_global" ->
      """SELECT doc_id, lang, source FROM documents
        |ORDER BY md5('gk|' || doc_id::VARCHAR) ASC, doc_id ASC
        |LIMIT 100""".stripMargin,
    "sample_topk_per_source" ->
      """SELECT source, rk, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('tk|' || doc_id::VARCHAR) ASC, doc_id ASC) AS rk
        |  FROM documents)
        |WHERE rk <= 5""".stripMargin,
    // mirrors sample_weighted_ares: same 40-bit u, same quantized-log2
    // key algebra (msb via length(bin(u)), integer DIV throughout)
    "sample_weighted_ares" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    greatest(len(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> x <> '')), 1)::BIGINT AS w,
        |    ('0x' || substring(md5('ares|' || doc_id::VARCHAR), 1, 10))
        |      ::BIGINT + 1 AS u
        |  FROM documents)
        |SELECT doc_id, source, w,
        |  ((41943040 - (1048576 * (length(bin(u)) - 1)
        |    + ((u - (CAST(1 AS BIGINT) << (length(bin(u)) - 1))) * 1048576)
        |      // (CAST(1 AS BIGINT) << (length(bin(u)) - 1)))) * 262144)
        |    // w AS key_q
        |FROM d
        |ORDER BY key_q ASC, doc_id ASC
        |LIMIT 100""".stripMargin,
    "sample_stratified_exact" -> {
      val values = stratifiedBudgets
        .map { case (l, k) => s"('$l', $k)" }.mkString(", ")
      s"""SELECT lang, source, rk, doc_id FROM (
         |  SELECT d.lang, d.source, d.doc_id, w.cell_k,
         |    row_number() OVER (PARTITION BY d.lang, d.source
         |      ORDER BY md5('stx|' || d.doc_id::VARCHAR) ASC, d.doc_id ASC)
         |      AS rk
         |  FROM documents d
         |  JOIN (VALUES $values) w(b_lang, cell_k) ON d.lang = w.b_lang)
         |WHERE rk <= cell_k""".stripMargin
    },
    "text_salient_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
        |    AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, rank, tok, tf, df FROM (
        |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df ASC, tf.tok ASC) AS rank
        |  FROM tf JOIN df USING (tok))
        |WHERE rank <= 3""".stripMargin,
    // same tokenization CTEs as text_salient_terms; DuckDB's integer sums
    // go HUGEINT, so every sum is cast back to BIGINT before the score's
    // single division
    "text_unigram_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
        |    AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf FROM tf
        |       GROUP BY 1)
        |SELECT doc_id, n_tokens, rarity_micro_sum,
        |  CAST(rarity_micro_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    AS rarity,
        |  (CAST(rarity_micro_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |    > 250000.0 AS is_tail
        |FROM (
        |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |    CAST(sum(tf.tf * (1000000 // cf.cf)) AS BIGINT)
        |      AS rarity_micro_sum
        |  FROM tf JOIN cf USING (tok) GROUP BY 1)""".stripMargin,
    "sample_mixture_weights" ->
      s"""SELECT doc_id, lang, source
         |FROM documents
         |JOIN (VALUES ('en', 100), ('zh', 80), ('de', 50), ('fr', 25),
         |             ('es', 10)) w(w_lang, keep_pct)
         |  ON lang = w_lang
         |WHERE ${oraHashBucket("mix|")} < keep_pct""".stripMargin,
    "sample_hash_stratified" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${oraHashBucket("smp|")} < 10""".stripMargin,
    // the tokenize chain shared with text_vocab_coverage; top-32 by
    // (tf DESC, tok ASC), membership via NOT IN over the bounded cut
    "text_oov_rate" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> x <> '')) AS tok
        |  FROM documents),
        |tf AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
        |top AS (
        |  SELECT tok FROM (
        |    SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS rn
        |    FROM tf)
        |  WHERE rn <= 16)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(sum(CASE WHEN tok IN (SELECT tok FROM top) THEN 0 ELSE 1
        |           END) AS BIGINT) AS n_oov,
        |  CAST(CAST(sum(CASE WHEN tok IN (SELECT tok FROM top) THEN 0
        |           ELSE 1 END) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS oov_rate
        |FROM tk GROUP BY 1""".stripMargin,
    // all-integer order key; the oracle's global row_number IS the
    // Spark side's two-level bucketed rank (strict total order)
    "sample_mixture_schedule" ->
      """WITH n AS (SELECT source, count(*) AS n_docs FROM documents
        |           GROUP BY 1),
        |w AS (SELECT source,
        |        CAST(ceil(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w
        |      FROM n),
        |r AS (SELECT doc_id, source,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY doc_id) - 1 AS BIGINT) AS rk
        |      FROM documents),
        |k AS (SELECT r.doc_id, r.source,
        |        rk // w.w AS cycle, rk % w.w AS slot
        |      FROM r JOIN w USING (source))
        |SELECT doc_id, source, cycle, slot,
        |  CAST(row_number() OVER (ORDER BY cycle, source, slot) - 1
        |    AS BIGINT) AS pos
        |FROM k""".stripMargin,
    "sample_temperature_alpha" ->
      s"""WITH r AS (
         |  SELECT lang,
         |    CAST(floor(1000000 * least(1.0,
         |      10 / sqrt(CAST(count(*) AS DOUBLE)))) AS BIGINT) AS keep_ppm
         |  FROM documents GROUP BY 1)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN r ON d.lang = r.lang
         |WHERE ${oraPpmBucket("tmp|")} < keep_ppm""".stripMargin,
    "sample_train_split" ->
      s"""SELECT doc_id, source,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, source, ${oraHashBucket("spl|")} AS b
         |      FROM documents)""".stripMargin,
    "text_wordpiece_segment" ->
      s"""WITH $oraWordpieceChain
         |SELECT word, np AS n_pieces, seg, pos > len AS done
         |FROM s$WordpieceRounds""".stripMargin,
    "text_wordpiece_counts" ->
      s"""WITH $oraWordpieceChain,
         |tok AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split_regex(lower(text), '[^a-z0-9]+'),
         |    x -> x <> '')) AS word
         |  FROM documents)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(s.np) AS BIGINT) AS n_subwords
         |FROM tok t JOIN s$WordpieceRounds s USING (word)
         |GROUP BY 1""".stripMargin,
    "text_unigram_train" ->
      s"""WITH $oraUnigramChain
         |SELECT piece, plen, c AS cnt, wq AS weight_q
         |FROM sm${UnigramPruneSchedule.length}""".stripMargin,
    "text_unigram_counts" ->
      s"""WITH $oraUnigramChain,
         |useg AS (
         |  SELECT word, np
         |  FROM d${UnigramPruneSchedule.length}_$UnigramMaxPos
         |  WHERE pos = len
         |  UNION ALL
         |  SELECT word, CAST(1 AS BIGINT) AS np FROM w0
         |  WHERE len > $UnigramMaxPos),
         |tok AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split_regex(lower(text), '[^a-z0-9]+'),
         |    x -> x <> '')) AS word
         |  FROM documents)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(s.np) AS BIGINT) AS n_subwords
         |FROM tok t JOIN useg s USING (word)
         |GROUP BY 1""".stripMargin,
    "text_tokenizer_eval" ->
      s"""WITH $oraWordStats,
         |$oraWordpieceTail,
         |$oraUnigramTail,
         |nw AS (SELECT CAST(sum(wf) AS BIGINT) AS n_words FROM w0),
         |wps AS (SELECT CAST(sum(w.wf * s.np) AS BIGINT) AS n_subwords
         |        FROM s$WordpieceRounds s JOIN w0 w USING (word)),
         |wpv AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size FROM vocab),
         |uns AS (SELECT CAST(sum(x) AS BIGINT) AS n_subwords FROM (
         |   SELECT wf * np AS x
         |   FROM d${UnigramPruneSchedule.length}_$UnigramMaxPos
         |   WHERE pos = len
         |   UNION ALL
         |   SELECT wf * 1 FROM w0 WHERE len > $UnigramMaxPos)),
         |unv AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size
         |        FROM m${UnigramPruneSchedule.length})
         |SELECT 'wordpiece' AS tokenizer, wpv.vocab_size, nw.n_words,
         |  wps.n_subwords,
         |  CAST(wps.n_subwords AS DOUBLE) / CAST(nw.n_words AS DOUBLE)
         |    AS fertility
         |FROM nw, wps, wpv
         |UNION ALL
         |SELECT 'unigram', unv.vocab_size, nw.n_words, uns.n_subwords,
         |  CAST(uns.n_subwords AS DOUBLE) / CAST(nw.n_words AS DOUBLE)
         |FROM nw, uns, unv""".stripMargin,
    "text_unigram_segment" ->
      s"""WITH $oraUnigramChain
         |SELECT word, wf, np AS n_pieces, seg, sc AS score_q,
         |  TRUE AS covered
         |FROM d${UnigramPruneSchedule.length}_$UnigramMaxPos WHERE pos = len
         |UNION ALL
         |SELECT word, wf, CAST(1 AS BIGINT) AS n_pieces, word AS seg,
         |  CAST(0 AS BIGINT) AS score_q, FALSE AS covered
         |FROM w0 WHERE len > $UnigramMaxPos""".stripMargin)

  /** One greedy round: finished rows pass through; active rows take the
    * longest inventory piece at the cursor (unique per length, so the
    * row_number cut has no ambiguity). Mirrors the Spark loop body. */
  private def oraWordpieceRound(r: Int): String =
    s"""s$r AS MATERIALIZED (
       |  SELECT word, len, pos, np, seg FROM s${r - 1} WHERE pos > len
       |  UNION ALL
       |  SELECT word, len, pos + plen AS pos, np + 1 AS np,
       |    CASE WHEN seg = '' THEN piece
       |         ELSE seg || '|' || piece END AS seg
       |  FROM (SELECT s.word, s.len, s.pos, s.np, s.seg, v.piece, v.plen,
       |          row_number() OVER (PARTITION BY s.word
       |            ORDER BY v.plen DESC) AS rn
       |        FROM s${r - 1} s JOIN vocab v
       |          ON substr(s.word, CAST(s.pos AS INT),
       |               CAST(v.plen AS INT)) = v.piece
       |        WHERE s.pos <= s.len)
       |  WHERE rn = 1)""".stripMargin

  /** The shared word/substring statistics prefix — one definition, so a
    * query composing BOTH tokenizer families (text_tokenizer_eval) can
    * build a single WITH without duplicate CTE names. */
  private lazy val oraWordStats: String =
    s"""w0 AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS wf,
       |    CAST(length(word) AS BIGINT) AS len
       |  FROM (SELECT unnest(list_filter(
       |          string_split_regex(lower(text), '[^a-z0-9]+'),
       |          x -> x <> '')) AS word
       |        FROM documents)
       |  GROUP BY 1),
       |grams AS MATERIALIZED (
       |  SELECT substr(word, CAST(pos AS INT), CAST(plen AS INT)) AS piece,
       |    CAST(sum(wf) AS BIGINT) AS freq
       |  FROM w0,
       |    unnest(generate_series(1, len)) AS p(pos),
       |    unnest(generate_series(1, 6)) AS q(plen)
       |  WHERE pos + plen - 1 <= len
       |  GROUP BY 1)""".stripMargin

  /** WordPiece-specific CTEs (inventory cut + greedy loop) on top of
    * [[oraWordStats]]. */
  private lazy val oraWordpieceTail: String =
    s"""topg AS (SELECT piece, freq FROM grams
       |         ORDER BY freq DESC, piece ASC LIMIT 512),
       |vocab AS MATERIALIZED (
       |  SELECT piece, CAST(length(piece) AS BIGINT) AS plen FROM (
       |    SELECT piece, freq FROM topg
       |    UNION
       |    SELECT piece, freq FROM grams WHERE length(piece) = 1)),
       |s0 AS MATERIALIZED (
       |  SELECT word, len, CAST(1 AS BIGINT) AS pos,
       |    CAST(0 AS BIGINT) AS np, '' AS seg
       |  FROM w0),
       |${(1 to WordpieceRounds).map(oraWordpieceRound).mkString(",\n")}""".stripMargin

  private lazy val oraWordpieceChain: String =
    s"$oraWordStats,\n$oraWordpieceTail"

  /** DuckDB mirror of qlogSql (`<<`/`//` mirror shiftleft/DIV —
    * operands are non-negative, so floor and truncation agree). */
  private def oraQlog(c: String): String =
    s"(16 * (length(bin($c)) - 1) + (($c - (CAST(1 AS BIGINT) << " +
      s"(length(bin($c)) - 1))) * 16) // (CAST(1 AS BIGINT) << " +
      s"(length(bin($c)) - 1)))"

  /** One Viterbi DP round of pass k: position r's best path per word
    * (candidates extend the already-final positions r−6..r−1). Mirrors
    * the unigramViterbi loop body CTE-for-CTE. */
  private def oraUnigramDp(k: Int, r: Int): String =
    s"""d${k}_$r AS MATERIALIZED (
       |  SELECT word, len, wf, pos, sc, np, seg FROM d${k}_${r - 1}
       |  UNION ALL
       |  SELECT word, len, wf, pos, sc, np, seg FROM (
       |    SELECT s.word, s.len, s.wf, s.pos + v.plen AS pos,
       |      s.sc + v.wq AS sc, s.np + 1 AS np,
       |      CASE WHEN s.seg = '' THEN v.piece
       |           ELSE s.seg || '|' || v.piece END AS seg,
       |      row_number() OVER (PARTITION BY s.word
       |        ORDER BY s.sc + v.wq DESC, s.np + 1 ASC,
       |          CASE WHEN s.seg = '' THEN v.piece
       |               ELSE s.seg || '|' || v.piece END ASC) AS rn
       |    FROM d${k}_${r - 1} s JOIN sm$k v
       |      ON s.pos + v.plen = $r
       |     AND substr(s.word, CAST(s.pos + 1 AS INT),
       |           CAST(v.plen AS INT)) = v.piece
       |    WHERE s.pos < s.len)
       |  WHERE rn = 1)""".stripMargin

  /** One hard-EM pass: score model k, Viterbi-segment under it, then
    * (unless it's the final scoring-only pass) recount + prune to the
    * schedule's keep width with the single-char floor. */
  private def oraUnigramPass(k: Int, keep: Option[Int]): String = {
    val score =
      s"""sm$k AS MATERIALIZED (
         |  SELECT piece, CAST(length(piece) AS BIGINT) AS plen, c,
         |    CAST(${oraQlog("c")} - ${oraQlog("tc")} AS BIGINT) AS wq
         |  FROM m$k, (SELECT CAST(sum(c) AS BIGINT) AS tc FROM m$k))""".stripMargin
    val dp0 =
      s"""d${k}_0 AS MATERIALIZED (
         |  SELECT word, len, wf, CAST(0 AS BIGINT) AS pos,
         |    CAST(0 AS BIGINT) AS sc, CAST(0 AS BIGINT) AS np, '' AS seg
         |  FROM w0 WHERE len <= $UnigramMaxPos)""".stripMargin
    val rounds = (1 to UnigramMaxPos).map(oraUnigramDp(k, _))
    val next = keep.map { kp =>
      s"""u$k AS MATERIALIZED (
         |  SELECT piece, CAST(sum(wf) AS BIGINT) AS c FROM (
         |    SELECT wf, unnest(string_split(seg, '|')) AS piece
         |    FROM d${k}_$UnigramMaxPos WHERE pos = len)
         |  GROUP BY 1),
         |m${k + 1} AS MATERIALIZED (
         |  SELECT piece, c FROM (
         |    SELECT piece, c FROM (SELECT piece, c FROM u$k
         |      ORDER BY c DESC, piece ASC LIMIT $kp)
         |    UNION
         |    SELECT ch.piece, COALESCE(u.c, CAST(1 AS BIGINT)) AS c
         |    FROM chars ch LEFT JOIN u$k u USING (piece)))""".stripMargin
    }
    (Seq(score, dp0) ++ rounds ++ next.toSeq).mkString(",\n")
  }

  /** The shared unigram-LM chain: substring seed, then the hard-EM prune
    * schedule (512→384→256), then the final scored model + Viterbi pass.
    * Reuses the WordPiece w0/grams statistics CTEs verbatim. */
  /** Unigram-specific CTEs (seed + EM passes) on top of [[oraWordStats]]. */
  private lazy val oraUnigramTail: String = {
    val passes = UnigramPruneSchedule.zipWithIndex
      .map { case (kp, k) => oraUnigramPass(k, Some(kp)) } :+
      oraUnigramPass(UnigramPruneSchedule.length, None)
    s"""chars AS MATERIALIZED (
       |  SELECT piece FROM grams WHERE length(piece) = 1),
       |m0 AS MATERIALIZED (
       |  SELECT piece, c FROM (
       |    SELECT piece, freq AS c FROM (SELECT piece, freq FROM grams
       |      ORDER BY freq DESC, piece ASC LIMIT $UnigramSeed)
       |    UNION
       |    SELECT piece, freq AS c FROM grams WHERE length(piece) = 1)),
       |${passes.mkString(",\n")}""".stripMargin
  }

  private lazy val oraUnigramChain: String =
    s"$oraWordStats,\n$oraUnigramTail"
}
