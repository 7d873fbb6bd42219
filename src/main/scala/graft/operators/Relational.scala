package graft.operators

import org.apache.spark.sql.functions._
import graft.core.Barrier.BarrierOps
import graft.functions.Natives

/** Relational core: scans, joins, aggregations over the TPC-H-ish fixtures.
  *
  * J1 stream-stream inner equi-join (ref DwdTradeOrderDetail.java:99-100)
  * J2 double left outer join        (ref DwdTradeOrderDetail.java:101-102)
  * J3 interval join ±15min/15s      (ref DwdTradeOrderPaySucDetail.java:101-125)
  * J4 lookup/temporal dim join      (ref DwdInteractionCommentInfo.java:64-80)
  * K5 upsert latest-per-key         (ref SQLUtil.java:54-62)
  * K6 dim MERGE put/delete          (ref DimHBaseSinkFunction.java:33-70)
  *
  * Scale notes:
  *  - j1 is the big fact-fact join: shuffle hash/sort-merge on the join key;
  *    AQE handles skew. No broadcast (both sides grow with SF).
  *  - j4's dim side (nation/region) is tiny and bounded → explicit
  *    `broadcast()` so the plan never shuffles the fact stream for a dim.
  *  - k5/k6 latest-per-key uses a window function = single shuffle by key;
  *    at 100 TB this is the canonical changelog-compaction shape.
  */
object Relational extends OpModule {

  def queries: Map[String, Q] = Map(
    // Per-key skew detector — the decision input for j8_salted_join /
    // AQE skew handling: for each fact join key, exact per-key-count
    // percentiles and the hot-key ratio, all from the COUNT-OF-COUNTS
    // relation (one map-side-combined groupBy per key, then a second
    // tiny aggregate over the few hundred DISTINCT count values — the
    // only window runs on that bounded relation, never the data; the
    // q_quantiles_approx histogram-rank-selection device applied to key
    // cardinality). pXX = smallest count with cumulative key coverage ≥
    // ceil(q·n_keys); hot_ratio_ppm = max/mean in ppm via one integer
    // DIV — a reading ≫ 1e6 says one key floods a reducer and the join
    // needs salting/AQE-skew before it needs more executors.
    // The other two classical join-size estimators beside
    // q_join_card_estimate's histograms — one row per method over the
    // same orders⋈lineitem FK join, each with the exact size and error:
    // * 'agms' — the AMS inner-product sketch (Alon, Gibbons, Matias &
    //   Szegedy '99): per side, 16 additive ±1 counters over the join
    //   key (signs from md5 bits, SHARED across sides — E[X_A·X_B] =
    //   Σ_k cA·cB exactly); estimate = median-of-4 of mean-of-4 of
    //   X_A·X_B. The streaming estimator: each side is 16 integers, no
    //   key ever crosses an exchange.
    // * 'universe_16' — correlated (universe) key sampling, the Quickr/
    //   join-synopsis device: BOTH sides keep exactly the keys hashing
    //   into bucket 0 of 16, so sampled keys join with their full
    //   multiplicity and est = 16 × |sampled join| is unbiased — unlike
    //   independent row sampling, which destroys join keys (p² survival).
    // All integers; md5-deterministic → hash-exact under the oracle.
    // r15: the 16 per-row sign coordinates come from ONE native walk
    // (`agms_signs`, plans/AgmsSigns.scala — same md5 family bit for
    // bit; sign-sum identity vs this composed form pinned in
    // NativeExprSpec) instead of 16 independent md5→hex→substring→isin
    // Column chains per row per side.
    "q_join_size_sketches" -> ((s, dir) => {
      val Seq(ca, cb) = Seq(
        t(s, dir, "orders")
          .select(col("o_orderkey").cast("string").as("k")),
        t(s, dir, "lineitem")
          .select(col("l_orderkey").cast("string").as("k")))
        .map(graft.core.Barrier(_))
      def sketch(side: org.apache.spark.sql.DataFrame, p: String) =
        side.select(Natives.agmsSigns(col("k")).as("sg"))
          .agg(sum(element_at(col("sg"), 1)).as(s"${p}0"),
            (1 until 16).map(j =>
              sum(element_at(col("sg"), j + 1)).as(s"$p$j")): _*)
      // DECISION (r16, kneser_ney-style — recorded where the next
      // profiler will look): this exact twin is the query's COST at
      // scale, and that is intentional. Sweep rows (sf0.1 harness):
      // 16× 5.47 s, 64× 19.7 s — 3.6× for 4× data. The sketch side is
      // one narrow agms_signs walk per fact (16 integers out, linear,
      // no key ever crosses an exchange); the growth is entirely this
      // groupBy+join over BOTH fact key columns. It stays because the
      // exact join size is the query's CONTRACT — err_ppm against the
      // true value is what the report exists to say, and the oracle
      // recomputes it — so capping the twin to the universe-sampled
      // keys would change the semantics (err vs an estimate of the
      // truth), not just the plan. A deployment that wants sketch-only
      // cost drops the twin: the agms/universe rows are independent of
      // it up to the final broadcast attach.
      val exact = ca.groupBy(col("k")).agg(count(lit(1)).as("cA"))
        .join(cb.groupBy(col("k")).agg(count(lit(1)).as("cB")), "k")
        .agg(coalesce(sum(col("cA") * col("cB")), lit(0L))
          .as("exact_rows"))
      val agms = sketch(ca, "xa").crossJoin(sketch(cb, "xb"))
        .select((0 until 4).map(g => expr(
          (4 * g until 4 * g + 4).map(j => s"xa$j * xb$j")
            .mkString("(", " + ", ")") + " DIV 4").as(s"m$g")): _*)
        .select(expr("(m0 + m1 + m2 + m3 " +
          "- greatest(m0, m1, m2, m3) - least(m0, m1, m2, m3)) DIV 2")
          .as("est_rows"))
        .select(lit("agms").as("method"), col("est_rows"))
      val bucket0 = expr("pmod(CAST(conv(substring(md5(concat('us|', k))" +
        ", 1, 15), 16, 10) AS BIGINT), 16) = 0")
      val uni = ca.filter(bucket0)
        .join(cb.filter(bucket0), "k")
        .agg((count(lit(1)) * 16L).as("est_rows"))
        .select(lit("universe_16").as("method"), col("est_rows"))
      agms.unionByName(uni)
        .crossJoin(broadcast(exact))
        .select(col("method"), col("est_rows"), col("exact_rows"),
          expr("(abs(est_rows - exact_rows) * 1000000)" +
            " DIV greatest(exact_rows, 1)").as("err_ppm"))
    }),
    // BLOOM SEMI-JOIN reduction — the classical distributed-join
    // technique (Bloomjoin; Mackert & Lohman's semi-join reduction, the
    // device behind Spark's own runtime row-group filters): the
    // selective dim side (part, p_size ≥ 46 — ~10%) compresses to a
    // ~4 KB bloom bitmap (the decontamination gate's md5 device — k=4
    // probes, m=2^15, construction and probe share one SQL fragment so
    // false negatives are impossible), the fact side pre-filters
    // against the broadcast bitmap BEFORE the join, and the report
    // measures what the reduction bought: rows pruned, bloom false
    // passes, and the identity n_join_rows = n_true_join (no-bloom
    // ground truth) that proves the reduction lossless. At 100 TB this
    // is the difference between shuffling the whole fact table into a
    // join and shuffling ~the matching tenth: prune_ppm IS the shuffle
    // saved.
    "j9_bloom_semijoin" -> ((s, dir) => {
      // dimSel serves bitmap + truth + join side; fact is counted,
      // probed, and ground-truth joined
      val Seq(dimSel, fact) = Seq(
        t(s, dir, "part").filter(col("p_size") >= 46)
          .select(col("p_partkey")),
        t(s, dir, "lineitem")
          .select(col("l_partkey"),
            expr("CAST(conv(substring(md5(CAST(l_partkey AS STRING)), " +
              "1, 15), 16, 10) AS BIGINT)").as("fpl")))
        .map(graft.core.Barrier(_))
      val bitmap = TextAnalysis.bloomBitmapFromFps(
        dimSel.select(md5(col("p_partkey").cast("string")).as("fp")))
      val pass = fact.join(broadcast(bitmap), lit(true))
        .filter(expr(TextAnalysis.bloomMightContain))
        .select(col("l_partkey"))
        .barrier() // counted + joined
      val nf = fact.agg(count(lit(1)).as("n_fact"))
      val ndim = dimSel.agg(count(lit(1)).as("n_dim_selected"))
      val np = pass.agg(count(lit(1)).as("n_pass_bloom"))
      val nj = pass.join(dimSel.select(col("p_partkey").as("l_partkey")),
        "l_partkey").agg(count(lit(1)).as("n_join_rows"))
      val ntj = fact.select(col("l_partkey"))
        .join(dimSel.select(col("p_partkey").as("l_partkey")),
          "l_partkey").agg(count(lit(1)).as("n_true_join"))
      nf.crossJoin(ndim).crossJoin(np).crossJoin(nj).crossJoin(ntj)
        .select(col("n_fact"), col("n_dim_selected"), col("n_pass_bloom"),
          col("n_join_rows"), col("n_true_join"),
          expr("((n_fact - n_pass_bloom) * 1000000) DIV n_fact")
            .as("prune_ppm"),
          expr("((n_pass_bloom - n_join_rows) * 1000000)" +
            " DIV greatest(n_pass_bloom, 1)").as("false_pass_ppm"))
    }),
    // Join-cardinality estimation the way an optimizer does it — the
    // System-R/Selinger MCV-histogram device every cost-based planner
    // still runs on: per side, the 32 most-common key values keep their
    // EXACT counts and the tail is assumed uniform over its distinct
    // keys; the estimate is MCV×MCV exact hits + MCV-vs-tail cross
    // terms + tail×tail under the containment assumption. The EXACT
    // join size sits beside it (Σ cA·cB over the count relations — the
    // join never materializes). err_ppm is the report: how far the
    // statistics the planner would carry are from truth, per FK join.
    // Scale shape: each side reduces to a key-count relation (map-side
    // combined); MCVs are TakeOrderedAndProject(32); everything after
    // is 32-row or 1-row relations crossJoined. The exact twin's
    // count-join is key-keyed, output-bounded — never the row join.
    "q_join_card_estimate" -> ((s, dir) => {
      val legs = Seq(
        ("orders_lineitem", "orders", "o_orderkey", "lineitem",
          "l_orderkey"),
        ("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
        ("customer_orders", "customer", "c_custkey", "orders", "o_custkey"))
      val counts = legs.flatMap {
        case (_, ta, ka, tb, kb) => Seq(
          t(s, dir, ta).groupBy(col(ka).as("k")).agg(count(lit(1)).as("c")),
          t(s, dir, tb).groupBy(col(kb).as("k")).agg(count(lit(1)).as("c")))
      }.map(graft.core.Barrier(_))
      val mcvs = counts
        .map(_.orderBy(col("c").desc, col("k").asc).limit(32))
        .map(graft.core.Barrier(_))
      def one(name: String, ca: org.apache.spark.sql.DataFrame,
          cb: org.apache.spark.sql.DataFrame,
          ma: org.apache.spark.sql.DataFrame,
          mb: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val tot = ca.agg(sum(col("c")).as("rows_a"),
            count(lit(1)).as("nd_a"))
          .crossJoin(cb.agg(sum(col("c")).as("rows_b"),
            count(lit(1)).as("nd_b")))
          .crossJoin(ma.agg(coalesce(sum(col("c")), lit(0L)).as("mrows_a"),
            count(lit(1)).as("mnd_a")))
          .crossJoin(mb.agg(coalesce(sum(col("c")), lit(0L)).as("mrows_b"),
            count(lit(1)).as("mnd_b")))
          .crossJoin(ma.select(col("k"), col("c").as("ca"))
            .join(mb.select(col("k"), col("c").as("cb")), "k")
            .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("mcv_hit"),
              coalesce(sum(col("ca")), lit(0L)).as("ca_common"),
              coalesce(sum(col("cb")), lit(0L)).as("cb_common")))
          .crossJoin(ca.select(col("k"), col("c").as("xa"))
            .join(cb.select(col("k"), col("c").as("xb")), "k")
            .agg(coalesce(sum(col("xa") * col("xb")), lit(0L))
              .as("exact_rows")))
        tot.select(lit(name).as("join_name"), col("rows_a"), col("rows_b"),
            col("nd_a"), col("nd_b"), col("exact_rows"),
            expr("mcv_hit" +
              " + (mrows_a - ca_common) * ((rows_b - mrows_b)" +
              "     DIV greatest(nd_b - mnd_b, 1))" +
              " + (mrows_b - cb_common) * ((rows_a - mrows_a)" +
              "     DIV greatest(nd_a - mnd_a, 1))" +
              " + ((rows_a - mrows_a) * (rows_b - mrows_b))" +
              "     DIV greatest(greatest(nd_a - mnd_a, nd_b - mnd_b), 1)")
              .as("est_rows"))
          .select(col("join_name"), col("rows_a"), col("rows_b"),
            col("nd_a"), col("nd_b"), col("est_rows"), col("exact_rows"),
            expr("(abs(est_rows - exact_rows) * 1000000)" +
              " DIV greatest(exact_rows, 1)").as("err_ppm"))
      }
      legs.zipWithIndex.map { case ((name, _, _, _, _), i) =>
        one(name, counts(2 * i), counts(2 * i + 1),
          mcvs(2 * i), mcvs(2 * i + 1))
      }.reduce(_ unionByName _)
    }),
    "q_skew_report" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def cumOf(key: String, df: org.apache.spark.sql.DataFrame) = {
        val dist = df.groupBy(col(key).as("k"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("c")).agg(count(lit(1)).as("nk"))
        // bounded-window: input is the count-of-counts histogram —
        // rows = distinct per-key multiplicities, not keys
        val w = Window.orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // bounded unpartitioned window: rows = distinct per-key counts
        dist.withColumn("cum", sum(col("nk")).over(w))
      }
      def report(rel: String, key: String,
          cum: org.apache.spark.sql.DataFrame) = {
        val tot = cum.agg(sum(col("nk")).as("n_keys"),
          sum(col("c") * col("nk")).as("n_rows"),
          max(col("c")).as("max_per_key"))
        def pct(q: Int) = cum.crossJoin(broadcast(tot))
          .filter(col("cum") >=
            expr(s"(n_keys * $q + 99) DIV 100"))
          .agg(min(col("c")).as(s"p$q"))
        tot.crossJoin(broadcast(pct(50)))
          .crossJoin(broadcast(pct(90)))
          .crossJoin(broadcast(pct(99)))
          .select(lit(rel).as("relation"), lit(key).as("key"),
            col("n_rows"), col("n_keys"), col("max_per_key"),
            col("p50"), col("p90"), col("p99"),
            expr("(max_per_key * n_keys * 1000000) DIV n_rows")
              .as("hot_ratio_ppm"))
      }
      val Seq(cumL, cumE) = Seq(
        cumOf("l_orderkey", t(s, dir, "lineitem")),
        cumOf("user_id", t(s, dir, "events"))).map(graft.core.Barrier(_))
      report("lineitem", "l_orderkey", cumL)
        .unionByName(report("events", "user_id", cumE))
    }),
    // TPC-H Q1-style pricing summary: the headline scan+agg.
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // decimal math internally; string at the output boundary so the
          // driver's hasher sees a canonical textual form (see OpModule)
          sum(col("l_quantity").cast("decimal(18,2)")).cast("string")
            .as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("string")
            .as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,2)")).cast("string").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),
    // beyond the reference (free from Catalyst, SURVEY §2.10): top-N per
    // group via rank — compiles to WindowGroupLimit (per-partition k rows
    // kept before the final exchange)
    "q_topn_per_group" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        // BIGINT at the output boundary only (WindowGroupLimit above)
        .select(col("c_mktsegment"), col("rn").cast("long").as("rn"),
          col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").cast("string")
            .as("total_price"))
    }),
    // Approximate quantiles — the percentile sketch every corpus/metrics
    // rollup needs at scale. Production path is percentile_approx (one
    // partial-aggregating pass, mergeable sketch, no sort); the exact
    // twin here is the verification harness (rank-select via row_number,
    // integer index arithmetic → bit-exact in both engines, no
    // interpolation-formula drift), same discipline as approx_uv_hll:
    // the oracle recomputes the exact side and expects within_tol=true.
    // Data-quality expectations report — the dbt-test/Great-Expectations
    // primitive a warehouse runs before trusting a load: per-constraint
    // (violations, total, pass) over range checks and referential
    // integrity. The fixture tables are pristine by construction, so
    // planted bad rows (negative keys, mirrored in the oracle) put the
    // violation branch under the gate: an orphan over-range lineitem and
    // an orphan negative-price order. Scale shape: one conditional-sum
    // scan per table (map-side combinable) + two LEFT ANTI key joins
    // that move only the key columns; the report itself is O(checks).
    "q_expectations_report" -> ((s, dir) => {
      import s.implicits._
      import graft.core.Barrier.BarrierOps
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_discount"))
        .unionByName(Seq((-9001L, 500.0, 0.5))
          .toDF("l_orderkey", "l_quantity", "l_discount"))
        .barrier() // read by the range scan AND the FK anti join
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .unionByName(Seq((-9101L, -9102L, -5.0))
          .toDF("o_orderkey", "o_custkey", "o_totalprice"))
        .barrier() // read by its own scan, the li FK probe, the cust FK
      val liStats = li.agg(count(lit(1)).as("total"),
          sum(when(col("l_quantity").between(1.0, 50.0), 0L)
            .otherwise(1L)).as("v_qty"),
          sum(when(col("l_discount").between(0.0, 0.1), 0L)
            .otherwise(1L)).as("v_disc"))
        .barrier() // three report rows read it
      val ordStats = ord.agg(count(lit(1)).as("total"),
          sum(when(col("o_totalprice") > 0.0, 0L).otherwise(1L))
            .as("v_price"))
        .barrier() // two report rows read it
      val vLiFk = li
        .join(ord.select(col("o_orderkey").as("l_orderkey")).distinct(),
          Seq("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
      val vOrdFk = ord
        .join(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey")).distinct(),
          Seq("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
      val rows = Seq(
        liStats.select(lit("lineitem_quantity_in_1_50").as("check_name"),
          col("v_qty").as("violations"), col("total")),
        liStats.select(lit("lineitem_discount_in_0_01").as("check_name"),
          col("v_disc").as("violations"), col("total")),
        vLiFk.join(liStats.select(col("total")), lit(true))
          .select(lit("lineitem_fk_orders").as("check_name"),
            col("violations"), col("total")),
        vOrdFk.join(ordStats.select(col("total")), lit(true))
          .select(lit("orders_fk_customer").as("check_name"),
            col("violations"), col("total")),
        ordStats.select(lit("orders_totalprice_positive").as("check_name"),
          col("v_price").as("violations"), col("total")))
      rows.reduce(_ unionByName _)
        .withColumn("pass", col("violations") === 0L)
    }),
    "q_quantiles_approx" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
      // EXACT tier by distributed HISTOGRAM RANK-SELECTION, not a per-key
      // global sort: the old shape windowed over partitionBy(l_returnflag)
      // — 3 distinct flags, so the whole relation sorted through 3 window
      // partitions (47 s at 64×/38.4 M rows, the serialize-through-few-
      // partitions anti-pattern). Selection instead: (1) per-flag extent
      // + count (3-row agg); (2) fixed-width B-bucket histogram counts —
      // one narrow scan + a (flag, bucket) agg; (3) running total over
      // the ≤B-row-per-flag histogram (bounded window, same class as the
      // prefix-sum buckets) locates the bucket holding each target rank;
      // (4) ONLY the located buckets' rows (≈ n/B each; worst case —
      // all-equal values — degenerates to one bucket, i.e. the old cost)
      // are ranked to pick the (k − prior)-th smallest. The k-th smallest
      // VALUE is tie-order independent and bucketing is monotone in
      // value, so the selected values are identical to the sort's.
      val exact = exactQuantileSelect(base)
      val approx = base.groupBy(col("l_returnflag")).agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("a50"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000))
          .as("a95"))
      exact.join(approx, "l_returnflag").select(
        col("l_returnflag"),
        col("p50x").cast("decimal(18,2)").cast("string").as("exact_p50"),
        col("p95x").cast("decimal(18,2)").cast("string").as("exact_p95"),
        (abs(col("a50") - col("p50x")) / col("p50x") <= 0.01 &&
          abs(col("a95") - col("p95x")) / col("p95x") <= 0.01)
          .as("within_tol"))
    }),
    // rollup with subtotal + grand-total rows (grouping-set semantics)
    "q_rollup_sales" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("string")
          .as("sum_qty"), count(lit(1)).as("n"))
    }),
    // TPC-H Q3-shape shipping priority: dim-filtered 3-way join, revenue
    // agg per order, deterministic top-10. The limit compiles to
    // TakeOrderedAndProject (per-partition top-k, ONE small final merge —
    // no global sort of the qualifying orders). Ties are impossible in the
    // ordering: revenue first, unique l_orderkey second.
    "q3_shipping_priority" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1995-03-15"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-03-15"))
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,2)").as("rev"))
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("rev")).as("revenue_d"))
        .orderBy(col("revenue_d").desc, col("l_orderkey").asc)
        .limit(10)
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_orderpriority"),
          col("revenue_d").cast("string").as("revenue"))
    }),
    // TPC-H Q5-shape local supplier volume: the 6-way star join. The
    // bounded dims (nation⋈region, ≤ 25×5 rows at ANY scale factor) are
    // explicitly broadcast; the three fact-side joins shuffle on their
    // keys and AQE picks the physical strategy. The region filter prunes
    // the dim BEFORE it reaches any fact row — and (r15, the early-
    // filter discipline of the reference's dim path, SURVEY §4.1) is
    // ALSO pushed into customer and supplier as broadcast LEFT-SEMI
    // joins before either touches a fact shuffle: the final
    // s_nationkey = n_nationkey(ASIA) + c_nationkey = s_nationkey
    // predicates imply both sides are ASIA-only, so pre-pruning ~80%
    // of customers/suppliers (5 of 25 nations) is semantics-preserving
    // and cuts the same fraction of the c⋈o and l⋈sup shuffle volume.
    "q5_local_supplier_volume" -> ((s, dir) => {
      val asiaNations = broadcast(
        t(s, dir, "nation")
          .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name")))
      val asiaKeys = broadcast(asiaNations.select(col("n_nationkey")))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(asiaKeys, col("c_nationkey") === col("n_nationkey"), "left_semi")
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,2)").as("rev"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        .join(asiaKeys, col("s_nationkey") === col("n_nationkey"), "left_semi")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev")).cast("string").as("revenue"))
    }),
    // TPC-H Q18-shape large-volume customers: aggregate-then-join. The
    // heavy lineitem agg runs FIRST (map-side combine collapses ~4 lines
    // per order before the exchange) and its >300 filter drops ~99% of
    // orders before any join — the join inputs are the thin qualifying
    // set, never the raw fact table.
    "q18_large_volume_customer" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty_d"))
        .filter(col("sum_qty_d") > 300)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_totalprice").cast("decimal(18,2)").cast("string")
            .as("total_price"),
          col("sum_qty_d").cast("string").as("sum_qty"))
    }),
    "j1_order_lineitem_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("l_linenumber"), col("o_custkey"),
          col("o_orderstatus"),
          col("l_extendedprice").cast("decimal(18,2)").cast("string")
            .as("price"))
    }),
    "j2_double_left_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val firstLine = t(s, dir, "lineitem").filter(col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("l_partkey").as("first_part"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"))
      o.join(firstLine, col("o_orderkey") === col("l_orderkey"), "left")
        .join(c, col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_custkey"), col("first_part"), col("c_name"))
    }),
    // Interval join ±(15 min, 15 s), reference semantics — executed as a
    // BANDED equi-join (r15). The naive form joins on user_id alone and
    // evaluates the range predicates during the merge, so its candidate
    // set is every purchase×click pair of a user — measured 1.09 B
    // candidates for 405 k output rows at the 64× sweep (2688:1). Banding
    // adds the time bucket to the join key: each click keys to its ONE
    // bucket of width W = the full band span (915 s); each purchase
    // explodes to the ≤2 buckets its admissible click range
    // [pay_ts − 15 s, pay_ts + 900 s] (length exactly W) can touch; the
    // exact predicates then verify. Candidates shrink from |user
    // history|² to the pairs within ±2 buckets — at the 30-day fixture
    // span that is ~1400× fewer — and at 100 TB the candidate volume is
    // bounded by WINDOW density, not per-user history length. A pair
    // meets exactly once (at the click's bucket), so no distinct is
    // needed; integer microsecond bucket math loses nothing.
    "j3_interval_join" -> ((s, dir) => {
      // The bucket math below relies on the NTZ→LTZ cast being
      // epoch-identity, which holds ONLY in a UTC session (core.Sessions
      // pins it; the oracle gate runs under it). Under a DST timezone the
      // exploded bucket range can MISS a true pair's click bucket —
      // silent row loss, not a formatting difference like the
      // date_format queries — so a misconfigured session fails loudly
      // here instead of returning incomplete results (ADVICE r15).
      // normalized via ZoneId, not string equality (ADVICE r16): Spark
      // defaults the conf to the JVM zone id, so an effectively-UTC
      // session ("Etc/UTC", "GMT", "+00:00") must pass — the bucket math
      // is exact under ANY fixed zero-offset, DST-free zone
      val tz = s.conf.getOption("spark.sql.session.timeZone")
        .getOrElse(java.util.TimeZone.getDefault.getID)
      val rules =
        try java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS).getRules
        catch { case e: java.time.DateTimeException =>
          throw new IllegalArgumentException(
            s"j3_interval_join: unparseable session timezone '$tz'", e)
        }
      require(rules.isFixedOffset &&
          rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0,
        s"j3_interval_join requires a fixed zero-offset session timezone " +
          s"(UTC / Etc/UTC / GMT / +00:00), got '$tz': the banded " +
          "time-bucket math is epoch-exact only there")
      val W = 915000000L // microseconds: 15 min + 15 s, the band span
      val ev = t(s, dir, "events")
      val pay = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pay_id"), col("user_id").as("pay_user"),
          col("ts").as("pay_ts"))
        // NTZ → LTZ cast is epoch-identity under the engine's pinned UTC
        // session (the StatefulStreaming.tsMicros device); unix_micros
        // alone rejects NTZ
        .withColumn("bucket", explode(sequence(
          expr(s"(unix_micros(CAST(pay_ts AS TIMESTAMP_LTZ)) - 15000000L) div ${W}L"),
          expr(s"(unix_micros(CAST(pay_ts AS TIMESTAMP_LTZ)) + 900000000L) div ${W}L"))))
      val det = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
          col("ts").as("click_ts"))
        .withColumn("bucket",
          expr(s"unix_micros(CAST(click_ts AS TIMESTAMP_LTZ)) div ${W}L"))
      pay.join(det,
          col("pay_user") === col("click_user") &&
          pay("bucket") === det("bucket") &&
          col("pay_ts") >= col("click_ts") - expr("interval 15 minutes") &&
          col("pay_ts") <= col("click_ts") + expr("interval 15 seconds"))
        .select(col("pay_id"), col("click_id"), col("pay_user"))
    }),
    "j4_lookup_dim_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"), "left")
        .select(col("c_custkey"), col("n_name"), col("r_name"))
    }),
    "j5_broadcast_config_join" -> ((s, dir) => {
      import s.implicits._
      val config = Seq(
        ("view", "dwd_traffic_page"), ("click", "dwd_traffic_action"),
        ("purchase", "dwd_trade_pay_suc"), ("signup", "dwd_user_register"))
        .toDF("etype", "sink_table")
      t(s, dir, "events")
        .join(broadcast(config), col("event_type") === col("etype"))
        .groupBy(col("sink_table")).agg(count(lit(1)).as("routed_ct"))
    }),
    // The salted fact-fact join under the DRIVER'S oracle gate: identical
    // output contract to a plain join (the whole point of salting — the
    // DuckDB oracle is the unsalted SQL), with the hot-key shuffle spread
    // over 8 salt buckets. SkewSpec pins row identity + the 2.16× win
    // under a planted power law; this query makes the equivalence part of
    // the per-round correctness record too.
    "j8_salted_join" -> ((s, dir) => {
      val big = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_orderkey").as("jk"), col("l_linenumber"),
        col("l_extendedprice").cast("decimal(18,2)").cast("string")
          .as("price"))
      val small = t(s, dir, "orders").select(
        col("o_orderkey").as("jk"), col("o_orderstatus"))
      Skew.saltedJoin(big, small, "jk", 8)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("o_orderstatus"), col("price"))
    }),
    // As-of join (beyond the reference, SURVEY §2.10) — the attribution
    // primitive Spark lacks as a native operator: each click joins the
    // user's most recent purchase AT OR BEFORE the click. Implemented as
    // union-and-window, NOT a range join: both sides shuffle ONCE on the
    // key, one sort, and a running last(ignoreNulls) carries the latest
    // purchase forward — no candidate explosion, no per-row probes. At
    // 100 TB this is one Exchange + Sort per side; an interval/range-join
    // formulation multiplies every click by its candidate window. Clicks
    // before the user's first purchase keep NULL attribution (the left
    // semantics a real as-of needs). Tie rule: at equal ts a purchase
    // sorts before the click ("at or before" includes simultaneity), and
    // among equal-ts purchases the greatest pay_id wins, deterministically.
    "j7_asof_join" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(1).as("side"),
          col("event_id"), lit(null).cast("long").as("pay_id"),
          lit(null).cast("double").as("pay_value"))
      val pays = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(0).as("side"),
          lit(null).cast("long").as("event_id"),
          col("event_id").as("pay_id"), col("value").as("pay_value"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("side").asc, col("pay_id").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // ONE struct through last(ignoreNulls), not one call per column: a
      // separate last(pay_value) would skip a NULL-valued purchase and
      // backfill the value from an OLDER purchase — pairing the attributed
      // id with the wrong value. The struct is null exactly on click rows,
      // so the pick stays atomic: id and value always come from the SAME
      // (latest) purchase, NULL value included.
      val payStruct = when(col("side") === 0,
        struct(col("pay_id"), col("pay_value")))
      clicks.unionByName(pays)
        .withColumn("asof", last(payStruct, ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id").as("click_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("asof.pay_id").as("asof_pay_id"),
          col("asof.pay_value").cast("decimal(18,2)").cast("string")
            .as("asof_value"))
    }),
    "k5_upsert_latest_per_key" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("last_type"),
          col("value").as("last_value"))
    }),
    // Per-key running total — the canonical cumulative window (customer
    // lifetime value as of each order): one PARTITIONED window (bounded
    // per-key work, never a global order), decimal accumulation inside
    // the window so the running sum is addition-order-exact, string at
    // the output boundary (the q1 idiom).
    "q_running_total" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("string").as("order_date"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("string").as("running_total"),
          count(lit(1)).over(w).as("order_seq"))
    }),
    // SCD Type-2 dimension history — the versioned sibling of K5's
    // latest-per-key (SCD1): every change in the per-key changelog
    // becomes a history row with a [valid_from, valid_to) interval and
    // an is_current flag, built from ONE partitioned window (version =
    // row_number, valid_to = lead(ts)) — the same single key shuffle as
    // changelog compaction, just keeping all versions. Timestamps leave
    // as formatted strings (the oracle-safe boundary).
    "k8_scd2_history" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").asc)
      t(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .withColumn("version", row_number().over(w).cast("long"))
        .withColumn("valid_to_ts", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("version"), col("event_type"),
          col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("valid_to"),
          col("valid_to_ts").isNull.as("is_current"))
    }),
    "k6_dim_merge_state" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // changelog compaction with delete semantics: 'error' = delete op
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("event_type") =!= "error")
        .select(col("user_id"), col("value").as("dim_value"))
    }))

  /** Exact per-flag p50/p95 of `l_extendedprice` by distributed HISTOGRAM
    * RANK-SELECTION over a (l_returnflag, l_extendedprice) relation — the
    * selection core of `q_quantiles_approx`'s verification tier, factored
    * out so the spec can pin it against the sort-derived truth on
    * adversarial inputs (ties, skew, all-equal groups). See the query's
    * comment for the shape; the k-th smallest VALUE is tie-order
    * independent and fixed-width bucketing is monotone in value, so the
    * selected values equal a per-key global sort's.
    */
  private[graft] def exactQuantileSelect(
      base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 1024
    val ext = base.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      min(col("l_extendedprice")).as("mn"),
      max(col("l_extendedprice")).as("mx"))
    val wb = base.join(broadcast(ext), "l_returnflag")
      .withColumn("bkt", least(lit(B - 1), greatest(lit(0),
        floor((col("l_extendedprice") - col("mn")) /
          ((col("mx") - col("mn")) / lit(B) + lit(1e-12))).cast("int"))))
    val wcum = Window.partitionBy(col("l_returnflag")).orderBy(col("bkt"))
    val cum = wb.groupBy(col("l_returnflag"), col("bkt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wcum))
      .withColumn("prev", col("cum") - col("c"))
    val targets = ext.select(col("l_returnflag"), explode(array(
        struct(lit("p50").as("q"),
          ceil(lit(0.5) * col("n")).cast("long").as("k")),
        struct(lit("p95").as("q"),
          ceil(lit(0.95) * col("n")).cast("long").as("k")))).as("t"))
      .select(col("l_returnflag"), col("t.q").as("q"), col("t.k").as("k"))
    val located = targets.join(cum, Seq("l_returnflag"))
      .filter(col("k") > col("prev") && col("k") <= col("cum"))
      .select(col("l_returnflag"), col("q"), col("bkt"),
        (col("k") - col("prev")).as("krel"))
    wb.select(col("l_returnflag"), col("bkt"), col("l_extendedprice"))
      .join(broadcast(located), Seq("l_returnflag", "bkt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l_returnflag"), col("q"))
          .orderBy(col("l_extendedprice"))))
      .filter(col("rn") === col("krel"))
      .groupBy(col("l_returnflag")).agg(
        max(when(col("q") === "p50", col("l_extendedprice"))).as("p50x"),
        max(when(col("q") === "p95", col("l_extendedprice"))).as("p95x"))
  }

  /** One relation's skew-report row: count-of-counts, cumulative key
    * coverage, ceil-rank percentile picks — integer-exact both engines. */
  private def oraSkew(rel: String, key: String): String =
    s"""SELECT '$rel' AS relation, '$key' AS key,
       |  t.n_rows, t.n_keys, t.max_per_key,
       |  (SELECT CAST(min(c) AS BIGINT) FROM m_$rel m, t_$rel tt
       |   WHERE m.cum >= (tt.n_keys * 50 + 99) // 100) AS p50,
       |  (SELECT CAST(min(c) AS BIGINT) FROM m_$rel m, t_$rel tt
       |   WHERE m.cum >= (tt.n_keys * 90 + 99) // 100) AS p90,
       |  (SELECT CAST(min(c) AS BIGINT) FROM m_$rel m, t_$rel tt
       |   WHERE m.cum >= (tt.n_keys * 99 + 99) // 100) AS p99,
       |  CAST((t.max_per_key * t.n_keys * 1000000) // t.n_rows AS BIGINT)
       |    AS hot_ratio_ppm
       |FROM t_$rel t""".stripMargin

  private def oraSkewCtes(rel: String, key: String): String =
    s"""c_$rel AS (SELECT $key AS k, CAST(count(*) AS BIGINT) AS c
       |           FROM $rel GROUP BY 1),
       |d_$rel AS (SELECT c, CAST(count(*) AS BIGINT) AS nk
       |           FROM c_$rel GROUP BY 1),
       |m_$rel AS (SELECT c, nk,
       |             CAST(sum(nk) OVER (ORDER BY c) AS BIGINT) AS cum
       |           FROM d_$rel),
       |t_$rel AS (SELECT CAST(sum(nk) AS BIGINT) AS n_keys,
       |             CAST(sum(c * nk) AS BIGINT) AS n_rows,
       |             CAST(max(c) AS BIGINT) AS max_per_key
       |           FROM d_$rel)""".stripMargin

  // mirrors q_join_card_estimate for one FK join — unique CTE prefix
  // per join so the three blocks can UNION ALL in one statement
  private def oraJoinCard(i: Int, name: String, ta: String, ka: String,
      tb: String, kb: String): String =
    s"""SELECT '$name' AS join_name, rows_a, rows_b, nd_a, nd_b,
       |  est_rows, exact_rows,
       |  (abs(est_rows - exact_rows) * 1000000)
       |    // greatest(exact_rows, 1) AS err_ppm
       |FROM (
       |  SELECT *,
       |    mcv_hit
       |    + (mrows_a - ca_common)
       |        * ((rows_b - mrows_b) // greatest(nd_b - mnd_b, 1))
       |    + (mrows_b - cb_common)
       |        * ((rows_a - mrows_a) // greatest(nd_a - mnd_a, 1))
       |    + ((rows_a - mrows_a) * (rows_b - mrows_b))
       |        // greatest(greatest(nd_a - mnd_a, nd_b - mnd_b), 1)
       |      AS est_rows
       |  FROM (
       |    WITH ca$i AS MATERIALIZED (
       |      SELECT $ka AS k, count(*) AS c FROM $ta GROUP BY 1),
       |    cb$i AS MATERIALIZED (
       |      SELECT $kb AS k, count(*) AS c FROM $tb GROUP BY 1),
       |    ma$i AS MATERIALIZED (
       |      SELECT k, c FROM ca$i ORDER BY c DESC, k ASC LIMIT 32),
       |    mb$i AS MATERIALIZED (
       |      SELECT k, c FROM cb$i ORDER BY c DESC, k ASC LIMIT 32)
       |    SELECT
       |      (SELECT CAST(sum(c) AS BIGINT) FROM ca$i) AS rows_a,
       |      (SELECT CAST(count(*) AS BIGINT) FROM ca$i) AS nd_a,
       |      (SELECT CAST(sum(c) AS BIGINT) FROM cb$i) AS rows_b,
       |      (SELECT CAST(count(*) AS BIGINT) FROM cb$i) AS nd_b,
       |      (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM ma$i)
       |        AS mrows_a,
       |      (SELECT CAST(count(*) AS BIGINT) FROM ma$i) AS mnd_a,
       |      (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM mb$i)
       |        AS mrows_b,
       |      (SELECT CAST(count(*) AS BIGINT) FROM mb$i) AS mnd_b,
       |      (SELECT CAST(coalesce(sum(a.c * b.c), 0) AS BIGINT)
       |       FROM ma$i a JOIN mb$i b USING (k)) AS mcv_hit,
       |      (SELECT CAST(coalesce(sum(a.c), 0) AS BIGINT)
       |       FROM ma$i a JOIN mb$i b USING (k)) AS ca_common,
       |      (SELECT CAST(coalesce(sum(b.c), 0) AS BIGINT)
       |       FROM ma$i a JOIN mb$i b USING (k)) AS cb_common,
       |      (SELECT CAST(coalesce(sum(a.c * b.c), 0) AS BIGINT)
       |       FROM ca$i a JOIN cb$i b USING (k)) AS exact_rows))"""
      .stripMargin

  // mirrors j9_bloom_semijoin: bloom membership restated
  // set-theoretically — a key passes iff ALL k of its md5 bit positions
  // are set by some dim key, which is exactly what the bitmap probe
  // computes (bit set ⇔ some dim key set it)
  private def oraBloomSemijoin: String = {
    def pos(i: Int) =
      s"(('0x' || substring(md5('bf$i|' || CAST(fpl AS VARCHAR)), 1, 6))" +
        s"::BIGINT % 32768)"
    val passPred = (0 until 4).map(i =>
      s"${pos(i)} IN (SELECT p FROM pos)").mkString("\n    AND ")
    s"""WITH dim AS MATERIALIZED (
       |  SELECT p_partkey,
       |    ('0x' || substring(md5(CAST(p_partkey AS VARCHAR)), 1, 15))
       |      ::BIGINT AS fpl
       |  FROM part WHERE p_size >= 46),
       |pos AS MATERIALIZED (
       |  SELECT DISTINCT unnest([${(0 until 4).map(pos).mkString(", ")}])
       |    AS p
       |  FROM dim),
       |fact AS MATERIALIZED (
       |  SELECT l_partkey,
       |    ('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
       |      ::BIGINT AS fpl
       |  FROM lineitem),
       |pass AS MATERIALIZED (
       |  SELECT l_partkey FROM fact
       |  WHERE $passPred),
       |agg AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM fact) AS n_fact,
       |  (SELECT CAST(count(*) AS BIGINT) FROM dim) AS n_dim_selected,
       |  (SELECT CAST(count(*) AS BIGINT) FROM pass) AS n_pass_bloom,
       |  (SELECT CAST(count(*) AS BIGINT) FROM pass
       |   JOIN dim ON dim.p_partkey = pass.l_partkey) AS n_join_rows,
       |  (SELECT CAST(count(*) AS BIGINT) FROM fact
       |   JOIN dim ON dim.p_partkey = fact.l_partkey) AS n_true_join)
       |SELECT n_fact, n_dim_selected, n_pass_bloom, n_join_rows,
       |  n_true_join,
       |  ((n_fact - n_pass_bloom) * 1000000) // n_fact AS prune_ppm,
       |  ((n_pass_bloom - n_join_rows) * 1000000)
       |    // greatest(n_pass_bloom, 1) AS false_pass_ppm
       |FROM agg""".stripMargin
  }

  // mirrors q_join_size_sketches: shared-sign AGMS counters, the
  // median-of-means fold, bucket-0 universe sampling, one exact twin
  private def oraJoinSketches: String = {
    val hi = "('0','1','2','3','4','5','6','7')"
    def xcols(tbl: String, key: String, p: String) = (0 until 16).map(j =>
      s"""CAST(sum(CASE WHEN substr(md5('agms$j|' ||
         |    CAST($key AS VARCHAR)), 1, 1) IN $hi
         |  THEN 1 ELSE -1 END) AS BIGINT) AS $p$j""".stripMargin)
      .mkString(",\n")
    val mcols = (0 until 4).map(g =>
      (4 * g until 4 * g + 4).map(j => s"xa$j * xb$j")
        .mkString("(", " + ", s") // 4 AS m$g")).mkString(",\n")
    s"""WITH xa AS (SELECT
       |${xcols("orders", "o_orderkey", "xa")}
       |  FROM orders),
       |xb AS (SELECT
       |${xcols("lineitem", "l_orderkey", "xb")}
       |  FROM lineitem),
       |ex AS (SELECT CAST(coalesce(sum(a.c * b.c), 0) AS BIGINT)
       |    AS exact_rows
       |  FROM (SELECT o_orderkey AS k, count(*) AS c FROM orders
       |        GROUP BY 1) a
       |  JOIN (SELECT l_orderkey AS k, count(*) AS c FROM lineitem
       |        GROUP BY 1) b USING (k)),
       |m AS (SELECT
       |$mcols
       |  FROM xa, xb),
       |ag AS (SELECT 'agms' AS method,
       |    CAST((m0 + m1 + m2 + m3 - greatest(m0, m1, m2, m3)
       |      - least(m0, m1, m2, m3)) // 2 AS BIGINT) AS est_rows
       |  FROM m),
       |us AS (SELECT 'universe_16' AS method,
       |    CAST(count(*) * 16 AS BIGINT) AS est_rows
       |  FROM (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders
       |        WHERE ('0x' || substring(md5('us|' ||
       |          CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 16 = 0) a
       |  JOIN (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem
       |        WHERE ('0x' || substring(md5('us|' ||
       |          CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT % 16 = 0) b
       |  USING (k))
       |SELECT method, est_rows, ex.exact_rows,
       |  (abs(est_rows - ex.exact_rows) * 1000000)
       |    // greatest(ex.exact_rows, 1) AS err_ppm
       |FROM (SELECT * FROM ag UNION ALL SELECT * FROM us), ex"""
      .stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_join_size_sketches" -> oraJoinSketches,
    "j9_bloom_semijoin" -> oraBloomSemijoin,
    "q_join_card_estimate" -> Seq(
      oraJoinCard(1, "orders_lineitem", "orders", "o_orderkey",
        "lineitem", "l_orderkey"),
      oraJoinCard(2, "part_lineitem", "part", "p_partkey",
        "lineitem", "l_partkey"),
      oraJoinCard(3, "customer_orders", "customer", "c_custkey",
        "orders", "o_custkey")).mkString("\nUNION ALL\n"),
    "q_skew_report" ->
      s"""WITH ${oraSkewCtes("lineitem", "l_orderkey")},
         |${oraSkewCtes("events", "user_id")}
         |${oraSkew("lineitem", "l_orderkey")}
         |UNION ALL
         |${oraSkew("events", "user_id")}""".stripMargin,
    // ordering happens on the DECIMAL sum inside the subquery (ordering the
    // VARCHAR form would sort lexically and disagree with Spark's decimal
    // sort); the oracle's VARCHAR intermediate reproduces Spark's direct
    // double→decimal cast (shortest-decimal repr, then HALF_UP) on the
    // per-row product, so the top-10 sets match
    "q3_shipping_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_orderpriority, CAST(revenue_d AS VARCHAR) AS revenue
        |FROM (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |    sum(CAST(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR)
        |      AS DECIMAL(18,2))) AS revenue_d
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |  GROUP BY 1, 2, 3
        |  ORDER BY revenue_d DESC, l_orderkey ASC
        |  LIMIT 10)""".stripMargin,
    "q5_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR)
        |    AS DECIMAL(18,2))) AS VARCHAR) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin,
    "q18_large_volume_customer" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total_price,
        |  CAST(big.sum_qty_d AS VARCHAR) AS sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey,
        |        sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_d
        |      FROM lineitem GROUP BY 1
        |      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300) big
        |  ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR) AS DECIMAL(18,2))) AS VARCHAR) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "q_topn_per_group" ->
      """SELECT c_mktsegment, rn, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total_price
        |FROM (SELECT c_mktsegment, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY c_mktsegment
        |          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |      FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rn <= 3""".stripMargin,
    // same planted bad rows; NOT IN is safe (no NULL keys in either side)
    "q_expectations_report" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_quantity, l_discount FROM lineitem
        |  UNION ALL SELECT -9001, 500.0, 0.5),
        |ord AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  UNION ALL SELECT -9101, -9102, -5.0),
        |r AS (
        |  SELECT 'lineitem_quantity_in_1_50' AS check_name,
        |    CAST(sum(CASE WHEN l_quantity BETWEEN 1.0 AND 50.0 THEN 0
        |             ELSE 1 END) AS BIGINT) AS violations,
        |    CAST(count(*) AS BIGINT) AS total
        |  FROM li
        |  UNION ALL
        |  SELECT 'lineitem_discount_in_0_01',
        |    CAST(sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0
        |             ELSE 1 END) AS BIGINT),
        |    CAST(count(*) AS BIGINT)
        |  FROM li
        |  UNION ALL
        |  SELECT 'lineitem_fk_orders',
        |    CAST((SELECT count(*) FROM li
        |          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ord))
        |      AS BIGINT),
        |    CAST((SELECT count(*) FROM li) AS BIGINT)
        |  UNION ALL
        |  SELECT 'orders_fk_customer',
        |    CAST((SELECT count(*) FROM ord
        |          WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |      AS BIGINT),
        |    CAST((SELECT count(*) FROM ord) AS BIGINT)
        |  UNION ALL
        |  SELECT 'orders_totalprice_positive',
        |    CAST(sum(CASE WHEN o_totalprice > 0.0 THEN 0 ELSE 1 END)
        |      AS BIGINT),
        |    CAST(count(*) AS BIGINT)
        |  FROM ord)
        |SELECT check_name, violations, total, violations = 0 AS pass
        |FROM r""".stripMargin,
    // the sketch estimate is approximate by design; deterministic are the
    // exact rank-selected percentiles and the 1%-tolerance verdict
    "q_quantiles_approx" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  CAST(CAST(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
        |    THEN l_extendedprice END) AS DECIMAL(18,2)) AS VARCHAR)
        |    AS exact_p50,
        |  CAST(CAST(max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
        |    THEN l_extendedprice END) AS DECIMAL(18,2)) AS VARCHAR)
        |    AS exact_p95,
        |  true AS within_tol
        |FROM r GROUP BY 1""".stripMargin,
    "q_rollup_sales" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "j1_order_lineitem_join" ->
      """SELECT o_orderkey, l_linenumber, o_custkey, o_orderstatus,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin,
    "j2_double_left_join" ->
      """SELECT o_orderkey, o_custkey, fl.first_part, c.c_name
        |FROM orders o
        |LEFT JOIN (SELECT l_orderkey, l_partkey AS first_part FROM lineitem
        |           WHERE l_linenumber = 1) fl ON o.o_orderkey = fl.l_orderkey
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin,
    "j3_interval_join" ->
      """SELECT p.event_id AS pay_id, d.event_id AS click_id,
        |  p.user_id AS pay_user
        |FROM (SELECT * FROM events WHERE event_type='purchase') p
        |JOIN (SELECT * FROM events WHERE event_type='click') d
        |  ON p.user_id = d.user_id
        | AND p.ts >= d.ts - INTERVAL 15 MINUTE
        | AND p.ts <= d.ts + INTERVAL 15 SECOND""".stripMargin,
    "j4_lookup_dim_join" ->
      """SELECT c_custkey, n_name, r_name
        |FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "j5_broadcast_config_join" ->
      """SELECT cfg.sink_table, count(*) AS routed_ct
        |FROM events e
        |JOIN (VALUES ('view','dwd_traffic_page'), ('click','dwd_traffic_action'),
        |             ('purchase','dwd_trade_pay_suc'), ('signup','dwd_user_register'))
        |  AS cfg(etype, sink_table) ON e.event_type = cfg.etype
        |GROUP BY 1""".stripMargin,
    // the unsalted join IS the oracle — salting must be output-invisible
    "j8_salted_join" ->
      """SELECT l_orderkey, l_linenumber, o_orderstatus,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
    // declarative mirror of the as-of: per click, rank prior purchases by
    // (ts DESC, pay_id DESC) and keep rn=1; LEFT join preserves
    // unattributed clicks
    "j7_asof_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS pay_id, user_id, ts, value
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT c.click_id, p.pay_id, p.value,
        |        row_number() OVER (PARTITION BY c.click_id
        |          ORDER BY p.ts DESC, p.pay_id DESC) AS rn
        |      FROM c JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts)
        |SELECT c.click_id, c.user_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  m.pay_id AS asof_pay_id,
        |  CAST(CAST(m.value AS DECIMAL(18,2)) AS VARCHAR) AS asof_value
        |FROM c LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
        |  ON c.click_id = m.click_id""".stripMargin,
    "k5_upsert_latest_per_key" ->
      """SELECT user_id, event_type AS last_type, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,
    // decimal window accumulation mirrors Spark's; VARCHAR boundary
    "q_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(o_orderdate AS VARCHAR) AS order_date,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
        |    AS VARCHAR) AS running_total,
        |  CAST(count(*) OVER w AS BIGINT) AS order_seq
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    // the same per-key change order, intervals via lead(ts)
    "k8_scd2_history" ->
      """SELECT user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  lead(ts) OVER w IS NULL AS is_current
        |FROM events WHERE user_id IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id ASC)""".stripMargin,
    "k6_dim_merge_state" ->
      """SELECT user_id, value AS dim_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn FROM events)
        |WHERE rn = 1 AND event_type <> 'error'""".stripMargin)
}
