package graft

import org.apache.spark.sql.functions._

/** The native rolling_fps walk must be bit-identical to (a) the
  * composed-builtin DECIMAL Horner spec on ASCII input (every normalize
  * output — the two gated queries' domain) and (b) an independent
  * BigInt recompute on arbitrary unicode (the code-point path), and it
  * must participate in whole-stage codegen. The duplication-profile
  * oracles hash these fingerprints via the modular-inverse prefix
  * identity, so any drift here is a gate break.
  */
class RollingFpsSpec extends SparkSpec {

  private val P = graft.plans.RollingFps.P

  private def bigIntFps(s: String, l: Int): Seq[Long] = {
    val cps = s.codePoints().toArray
    if (cps.length < l) return Seq.empty
    val p = BigInt(P)
    val b = BigInt(graft.plans.RollingFps.Base) // seed-aware recompute
    (0 to cps.length - l).map { i =>
      cps.slice(i, i + l)
        .foldLeft(BigInt(0))((a, c) => (a * b + c) mod p).toLong
    }
  }

  test("bit-identical to the DECIMAL-Horner builtin spec on the " +
      "fixture corpus at three window lengths") {
    val normed = graft.core.Tables.load(spark, sfDir, "documents")
      .select(graft.functions.Text.normalize(col("text")).as("norm"))
    Seq(8, 64, 200).foreach { l =>
      val diff = normed
        .select(expr(s"rolling_fps(norm, $l)").as("native"),
          graft.operators.TextAnalysis.rollingFpsSpecCol(l).as("spec"))
        .filter(col("native") =!= col("spec"))
        .count()
      assert(diff === 0, s"rolling_fps drift vs builtin spec at L=$l")
    }
  }

  test("matches an independent BigInt recompute, including the " +
      "non-ASCII code-point path and edges") {
    import spark.implicits._
    val cases = Seq(
      "",                         // empty → empty array
      "ab",                       // shorter than any window
      "abc",                      // == L boundary below
      "the quick brown fox 12 jumps over 9 lazy dogs",
      "aaaaaaaaaaaaaaaa",         // constant run: all windows equal
      "это по-русски текст",      // BMP non-ASCII (code-point walk)
      "中文文本 with latin 09",    // CJK mixed
      "emoji 😀 pair 🎉 here",    // supplementary plane (surrogate pairs)
      "x" * 5000                  // long input: rolling update path
    )
    Seq(1, 3, 8, 64).foreach { l =>
      val got = cases.toDF("norm")
        .select(expr(s"rolling_fps(norm, $l)").as("fps"))
        .collect().map(_.getSeq[Long](0).toSeq)
      cases.zip(got).foreach { case (s, fps) =>
        assert(fps === bigIntFps(s, l),
          s"drift vs BigInt recompute at L=$l on '${s.take(30)}'")
      }
    }
  }

  test("null → null (row dropped through explode), and codegen") {
    import spark.implicits._
    val n = Seq((1L, "some text"), (2L, null))
      .toDF("doc_id", "norm")
      .select(col("doc_id"), explode(expr("rolling_fps(norm, 4)")))
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(n === Seq(1L))
    // parquet-backed input: a local relation would constant-fold the
    // whole projection before it ever reaches codegen
    val plan = graft.core.Tables.load(spark, sfDir, "documents")
      .select(graft.functions.Text.normalize(col("text")).as("norm"))
      .select(expr("rolling_fps(norm, 3)").as("f"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("rolling_fps") && plan.contains("*(1)"),
      plan.take(800))
  }

  test("builder rejects non-integral / NULL window-length literals " +
      "with a descriptive message (ADVICE r13)") {
    import spark.implicits._
    val df = Seq("abcdef").toDF("norm")
    def fails(sql: String, needle: String): Unit = {
      val e = intercept[Exception](df.select(expr(sql)).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else String.valueOf(t.getMessage) +: msgs(t.getCause)
      assert(msgs(e).exists(_.contains(needle)),
        s"$sql: wanted '$needle' in ${msgs(e).mkString(" | ")}")
    }
    fails("rolling_fps(norm, '4')", "integral")
    fails("rolling_fps(norm, 4.9)", "integral")
    fails("rolling_fps(norm, CAST(NULL AS INT))", "NULL")
    fails("rolling_fps(norm)", "2 arguments")
  }

  test("seedable base: BaseInv is the true modular inverse, and the " +
      "oracle ladder constant derives from the same seed") {
    val b = graft.plans.RollingFps.Base
    val inv = graft.plans.RollingFps.BaseInv
    assert((BigInt(b) * BigInt(inv)).mod(BigInt(P)) === BigInt(1),
      s"Base*BaseInv != 1 mod P (base=$b inv=$inv)")
    // The 131 pin only holds under the DEFAULT seed (the base is fixed
    // at JVM init by design); with a seed override present the inverse
    // property above is still the real check, so cancel rather than
    // fail spuriously (ADVICE r14)
    val overridden = sys.props.contains("graft.rollingFpsBase")
    assume(!overridden,
      "rolling-fps seed overridden; skipping default-seed 131 pin")
    assert(b === 131L && inv === 1372944692508917009L)
  }

  test("non-default seeds: the rolling walk matches a BigInt recompute " +
      "at several bases, including the 2^40 cap") {
    import org.apache.spark.unsafe.types.UTF8String
    val p = BigInt(P)
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaa", "mixed ünïcødé 𐍈 text here")
    Seq(2L, 9973L, 104729L, 1L << 40).foreach { base =>
      val bb = BigInt(base)
      texts.foreach { t =>
        Seq(3, 8).foreach { l =>
          val native = graft.plans.RollingFps
            .computeWithBase(UTF8String.fromString(t), l, base)
            .toLongArray().toSeq
          val cps = t.codePoints().toArray
          val expect =
            if (cps.length < l) Seq.empty
            else (0 to cps.length - l).map { i =>
              cps.slice(i, i + l)
                .foldLeft(BigInt(0))((a, c) => (a * bb + c) mod p).toLong
            }
          assert(native === expect,
            s"seeded walk drift at base=$base L=$l on '${t.take(20)}'")
        }
      }
    }
  }
}
