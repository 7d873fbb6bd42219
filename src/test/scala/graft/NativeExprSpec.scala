package graft

import org.apache.spark.sql.functions._

/** The native sorted_intersect_count expression must equal
  * size(array_intersect) on every pair of sorted distinct string arrays,
  * and must participate in whole-stage codegen.
  */
class NativeExprSpec extends SparkSpec {

  test("sorted_intersect_count == size(array_intersect) on fuzzed " +
      "sorted distinct arrays") {
    import spark.implicits._
    // deterministic fuzz: 300 pairs of random-ish string sets with
    // varied overlap, lengths 0..60, unicode mixed in
    val rnd = new scala.util.Random(0xC0FFEE)
    val alphabet = Vector("a", "bb", "ccc", "δδ", "日本", "x1", "", " ",
      "zz9", "", "longer-token-value", "α", "mid")
    def set(): Seq[String] = {
      val n = rnd.nextInt(61)
      Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size)) +
        rnd.nextInt(40).toString).distinct.sorted
    }
    val rows = Seq.fill(300)((set(), set()))
    val df = rows.toDF("a", "b")
      .select(sort_array(col("a")).as("a"), sort_array(col("b")).as("b"))
    val diff = df.select(
        expr("sorted_intersect_count(a, b)").as("native"),
        size(array_intersect(col("a"), col("b"))).as("builtin"))
      .filter(col("native") =!= col("builtin"))
      .count()
    assert(diff === 0,
      "two-pointer walk disagrees with array_intersect on sorted input")
    // edge shapes
    val edges = Seq(
      (Seq.empty[String], Seq.empty[String]),
      (Seq.empty[String], Seq("a", "b")),
      (Seq("a"), Seq("a")),
      (Seq("a", "b", "c"), Seq("a", "b", "c"))).toDF("a", "b")
    val out = edges.select(expr("sorted_intersect_count(a, b)"))
      .collect().map(_.getInt(0))
    assert(out.toSeq === Seq(0, 0, 1, 3))
  }

  test("sorted_intersect_count runs inside WholeStageCodegen") {
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select(sort_array(graft.functions.Text.tokenizeDistinct(col("text")))
        .as("a"))
    val plan = docs
      .select(expr("sorted_intersect_count(a, a)").as("c"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Project [sorted_intersect_count") &&
      plan.contains("*(1)"), plan.take(1200))
  }

  test("spark's array_sort order IS UTF8 binary order (the walk's " +
      "contract) on adversarial strings") {
    import spark.implicits._
    // The decisive pair (ADVICE r11 -- the old self-intersection test
    // was vacuous: ANY consistent ordering self-intersects to full
    // length): U+FFFD sorts AFTER U+1F600 in UTF-16 code-unit order
    // (0xFFFD > lead surrogate 0xD83D) but BEFORE it in UTF-8 byte
    // order (EF BF BD < F0 9F 98 80). The walk compares UTF8String
    // bytes, so sort_array must emit UTF-8 byte order or matches get
    // skipped.
    val fffd = "\uFFFD"
    val emoji = new String(Character.toChars(0x1F600))
    val tricky = Seq(emoji, fffd, "a", "\u00E9", "Z", "zz", "0")
    // expected order computed INDEPENDENTLY of Spark: unsigned
    // lexicographic sort of the UTF-8 byte encodings
    val byUtf8 = tricky.sortWith { (x, y) =>
      val (bx, by) = (x.getBytes("UTF-8"), y.getBytes("UTF-8"))
      val cmp = bx.zip(by).iterator
        .map { case (p, q) => (p & 0xFF) - (q & 0xFF) }
        .find(_ != 0).getOrElse(bx.length - by.length)
      cmp < 0
    }
    assert(byUtf8.indexOf(fffd) < byUtf8.indexOf(emoji) &&
      tricky.sorted.indexOf(fffd) > tricky.sorted.indexOf(emoji),
      "fixture must actually diverge between JVM-String and UTF-8 order")
    val sorted = Seq(Tuple1(tricky)).toDF("a")
      .select(sort_array(col("a")).as("a"))
      .collect().head.getSeq[String](0)
    assert(sorted.toSeq === byUtf8,
      s"sort_array order ${sorted.mkString(",")} != UTF-8 byte order " +
        byUtf8.mkString(","))
    // and the walk itself on DIFFERENT arrays where a UTF-16 sort would
    // misorder the left side and skip the match: [emoji, fffd] sorted
    // UTF-16-wise puts the emoji first; the two-pointer walk would then
    // advance past fffd and report 0
    val n = Seq((Seq(emoji, fffd), Seq(fffd)))
      .toDF("a", "b")
      .select(expr(
        "sorted_intersect_count(sort_array(a), sort_array(b))"))
      .collect().head.getInt(0)
    assert(n === 1, "walk must find U+FFFD in the mixed-plane array")
  }

  test("native tokenize_cjk == composed spec on deterministic fuzz " +
      "across script mixes and fold edge codepoints") {
    import spark.implicits._
    // deterministic fuzz: 400 strings drawn from a pool that mixes every
    // class the walk distinguishes PLUS the case-fold hazards the İ fix
    // is about (1:N lowercase, context-sensitive final sigma, Kelvin
    // sign, surrogate pairs, combining marks) — hand-picked edges catch
    // what we thought of; the fuzz catches the rest
    val pool = Vector("a", "Z", "0", "9", "中", "文", "深", "\u0130",
      "\u0131", "\u212A", "\u03A3", "\u03C2", "Ё", "ё", "Д", "я",
      " ", "\t", "\n", "-", "😀", "\uFFFD", "\u0307", "é", "ß",
      "\u1E9E", "q", "中中", "Ab0", "шш")
    val rnd = new scala.util.Random(0xBEEF)
    val rows = (0 until 400).map { _ =>
      val len = rnd.nextInt(24)
      (0 until len).map(_ => pool(rnd.nextInt(pool.size))).mkString
    }
    val df = rows.toDF("text")
    val diff = df.select(
        graft.functions.Text.tokenizeCjk(col("text")).as("a"),
        graft.functions.Text.tokenizeCjkSpec(col("text")).as("b"))
      .filter(!(col("a") <=> col("b")))
    val bad = diff.collect()
    assert(bad.isEmpty, s"native/spec divergence on: ${bad.take(3).toSeq}")
  }

  test("native agms_signs == the composed md5-hex sign spec, " +
      "coordinate for coordinate") {
    import spark.implicits._
    // the composed form q_join_size_sketches used through r14 — kept
    // here as the executable spec the native walk must match bit for
    // bit (the DuckDB oracle mirrors this form)
    def sign(j: Int) = when(substring(md5(concat(lit(s"agms$j|"),
      col("k"))), 1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"),
      1L).otherwise(-1L)
    val keys = ((1 to 500).map(_.toString) ++
      Seq("", "0", "-1", "9999999999999", "key with spaces", "ünïcode中"))
      .toDF("k")
    val diff = keys.select(col("k"),
        expr("agms_signs(k)").as("native"),
        array((0 until 16).map(sign): _*).as("spec"))
      .filter(!(col("native") <=> col("spec")))
    val bad = diff.collect()
    assert(bad.isEmpty,
      s"agms_signs diverges from the spec on: ${bad.take(3).toSeq}")
    // null-intolerance: NULL key -> NULL vector (the composed form's
    // when() would yield -1s; the query never feeds NULL keys — both
    // fact keys are non-null FKs — but the expression contract is
    // the standard null-in-null-out)
    val n = keys.select(expr("agms_signs(CAST(NULL AS STRING))").as("v"))
      .filter(col("v").isNull).count()
    assert(n === keys.count())
  }
}
