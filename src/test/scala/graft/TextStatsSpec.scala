package graft

import org.apache.spark.sql.functions._
import graft.functions.Text

/** The one-walk text_stats expression must be value-identical to the four
  * composed-builtin feature columns it replaced (the text_quality oracle
  * is unchanged, so any drift here is a correctness break, not a perf
  * tradeoff) — checked on the real fixture corpus AND on crafted edges,
  * and the query shape must evaluate the walk once per row.
  */
class TextStatsSpec extends SparkSpec {

  private def legacy(df: org.apache.spark.sql.DataFrame) =
    df.select(col("text"),
      length(col("text")).as("char_len"),
      Text.wsTokenCount(col("text")).as("ws_tokens"),
      Text.bpeishTokenCount(col("text")).as("bpe_tokens"),
      Text.stopwordRatio(col("text")).as("stopword_ratio"),
      Text.punctRatio(col("text")).as("punct_ratio"))

  private def fused(df: org.apache.spark.sql.DataFrame) = {
    df.select(col("text"), expr("text_stats(text)").as("st"))
      .select(col("text"), col("st.char_len"), col("st.ws_tokens"),
        col("st.bpe_tokens"), col("st.stopword_ratio"),
        col("st.punct_ratio"))
  }

  private def assertSame(df: org.apache.spark.sql.DataFrame): Unit = {
    val diff = fused(df).exceptAll(legacy(df))
      .unionByName(legacy(df).exceptAll(fused(df)))
    val rows = diff.collect()
    assert(rows.isEmpty, s"drift on: ${rows.take(5).mkString("; ")}")
  }

  test("bit-identical to the composed-builtin features on the fixture") {
    assertSame(spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("text")))
  }

  test("bit-identical on crafted edges") {
    import spark.implicits._
    val edges = Seq(
      "",                         // empty: ws_tokens = 1, ratios 0.0
      "   \t\n  ",                // all-whitespace: split('') edge
      "a",                        // 1-char stopword at string end
      "the the THE tHe",          // case folding + repeats
      "thesis andover format",    // stopword-PREFIXED words must not count
      "this that with",           // 4-char stopwords at the cap
      "ab1c de!! x9 9x a1a",      // letter/digit alternation (BPE runs)
      "!!!...###",                // punct-only
      "это по-русски текст",      // cyrillic: tokens, no a-z letters
      "中文文本 with spaces",     // CJK: punct-classed codepoints
      "tab\tand\nnewline breaks", // \s variants
      "trailing space ",
      " leading",
      "a.b,c;d:e",                // punct singletons between 1-char tokens
      "of9 9of o9f",              // digits inside near-stopwords
      "is it in on at by be as")  // the 2-char stopword battery
    assertSame(edges.toDF("text"))
  }

  test("bit-identical on a seeded random unicode fuzz corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(771177)
    // alphabet spans every class the walk branches on: ASCII
    // letters/digits, every \s char, punct, cyrillic, CJK, combining
    // accents, the Kelvin sign (lowercases into a-z), and a surrogate
    // pair (one code point, two UTF-16 units)
    val alphabet = ("abcXYZ019" + " \t\n\f\r" + ".,!#-_" +
      "жЩя" + "中文" + "éÀ́" + "K" + "𝄞").toCharArray
    def randStr(): String = {
      val n = rnd.nextInt(60)
      val sb = new StringBuilder
      var i = 0
      while (i < n) {
        val c = alphabet(rnd.nextInt(alphabet.length))
        // keep surrogate halves paired: emit both or re-roll
        if (Character.isHighSurrogate(c)) { sb.append("𝄞"); () }
        else if (!Character.isLowSurrogate(c)) { sb.append(c); () }
        i += 1
      }
      sb.toString
    }
    assertSame((1 to 400).map(_ => randStr()).toDF("text"))
  }

  test("the walk evaluates once per row in the text_quality shape") {
    val q = SparkEntry.queries("text_quality")(spark, sfDir)
    val plan = q.queryExecution.optimizedPlan.toString
    val hits = "text_stats".r.findAllIn(plan).length
    assert(hits == 1, s"text_stats appears $hits times in:\n$plan")
  }

  test("fused text_quality matches the legacy column values end-to-end") {
    val q = SparkEntry.queries("text_quality")(spark, sfDir)
    val old = spark.read.parquet(s"$sfDir/documents.parquet").select(
      col("doc_id"),
      length(col("text")).as("char_len"),
      Text.wsTokenCount(col("text")).as("ws_tokens"),
      Text.bpeishTokenCount(col("text")).as("bpe_tokens"),
      Text.stopwordRatio(col("text")).as("stopword_ratio"),
      Text.punctRatio(col("text")).as("punct_ratio"))
    assert(q.exceptAll(old).unionByName(old.exceptAll(q)).isEmpty)
  }
}
