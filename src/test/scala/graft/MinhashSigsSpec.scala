package graft

import org.apache.spark.sql.functions._

/** The one-walk minhash_sigs expression must be bit-identical to the
  * explode → md5-hex → conv-slice → min-aggregate pipeline it replaced
  * (every dedup oracle hashes those signatures, so any drift is a
  * correctness break) — checked on the real fixture corpus AND crafted
  * edges, and the query shape must evaluate the walk once per row with
  * no exchange.
  */
class MinhashSigsSpec extends SparkSpec {

  private def assertSame(df: org.apache.spark.sql.DataFrame): Unit = {
    val native = graft.operators.Dedup.minhashSlices(df)
    val spec = graft.operators.Dedup.minhashSlicesSpec(df)
    val diff = native.exceptAll(spec).unionByName(spec.exceptAll(native))
    val rows = diff.collect()
    assert(rows.isEmpty, s"signature drift on: ${rows.take(5).mkString("; ")}")
  }

  test("bit-identical to the composed-builtin pipeline on the fixture") {
    assertSame(spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")))
  }

  test("bit-identical on crafted edges") {
    import spark.implicits._
    val edges = Seq(
      "",                          // zero tokens → the single EMPTY shingle
      "   \t\n  ",                 // whitespace-only → same empty shingle
      "one",                       // 1 token → 1 shingle = the token
      "one two",                   // 2 tokens → 1 shingle "one two"
      "one two three",             // exactly 3 → 1 full window
      "one two three four five",   // sliding windows
      "a a a a a a",               // duplicate shingles (distinct dropped)
      "UPPER Case MiXeD",          // case folding
      "num3er5 m1x 42 007 x",      // digits inside tokens
      "punct!!!between---tokens",  // punct splits runs
      "это по-русски текст",       // cyrillic: no [a-z0-9] tokens at all
      "中文 mixed latin 文本",      // CJK separators
      "emoji 😀 inside 🎉 text",   // supplementary-plane separators
      "trailing space ",
      " leading space",
      "a-b c_d e.f",               // 1-char tokens everywhere
      ("repeat words " * 400).trim // long doc: buffer growth path
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    assertSame(edges.toDF("doc_id", "text"))
  }

  test("null text drops the row in both forms") {
    import spark.implicits._
    val df = Seq((1L, "some text here"), (2L, null))
      .toDF("doc_id", "text")
    val ids = graft.operators.Dedup.minhashSlices(df)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(ids === Seq(1L))
  }

  test("native plan has NO exchange and runs inside one projection") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val plan = graft.operators.Dedup.minhashSlices(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"minhash signatures must not shuffle:\n${plan.take(1500)}")
    // the walk must appear ONCE (struct aliased then field-expanded), not
    // once per mh column — six walks would sextuple the hot path
    val calls = "minhash_sigs".r.findAllIn(plan).size
    assert(calls <= 2, s"expected a single aliased walk, plan shows " +
      s"$calls minhash_sigs occurrences:\n${plan.take(1500)}")
  }
}
