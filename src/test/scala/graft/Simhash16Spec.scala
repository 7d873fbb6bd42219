package graft

import org.apache.spark.sql.functions._

/** The one-walk simhash16 expression must be bit-identical to the
  * explode → md5 → majority-vote aggregate pipeline it replaced (the
  * dedup_simhash oracle pins those exact bits) — on the fixture corpus
  * AND crafted edges including the distinct-set semantics duplicates
  * would otherwise bias, and the query must run with no exchange.
  */
class Simhash16Spec extends SparkSpec {

  private def native(df: org.apache.spark.sql.DataFrame) = {
    df.select(col("doc_id"),
      coalesce(expr("simhash16(text)"), lit("1" * 16)).as("simhash"))
  }

  private def assertSame(df: org.apache.spark.sql.DataFrame): Unit = {
    val spec = graft.operators.Dedup.simhashSpec(df)
    val diff = native(df).exceptAll(spec)
      .unionByName(spec.exceptAll(native(df)))
    val rows = diff.collect()
    assert(rows.isEmpty, s"simhash drift on: ${rows.take(5).mkString("; ")}")
  }

  test("bit-identical to the composed-builtin pipeline on the fixture") {
    assertSame(spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")))
  }

  test("bit-identical on crafted edges incl. the distinct-set semantics") {
    import spark.implicits._
    val edges = Seq(
      "",                         // zero tokens → all-ones
      "   \t ",                   // whitespace-only → all-ones
      null,                       // null text → all-ones via coalesce
      "one",
      "a a a a a b",              // duplicates MUST NOT bias the vote
      "b a b a",                  // distinct set {a,b} whatever the order
      "UPPER upper UpPeR",        // case-folds to ONE distinct token
      "x1 1x 11 xx",
      "tie maker two toks",       // even set sizes exercise the >= tie
      "punct!!!split---runs",
      "это не латиница",          // no [a-z0-9] tokens → all-ones
      "中文 with latin 文本",
      ("many distinct words " + (1 to 300).map("tok" + _).mkString(" "))
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    assertSame(edges.toDF("doc_id", "text"))
  }

  test("query plan is a single projection with no exchange") {
    val plan = graft.operators.Dedup.queries("dedup_simhash")(
      spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"simhash must not shuffle:\n${plan.take(1200)}")
    assert(!plan.contains("Generate"),
      s"simhash must not explode:\n${plan.take(1200)}")
  }
}
