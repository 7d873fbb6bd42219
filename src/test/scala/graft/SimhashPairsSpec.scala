package graft

import org.apache.spark.sql.functions._

/** The 60-bit simhash walk must match its composed-builtin spec
  * bit-for-bit, and dedup_simhash_pairs must return EXACTLY the
  * Hamming ≤ 3 pairs (the banded blocking is pigeonhole-exact, so the
  * query is equivalent to the quadratic definition — assertable by
  * brute force at fixture scale).
  */
class SimhashPairsSpec extends SparkSpec {

  private val allOnes = (1L << 60) - 1

  private def native(df: org.apache.spark.sql.DataFrame) = {
    df.select(col("doc_id"),
      coalesce(expr("simhash60(text)"), lit(allOnes)).as("sig"))
  }

  test("simhash60 bit-identical to the composed spec on fixture + edges") {
    import spark.implicits._
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val edges = Seq((9001L, ""), (9002L, "one"), (9003L, "a a a b"),
      (9004L, null), (9005L, "UPPER upper 42"),
      (9006L, "это не латиница"))
      .toDF("doc_id", "text")
    Seq(fixture, edges).foreach { df =>
      val spec = graft.operators.Dedup.simhash60Spec(df)
      val diff = native(df).exceptAll(spec)
        .unionByName(spec.exceptAll(native(df)))
      val rows = diff.collect()
      assert(rows.isEmpty, s"sig drift on: ${rows.take(5).mkString("; ")}")
    }
  }

  test("pairs == the quadratic Hamming<=3 definition (blocking is " +
      "pigeonhole-exact); planted identical docs pair at hamming 0") {
    val got = graft.operators.Dedup.queries("dedup_simhash_pairs")(
      spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = native(spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(got === want,
      s"banded pairs drift from the quadratic truth: got ${got.size}, " +
        s"want ${want.size}")
    // positive control: identical texts share the token set → same sig
    import spark.implicits._
    val planted = Seq(
      (1L, "the same exact document body here"),
      (2L, "the same exact document body here"),
      (3L, "a completely different story about other things entirely"))
      .toDF("doc_id", "text")
    // route through a temp dir so the query reads it as the documents
    // table
    val dir = java.nio.file.Files.createTempDirectory("shpairs").toString
    planted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = graft.operators.Dedup.queries("dedup_simhash_pairs")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(p.contains((1L, 2L, 0L)),
      "identical docs must pair at hamming 0")
    assert(!p.exists(t => t._3 > 3))
  }
}
