package graft

import org.apache.spark.sql.functions._

/** The native cdc_chunks walk must match a from-scratch driver
  * recompute of the published rule (16-char window md5 ≡ 0 mod 64 cuts,
  * doc end always a cut), chunks must conserve every character, and
  * chunking must be CONTENT-DEFINED: a prefix insertion leaves the
  * tail chunks identical (the property fixed-size blocks lack).
  */
class CdcChunksSpec extends SparkSpec {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** From-scratch reference chunker over normalized text. */
  private def refChunks(norm: String): Seq[(String, Int)] = {
    if (norm.isEmpty) return Seq.empty
    val cuts = (1 to math.max(norm.length - 15, 0)).filter { p =>
      val h = md5hex(norm.substring(p - 1, p + 15))
      BigInt(h.substring(0, 15), 16) % 64 == 0
    }.map(_ + 15).toSet + norm.length
    val sorted = cuts.toSeq.sorted
    sorted.zip(0 +: sorted).map { case (e, s) =>
      (md5hex(norm.substring(s, e)), e - s)
    }
  }

  private def norm(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim

  test("native walk == from-scratch reference on fixture docs + edges") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).limit(40).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val edges = Seq(1001L -> "", 1002L -> "short", 1003L -> "x" * 16,
      1004L -> ("word " * 400))
    import spark.implicits._
    val df = (docs ++ edges).toSeq.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.Text.normalize(col("text")).as("norm"))
    val got = df.select(col("doc_id"), expr("cdc_chunks(norm)").as("cs"))
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(c => (c.getString(0), c.getInt(1)))
      }.toMap
    (docs ++ edges).foreach { case (id, text) =>
      assert(got(id) === refChunks(norm(text)),
        s"chunk drift on doc $id")
    }
  }

  test("chunks conserve every character of every fixture doc") {
    val bad = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(graft.functions.Text.normalize(col("text")).as("norm"))
      .filter(length(col("norm")) > 0)
      .select(length(col("norm")).as("len"),
        expr("aggregate(cdc_chunks(norm), 0, (a, c) -> a + c.nchars)")
          .as("sum_chunks"))
      .filter(col("len") =!= col("sum_chunks")).count()
    assert(bad === 0, "chunk lengths must partition the document")
  }

  test("content-defined: a prefix insertion leaves tail chunks shared") {
    val base = norm((1 to 200).map(i => s"token$i value$i").mkString(" "))
    val shifted = "inserted preamble words here " + base
    import spark.implicits._
    val df = Seq(base, shifted).toDF("norm")
      .select(expr("cdc_chunks(norm)").as("cs"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0)
        .map(_.getString(0)).toSet)
    val shared = df(0) intersect df(1)
    assert(shared.nonEmpty,
      "after the first post-insertion boundary the chunk streams must " +
        "realign — zero shared chunks means the chunking is not " +
        "content-defined")
    // and the report query runs green end-to-end on the fixture
    val rep = graft.operators.Dedup.queries("dedup_cdc_chunks")(
      spark, sfDir).collect()
    assert(rep.nonEmpty)
    rep.foreach { r =>
      val (nCh, nDis) = (r.getLong(1), r.getLong(2))
      val (chars, dist) = (r.getLong(3), r.getLong(4))
      assert(nDis <= nCh && dist <= chars)
      assert(r.getLong(5) === (chars - dist) * 1000000L / math.max(chars, 1L))
    }
  }
}
