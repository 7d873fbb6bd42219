package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the fastText/CCNet-style hashed linear
  * quality classifier (`TextAnalysis.withClassifierScore`):
  * `struct(n_feats, wsum)` over a document in ONE walk.
  *
  * The composed-builtin form materializes the token ARRAY, concatenates
  * a bigram-string array onto it, then folds an interpreted aggregate()
  * HOF whose per-feature body is `conv(substring(md5(concat(...)))) %
  * 4096 * K % 2003 − 1001` — per feature that is several string
  * allocations plus a hex round-trip, and higher-order functions never
  * reach codegen. Measured in the streaming soak, this gate alone cost
  * ~15 s of every ~19 s hygiene micro-batch (4× sf0.1).
  *
  * Here the tokenizer is the same per-codepoint walk as TextStats
  * (tokens are maximal [a-z0-9]+ runs of the lowered text, so they are
  * pure ASCII by construction) and each feature's weight is computed by
  * feeding the exact bytes Spark would hash (`qc|` + token, or `qc|` +
  * tok + '_' + next) to a thread-local MD5 instance. The weight needs
  * only `% 4096` of the first-15-hex-chars value — the low 12 bits of
  * the digest's first 60 bits, i.e. bits of digest bytes 6–7 — so the
  * hex string, conv() parse, and substring never exist. Values are
  * bit-identical to the HOF form (ClassifierStatsSpec pins fixture +
  * edges); the text_quality_classifier / quality_threshold_sweep
  * oracles are unchanged.
  */
case class ClassifierStats(child: Expression)
    extends StringWalk("classifier_stats", ClassifierStats.schema) {

  override protected def walk(s: UTF8String): Any = ClassifierStats.compute(s)

  override protected def withNewChildInternal(
      newChild: Expression): ClassifierStats =
    copy(child = newChild)
}

object ClassifierStats {

  val schema: StructType = StructType(Seq(
    StructField("n_feats", LongType, nullable = false),
    StructField("wsum", LongType, nullable = false)))

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val Prefix = "qc|".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def compute(s: UTF8String): InternalRow = compute(s.toString)

  def compute(s: String): InternalRow = {
    val md = md5.get()
    // weight of the feature whose bytes are PREFIX ++ buf[f0, f1) ++
    // ('_' ++ buf[g0, g1) for bigrams): only digest bytes 6–7 matter —
    // bucket = (first 60 bits of the digest) % 4096 = the 60-bit value's
    // low 12 bits = (b6 << 4) | (b7 >>> 4)
    def weight(buf: Array[Byte], f0: Int, f1: Int,
        g: Array[Byte], g0: Int, g1: Int): Long = {
      md.reset()
      md.update(Prefix)
      md.update(buf, f0, f1 - f0)
      if (g != null) { md.update('_'.toByte); md.update(g, g0, g1 - g0) }
      val d = md.digest()
      val bucket = (((d(6) & 0xff) << 4) | ((d(7) & 0xff) >>> 4)).toLong
      (bucket * 2654435761L) % 2003L - 1001L
    }
    val n = s.length
    var i = 0
    // two reusable token buffers, swapped as tokens complete (the bigram
    // needs the previous token's bytes; tokens are ASCII by construction)
    var cur = new Array[Byte](32); var curLen = 0
    var prev = new Array[Byte](32); var prevLen = -1 // -1 = no prev token
    var inTok = false
    var nFeats = 0L
    var wsum = 0L
    def endToken(): Unit = if (inTok) {
      nFeats += 1
      wsum += weight(cur, 0, curLen, null, 0, 0)
      if (prevLen >= 0) {
        nFeats += 1
        wsum += weight(prev, 0, prevLen, cur, 0, curLen)
      }
      val t = prev; prev = cur; prevLen = curLen; cur = t; curLen = 0
      inTok = false
    }
    while (i < n) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      val cl = Character.toLowerCase(cp)
      if ((cl >= 'a' && cl <= 'z') || (cp >= '0' && cp <= '9')) {
        if (curLen == cur.length)
          cur = java.util.Arrays.copyOf(cur, curLen * 2)
        cur(curLen) = cl.toByte
        curLen += 1
        inTok = true
      } else endToken()
    }
    endToken()
    new GenericInternalRow(Array[Any](nFeats, wsum))
  }
}
