package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 16-bit SimHash of a document's
  * DISTINCT token set in ONE fused walk — a 16-char "0"/"1" string
  * (bit j = majority vote of md5-hex digit j's high bit, ties → 1;
  * zero tokens → all ones, matching `0 >= 0`).
  *
  * Replaces `dedup_simhash`'s explode → md5-per-token → 16 conditional
  * sums → per-doc HashAggregate → left-join-back pipeline with a single
  * projection: no explode, no exchange, no join (the empty-doc restore
  * becomes a `coalesce` over the null-intolerant expression). The old
  * form is kept as the executable spec; Simhash16Spec pins bit-identity
  * on the fixture and crafted edges, so the DuckDB oracle is unchanged.
  *
  * The walk (same tokenizer stance as [[MinhashSigs]]/[[TextStats]] —
  * per-codepoint Character.toLowerCase, 1:1-mapping caveat documented
  * there): tokens byte-pack into one buffer; DISTINCTNESS — which
  * MATTERS here, duplicate tokens would bias the votes (unlike the
  * MinHash minima) — comes from a thread-local open-addressing set over
  * the packed bytes (FNV-1a probe, byte-compare verify, rebuild at 50%
  * load), so only first occurrences reach the thread-local MD5.
  *
  * Ref: the reference keys its keyword-split stream by full content
  * strings (realtime-dws KwSplit pipeline); this is the
  * signature-sketch scale path.
  */
case class Simhash16(child: Expression)
    extends StringWalk("simhash16", StringType) {

  override protected def walk(s: UTF8String): Any = Simhash16.compute(s)

  override protected def withNewChildInternal(newChild: Expression): Simhash16 =
    copy(child = newChild)
}

object Simhash16 {

  def compute(s: UTF8String): UTF8String = {
    val sc = TokenWalk.local.get()
    java.util.Arrays.fill(sc.ones, 0, 16, 0)
    val md = sc.md
    val dig = sc.dig
    val nTok = TokenWalk.distinctTokens(s.toString, sc) { (buf, off, len) =>
      // the distinct token's votes: md5 hex digit j's high bit = bit 3
      // of nibble j of the digest
      md.reset()
      md.update(buf, off, len)
      md.digest(dig, 0, 16)
      var j = 0
      while (j < 16) {
        val nib = if ((j & 1) == 0) (dig(j >> 1) & 0xFF) >>> 4
                  else dig(j >> 1) & 0x0F
        if ((nib & 8) != 0) sc.ones(j) += 1
        j += 1
      }
    }
    var j = 0
    while (j < 16) {
      sc.out(j) = if (2 * sc.ones(j) >= nTok) '1'.toByte else '0'.toByte
      j += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(sc.out, 16))
  }
}

/** Native Catalyst expression: the 60-bit SimHash of the DISTINCT token
  * set as a BIGINT — the wide-signature sibling of [[Simhash16]] and
  * the signature `dedup_simhash_pairs` bands (Manku/Jain/Sarma,
  * WWW'07: near-dup detection = wide simhash + Hamming ≤ k via banded
  * pigeonhole blocking; 16 bits is a report-sized sketch but its 4-bit
  * bands would collide a 1/16 of the corpus per bucket — 60 bits with
  * 15-bit bands is the occupancy-sane shape). Bit s (s = 0..59, LSB
  * first) is the majority vote of bit s of each distinct token's
  * `('0x' || substring(md5(tok), 1, 15))` value — i.e. hex digit d
  * (0-indexed) supplies bits 4·(14−d)+3 … 4·(14−d); ties → 1; zero
  * tokens → callers coalesce to the all-ones (2⁶⁰−1) signature.
  * Bit-identity vs the composed explode + 60-conditional-sum spec form
  * is pinned in Simhash60Spec; the DuckDB oracle mirrors the spec.
  */
case class Simhash60(child: Expression)
    extends StringWalk("simhash60", LongType) {

  override protected def walk(s: UTF8String): Any = Simhash60.compute(s)

  override protected def withNewChildInternal(newChild: Expression): Simhash60 =
    copy(child = newChild)
}

object Simhash60 {

  def compute(s: UTF8String): Long = {
    val sc = TokenWalk.local.get()
    java.util.Arrays.fill(sc.ones, 0, 60, 0)
    val md = sc.md
    val dig = sc.dig
    val nTok = TokenWalk.distinctTokens(s.toString, sc) { (buf, off, len) =>
      md.reset()
      md.update(buf, off, len)
      md.digest(dig, 0, 16)
      // v = first 15 hex digits of the digest: digit d = nibble d,
      // sitting at bits 4·(14−d)+3 … 4·(14−d) of v
      var d = 0
      while (d < 15) {
        val nib = if ((d & 1) == 0) (dig(d >> 1) & 0xFF) >>> 4
                  else dig(d >> 1) & 0x0F
        val base = 4 * (14 - d)
        if ((nib & 1) != 0) sc.ones(base) += 1
        if ((nib & 2) != 0) sc.ones(base + 1) += 1
        if ((nib & 4) != 0) sc.ones(base + 2) += 1
        if ((nib & 8) != 0) sc.ones(base + 3) += 1
        d += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (2 * sc.ones(b) >= nTok) sig |= 1L << b
      b += 1
    }
    sig
  }
}
