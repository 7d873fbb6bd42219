package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the six 20-bit MinHash slice minima of a
  * document in ONE fused walk — `struct(mh0 … mh5 : bigint)`.
  *
  * Replaces the minhash signature pipeline's hot path (operators/Dedup
  * `minhashSlices`): explode one row per 3-word shingle → `md5(shingle)`
  * as a 32-char HEX STRING → six `conv(substring(h, 5b+1, 5), 16, 10)`
  * parses → a full shuffle + HashAggregate of six `min`s back to one row
  * per doc. That shape moves |shingles| rows (≈ |tokens| per doc) through
  * an exchange and allocates a hex string per shingle — the exact
  * interpreted-per-element cost the r11 `classifier_stats` fix measured
  * at ~50× over a fused walk. This expression computes the same six
  * minima per row with no explode, no exchange, no hex strings:
  *
  *   1. one codepoint walk collects the lowered `[a-z0-9]+` tokens into a
  *      single space-separated ASCII byte buffer (token chars are ASCII
  *      BY CONSTRUCTION, so buffer bytes == the shingle's UTF-8 bytes);
  *   2. every 3-token shingle window is then a CONTIGUOUS buffer range —
  *      one `MessageDigest.update(buf, start, len)` + digest-into-scratch
  *      per shingle, zero per-shingle allocation (thread-local digest and
  *      scratch; MessageDigest is stateful and executor threads share the
  *      expression);
  *   3. the six 20-bit slices read the digest's nibbles directly
  *      (slice b = nibbles [5b, 5b+5) big-endian), matching
  *      `conv(substring(hex, 5b+1, 5), 16, 10)` bit for bit.
  *
  * Exact-equivalence notes (MinhashSigsSpec pins the struct against the
  * composed-builtin pipeline on the fixture corpus, and the DuckDB
  * oracle is UNCHANGED — signatures are bit-pinned):
  *   - tokenize: `filter(split(lower(text), "[^a-z0-9]+"), _ ≠ "")` =
  *     maximal runs of codepoints whose lowercase is `[a-z0-9]`; the
  *     per-codepoint `Character.toLowerCase` equals string-level
  *     lowercasing for every 1:1 mapping (the 1:N special cases — e.g.
  *     İ → i̇ — differ; same documented stance as TextStats, no corpus
  *     in this engine observes them);
  *   - shingles: `wordShingles(toks, 3)` emits max(nTok − 2, 1) windows,
  *     window i = tokens i..min(i+2, nTok−1) space-joined; nTok = 0
  *     yields the single EMPTY shingle (md5 of zero bytes) — reproduced
  *     here, so every non-null document gets a signature row exactly as
  *     the explode form does;
  *   - `array_distinct` in wordShingles is DROPPED on purpose: duplicate
  *     shingles hash identically and a duplicate can never change a
  *     minimum;
  *   - null text → null struct (callers filter), matching the explode
  *     form dropping the row.
  *
  * Ref: the reference keys dedup/keyword state by full content strings
  * through Flink keyBy (e.g. realtime-dws KeywordBean streams); this is
  * the sketch-signature scale path replacing content-key movement.
  */
case class MinhashSigs(child: Expression)
    extends StringWalk("minhash_sigs", MinhashSigs.schema) {

  override protected def walk(s: UTF8String): Any = MinhashSigs.compute(s)

  override protected def withNewChildInternal(newChild: Expression): MinhashSigs =
    copy(child = newChild)
}

object MinhashSigs {

  val schema: StructType = StructType((0 to 5).map(b =>
    StructField(s"mh$b", LongType, nullable = false)))

  /** Thread-local walk state: the MD5 digest (stateful), the token byte
    * buffer (grown to the largest document seen by the thread), the
    * per-token end offsets, and the 16-byte digest scratch.
    */
  private final class Scratch {
    val md: java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
    var buf: Array[Byte] = new Array[Byte](1 << 12)
    var tokEnd: Array[Int] = new Array[Int](1 << 8)
    val dig: Array[Byte] = new Array[Byte](16)
  }
  private val local = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Entry point shared by eval and generated code. */
  def compute(s: UTF8String): InternalRow = {
    val sc = local.get()
    val str = s.toString
    val n = str.length
    if (sc.buf.length < n + 1) sc.buf = new Array[Byte](Integer.highestOneBit(n) * 2 + 2)
    val buf = sc.buf
    // 1. tokenize into `buf` as "tok0 tok1 tok2 …" (single spaces), and
    // record each token's END offset in buf (its start is the previous
    // end + 1, or 0 for the first)
    var nTok = 0
    var w = 0                  // write position in buf
    var inTok = false
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      val cl = Character.toLowerCase(cp)
      val isTok = (cl >= 'a' && cl <= 'z') || (cp >= '0' && cp <= '9')
      if (isTok) {
        if (!inTok && nTok > 0) { buf(w) = ' '; w += 1 }
        inTok = true
        buf(w) = cl.toByte; w += 1
      } else if (inTok) {
        if (nTok >= sc.tokEnd.length)
          sc.tokEnd = java.util.Arrays.copyOf(sc.tokEnd, sc.tokEnd.length * 2)
        sc.tokEnd(nTok) = w; nTok += 1
        inTok = false
      }
    }
    if (inTok) {
      if (nTok >= sc.tokEnd.length)
        sc.tokEnd = java.util.Arrays.copyOf(sc.tokEnd, sc.tokEnd.length * 2)
      sc.tokEnd(nTok) = w; nTok += 1
    }
    val tokEnd = sc.tokEnd
    // 2. + 3. hash each contiguous 3-token window, tracking slice minima
    var m0 = Long.MaxValue; var m1 = Long.MaxValue; var m2 = Long.MaxValue
    var m3 = Long.MaxValue; var m4 = Long.MaxValue; var m5 = Long.MaxValue
    val md = sc.md
    val dig = sc.dig
    val nSh = math.max(nTok - 2, 1)
    var t = 0
    while (t < nSh) {
      val start = if (t == 0) 0 else tokEnd(t - 1) + 1
      val end = if (nTok == 0) 0 else tokEnd(math.min(t + 2, nTok - 1))
      md.reset()
      md.update(buf, start, end - start)
      md.digest(dig, 0, 16)
      // slice b = nibbles [5b, 5b+5) of the 32-nibble digest, big-endian
      val v0 = ((dig(0) & 0xFFL) << 12) | ((dig(1) & 0xFFL) << 4) |
        ((dig(2) & 0xF0L) >>> 4)
      val v1 = ((dig(2) & 0x0FL) << 16) | ((dig(3) & 0xFFL) << 8) |
        (dig(4) & 0xFFL)
      val v2 = ((dig(5) & 0xFFL) << 12) | ((dig(6) & 0xFFL) << 4) |
        ((dig(7) & 0xF0L) >>> 4)
      val v3 = ((dig(7) & 0x0FL) << 16) | ((dig(8) & 0xFFL) << 8) |
        (dig(9) & 0xFFL)
      val v4 = ((dig(10) & 0xFFL) << 12) | ((dig(11) & 0xFFL) << 4) |
        ((dig(12) & 0xF0L) >>> 4)
      val v5 = ((dig(12) & 0x0FL) << 16) | ((dig(13) & 0xFFL) << 8) |
        (dig(14) & 0xFFL)
      if (v0 < m0) m0 = v0
      if (v1 < m1) m1 = v1
      if (v2 < m2) m2 = v2
      if (v3 < m3) m3 = v3
      if (v4 < m4) m4 = v4
      if (v5 < m5) m5 = v5
      t += 1
    }
    new GenericInternalRow(Array[Any](m0, m1, m2, m3, m4, m5))
  }
}
