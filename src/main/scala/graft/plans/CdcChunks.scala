package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: content-defined chunking of an
  * ALREADY-NORMALIZED text column (Muthitacharoen et al., LBFS — the
  * storage-dedup standard, here at corpus-text granularity) —
  * `array(struct(fp: string, nchars: int))`, one struct per chunk.
  *
  * Boundary rule (the oracle mirrors it exactly): for every 16-char
  * window starting at 1-based position p (windows exist for
  * p = 1 .. len−15), cut AFTER character p+15 when the window's
  * md5-derived 60-bit value (`('0x' || substring(md5(win), 1, 15))`)
  * ≡ 0 (mod 64) — expected chunk length 64; the document end is always
  * a cut. Chunks are the segments between consecutive cuts; `fp` is the
  * 32-hex-char md5 of the chunk text. Content-defined means an
  * insertion early in a document only reshuffles the chunks it touches
  * — the property that makes chunk-level dedup robust where fixed-size
  * blocks shift.
  *
  * The input is [[graft.functions.Text.normalize]] output — pure ASCII
  * `[a-z0-9 ]` by construction, so byte windows ARE char windows and
  * both the window hash and the chunk fingerprint run over the exact
  * bytes DuckDB's md5 sees. The walk needs only v mod 64 per window:
  * bits 0–5 of the 60-bit value = ((digest[6] & 0x03) << 4) |
  * (digest[7] >>> 4) — the hex string never exists. Empty input → empty
  * array (the oracle's len > 0 guard); null → null (callers explode,
  * which drops both).
  */
case class CdcChunks(child: Expression)
    extends StringWalk("cdc_chunks", CdcChunks.schema) {

  override protected def walk(s: UTF8String): Any = CdcChunks.compute(s)

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {

  val Window = 16

  val schema: DataType = ArrayType(StructType(Seq(
    StructField("fp", StringType, nullable = false),
    StructField("nchars", IntegerType, nullable = false))),
    containsNull = false)

  private val hexChars = "0123456789abcdef".getBytes

  private final class Scratch {
    val md: java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
    val dig: Array[Byte] = new Array[Byte](16)
  }
  private val local = ThreadLocal.withInitial[Scratch](() => new Scratch)

  def compute(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes // normalize output is ASCII: bytes == chars
    val n = bytes.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val sc = local.get()
    val md = sc.md
    val dig = sc.dig
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var start = 0 // 0-based chunk start
    var p = 0     // 0-based window start; window covers [p, p+15]
    while (p + Window <= n) {
      md.reset()
      md.update(bytes, p, Window)
      md.digest(dig, 0, 16)
      // v mod 64 over the 60-bit ('0x' || first-15-hex-digits) value
      val low6 = ((dig(6) & 0x03) << 4) | ((dig(7) & 0xF0) >>> 4)
      if (low6 == 0) { // cut after char p+15
        out += chunk(md, dig, bytes, start, p + Window)
        start = p + Window
      }
      p += 1
    }
    if (start < n) out += chunk(md, dig, bytes, start, n)
    new GenericArrayData(out.toArray)
  }

  private def chunk(md: java.security.MessageDigest, dig: Array[Byte],
      bytes: Array[Byte], start: Int, end: Int): GenericInternalRow = {
    md.reset()
    md.update(bytes, start, end - start)
    md.digest(dig, 0, 16)
    val hex = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      hex(2 * i) = hexChars((dig(i) & 0xF0) >>> 4)
      hex(2 * i + 1) = hexChars(dig(i) & 0x0F)
      i += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromBytes(hex), end - start))
  }
}
