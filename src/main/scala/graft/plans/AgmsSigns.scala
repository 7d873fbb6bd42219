package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: all 16 AGMS sign-sketch coordinates of a
  * join key in ONE walk — `array<bigint>` of ±1, coordinate j = +1 iff
  * the first hex digit of `md5('agms<j>|' || key)` is 0–7 (i.e. the top
  * bit of digest byte 0 is clear), matching `q_join_size_sketches`'s
  * composed form digit-for-digit so the DuckDB oracle is unchanged.
  *
  * Replaces 16 independent `when(substring(md5(concat(...)), 1, 1)
  * .isin(...))` Column chains per row per side — each allocating a
  * UTF8String concat plus a 32-char hex STRING to read one character —
  * with a thread-local digest over a reusable byte buffer that tests
  * one BIT (`digest[0] & 0x80`). The 16 short-input MD5 compressions
  * per row are the sketch's intrinsic cost and remain; everything else
  * (concat, hex encoding, substring, set membership) goes. Sign-sum
  * identity vs the composed spec form is pinned in NativeExprSpec.
  *
  * Ref: Alon–Gibbons–Matias–Szegedy tug-of-war sketches for join-size
  * estimation; the deterministic md5-seeded sign family is the same
  * device the composed form and the oracle share.
  */
case class AgmsSigns(child: Expression)
    extends StringWalk("agms_signs", ArrayType(LongType, containsNull = false)) {

  override protected def walk(s: UTF8String): Any = AgmsSigns.compute(s)

  override protected def withNewChildInternal(newChild: Expression): AgmsSigns =
    copy(child = newChild)
}

object AgmsSigns {

  /** Prefix bytes "agms<j>|" for j = 0..15 — ASCII, fixed at class init. */
  private val prefixes: Array[Array[Byte]] =
    Array.tabulate(16)(j => s"agms$j|".getBytes("US-ASCII"))

  private final class Scratch {
    val md: java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
    val dig = new Array[Byte](16)
  }
  private val local = ThreadLocal.withInitial[Scratch](() => new Scratch)

  def compute(key: UTF8String): GenericArrayData = {
    val sc = local.get()
    val md = sc.md
    val keyBytes = key.getBytes
    val out = new Array[Long](16)
    var j = 0
    while (j < 16) {
      md.reset()
      md.update(prefixes(j))
      md.update(keyBytes)
      md.digest(sc.dig, 0, 16)
      // first hex digit 0-7 <=> top bit of byte 0 clear
      out(j) = if ((sc.dig(0) & 0x80) == 0) 1L else -1L
      j += 1
    }
    new GenericArrayData(out)
  }
}
