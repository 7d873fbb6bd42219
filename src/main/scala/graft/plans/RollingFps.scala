package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: `rolling_fps(str, L)` — the polynomial
  * Rabin–Karp fingerprint of EVERY L-codepoint window of `str`, as
  * `array<bigint>`, in ONE O(n) pass with O(1) extra state.
  *
  * This is the upgrade path the duplication-profile family's scaladocs
  * document: the md5-window formulation materializes every L-char
  * substring through a Generate before the thin fp projection (~L× the
  * corpus bytes of intermediate at window length L — ~4096× at the
  * longest-dup probe's mid=4096), while this walk reads each codepoint
  * once and emits 8 bytes per window position, whatever L is.
  *
  * Arithmetic (the DuckDB oracle mirrors it term for term):
  * fp(window) = Horner over the window's Unicode code points with base
  * 131 and ACCUMULATOR SEEDED BY THE FIRST CODE POINT (DuckDB's
  * `list_reduce` semantics: acc starts at the first element, so no
  * leading `0*131+` term), everything mod p = 2^61 − 1:
  *
  *   fp = ((c₁·131 + c₂)·131 + c₃) ... mod p
  *
  * The rolling update drops the lead term and shifts:
  *   fp' = (fp − c_i·131^(L−1))·131 + c_{i+L}  (mod p)
  * which is algebraically identical to re-running Horner on the next
  * window — the oracle can therefore compute each window naively
  * (`list_reduce` over a slice) and match bit for bit. mulmod under the
  * Mersenne prime uses Math.multiplyHigh + the 2^64 ≡ 8 (mod 2^61−1)
  * fold — no BigInteger, no allocation in the loop.
  *
  * Collision stance: fingerprints stand in for window equality exactly
  * as the md5-prefix device did — the FUNCTION is identical in both
  * engines, so a (≈n²/2^61-improbable) collision steers both engines'
  * counts and searches the same way; final reports that name strings
  * regroup by the substring itself (see text_longest_dup).
  *
  * ADVERSARIAL caveat (ADVICE r13): unlike md5, a fixed-base polynomial
  * hash has TRIVIALLY constructible collisions — two windows differing
  * by (+1, −Base) at adjacent positions collide, so a hostile web
  * document can inflate `text_dup_profile` counts or steer
  * `text_longest_dup`'s binary search, and the parity gate cannot see
  * it (both engines agree bit-for-bit by design). The random-prefix
  * bound only holds against inputs chosen WITHOUT knowing the base.
  * Mitigation: the base is a deployment-time SEED —
  * `-Dgraft.rollingFpsBase=<2..2^40>` (e.g. through `JAVA_TOOL_OPTIONS`)
  * — read once at JVM init by BOTH the engine walk and the oracle-SQL
  * generators (TextAnalysis.oraRollingCtes / rollingFpsSpecCol derive
  * base and modular inverse from [[RollingFps.Base]]/[[BaseInv]]), so a
  * production run picks an unguessable base per corpus while the two
  * formulations stay bit-identical. Default 131 keeps the committed
  * gate hashes stable.
  *
  * Windows count CODE POINTS (DuckDB `substr`/`len` semantics); the
  * normalize output is pure ASCII so bytes == code points there, but
  * the walk decodes UTF-8 properly for general input. length < L →
  * empty array (the callers' CASE guard, absorbed); null → null.
  */
case class RollingFps(child: Expression, winLen: Int)
    extends StringWalk("rolling_fps", ArrayType(LongType, containsNull = false)) {

  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case TypeCheckResult.TypeCheckSuccess if winLen < 1 =>
        TypeCheckResult.TypeCheckFailure(
          s"rolling_fps window length must be >= 1, got $winLen")
      case r => r
    }

  override protected def walk(s: UTF8String): Any = RollingFps.compute(s, winLen)
  override protected def codegenArgs: Seq[Any] = Seq(winLen)

  override protected def withNewChildInternal(newChild: Expression): RollingFps =
    copy(child = newChild)
}

object RollingFps {

  /** 2^61 − 1 (Mersenne prime): mod-fold is two shifts, and the largest
    * partial product (p−1)·base fits the 128-bit multiplyHigh path. */
  val P: Long = (1L << 61) - 1

  /** Polynomial base — a deployment-time seed (see the adversarial
    * caveat above). Read ONCE at JVM init so the engine expression and
    * the oracle generators can never disagree mid-session. Bounded at
    * 2^40 so EVERY formulation stays exact: the native walk is modular
    * (any base < p works), but the executable-spec Horner runs in
    * DECIMAL(38,0) where `acc·base + c` must stay under 10^38
    * (acc < 2^61, base ≤ 2^40 → product < 2^101 ≈ 2.5e30), and the
    * oracle's HUGEINT ladder term c·ipw stays far inside 2^127. A 2^40
    * seed space serves the threat model (non-targeted corpus poisoning
    * by documents authored without knowing the seed). */
  val Base: Long = {
    val b = sys.props.get("graft.rollingFpsBase").map(_.toLong)
      .getOrElse(131L)
    require(b >= 2 && b <= (1L << 40),
      s"rollingFpsBase must be in [2, 2^40], got $b")
    b
  }

  /** Base^(−1) mod P — the oracle's prefix-identity ladder constant,
    * derived from the SAME seed (extended Euclid via BigInteger). */
  val BaseInv: Long = java.math.BigInteger.valueOf(Base)
    .modInverse(java.math.BigInteger.valueOf(P)).longValueExact()

  /** (a * b) mod P for a, b < P — multiplyHigh + the 2^64 ≡ 8 fold. */
  private def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // v = hi·2^64 + lo(unsigned); 2^64 ≡ 8, lo ≡ (lo >>> 61) + (lo & P)
    var r = hi * 8 + (lo >>> 61) + (lo & P)
    while (r >= P) r -= P
    r
  }

  private def addmod(a: Long, b: Long): Long = {
    val r = a + b // both < P < 2^61 — no overflow
    if (r >= P) r - P else r
  }

  private def submod(a: Long, b: Long): Long = {
    val r = a - b
    if (r < 0) r + P else r
  }

  /** base^(e) mod P by square-and-multiply (once per call — e = L−1). */
  private def powBase(base: Long, e: Int): Long = {
    var result = 1L
    var b = base
    var k = e
    while (k > 0) {
      if ((k & 1) == 1) result = mulmod(result, b)
      b = mulmod(b, b)
      k >>= 1
    }
    result
  }

  private val Empty = new GenericArrayData(Array.empty[Long])

  def compute(s: UTF8String, winLen: Int): GenericArrayData =
    computeWithBase(s, winLen, Base)

  /** Seed-parameterized walk — [[compute]] with an explicit base, so a
    * test can exercise a NON-DEFAULT seed's arithmetic in-process (the
    * JVM-global [[Base]] is fixed at init by design). */
  private[graft] def computeWithBase(s: UTF8String, winLen: Int,
      base: Long): GenericArrayData = {
    // cheap pre-decode guard: numBytes >= numChars always, so a string
    // with fewer BYTES than the window has no window — the binary
    // search's above-answer probes (mid up to 8192) cost a length read,
    // not a decode, exactly like the old formulation's CASE guard
    if (s.numBytes() < winLen) return Empty
    // decode once into code points (ASCII fast path: bytes are points)
    val bytes = s.getBytes
    val nb = bytes.length
    var ascii = true
    var i = 0
    while (ascii && i < nb) { if (bytes(i) < 0) ascii = false; i += 1 }
    val cps: Array[Int] =
      if (ascii) {
        val a = new Array[Int](nb)
        var j = 0
        while (j < nb) { a(j) = bytes(j); j += 1 }
        a
      } else {
        val str = s.toString
        val a = new Array[Int](str.codePointCount(0, str.length))
        var ci = 0
        var j = 0
        while (ci < str.length) {
          val cp = str.codePointAt(ci)
          a(j) = cp; j += 1
          ci += Character.charCount(cp)
        }
        a
      }
    val n = cps.length
    if (n < winLen) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n - winLen + 1)
    // lead = base^(L−1) mod P: the dropped term's coefficient
    val lead = powBase(base, winLen - 1)
    // first window: Horner seeded by the first code point (list_reduce)
    var fp = cps(0).toLong % P
    var j = 1
    while (j < winLen) { fp = addmod(mulmod(fp, base), cps(j).toLong); j += 1 }
    out(0) = fp
    var w = 1
    while (w + winLen <= n) {
      fp = addmod(
        mulmod(submod(fp, mulmod(cps(w - 1).toLong % P, lead)), base),
        cps(w + winLen - 1).toLong)
      out(w) = fp
      w += 1
    }
    new GenericArrayData(out)
  }
}
