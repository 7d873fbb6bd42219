package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the script-aware tokenizer
  * (`Text.tokenizeCjk` — the IK-analyzer tier of the reference's
  * KwSplit UDTF, ref realtime-dws/.../function/KwSplit.java:17-25) in
  * ONE codepoint walk — `array<string>` of, in document order:
  *
  *   - latin/digit runs as lowercased words,
  *   - cyrillic runs (а-яё after case-folding) as lowercased words,
  *   - han spans (U+4E00–U+9FFF) as overlapping codepoint bigrams
  *     (a 1-char span emits itself).
  *
  * The composed-builtin form (kept as `Text.tokenizeCjkSpec`, parity
  * pinned in OperatorsSpec) pays a regexp_extract_all pass plus an
  * INTERPRETED transform/flatten lambda per span — the per-element
  * interpreted cost the r11/r12 fusions repeatedly measured at 3–50×.
  * This walk classifies each codepoint once (per-codepoint
  * Character.toLowerCase — the 1:1-mapping stance every native walk in
  * plans/ shares), breaks spans on class change, and emits tokens
  * directly. Null → null (explode drops, same as the composed form's
  * null propagation).
  */
case class TokenizeCjk(child: Expression)
    extends StringWalk("tokenize_cjk",
      ArrayType(StringType, containsNull = false)) {

  override protected def walk(s: UTF8String): Any = TokenizeCjk.compute(s)

  override protected def withNewChildInternal(newChild: Expression): TokenizeCjk =
    copy(child = newChild)
}

object TokenizeCjk {

  // span classes — named Cls* so scala.None stays unshadowed
  private final val ClsNone = 0
  private final val ClsLat = 1
  private final val ClsCyr = 2
  private final val ClsHan = 3

  def compute(s: UTF8String): GenericArrayData = {
    val str = s.toString
    val n = str.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val span = new java.lang.StringBuilder(16)
    var cls = ClsNone

    def flush(): Unit = {
      if (cls == ClsNone || span.length == 0) { span.setLength(0); return }
      if (cls == ClsHan && span.length > 1) {
        // overlapping codepoint bigrams; han is BMP so chars == cps
        var i = 0
        while (i < span.length - 1) {
          out += UTF8String.fromString(span.substring(i, i + 2))
          i += 1
        }
      } else out += UTF8String.fromString(span.toString)
      span.setLength(0)
    }

    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      // per-codepoint simple fold (1:1) — the same stance as DuckDB's
      // utf8proc lower(); Unicode's one unconditional 1:N lowercase,
      // U+0130 İ, folds to plain 'i' here (the composed spec applies
      // the same pre-mapping so all three forms agree)
      val cl = Character.toLowerCase(cp)
      val c =
        if (cp >= 0x4E00 && cp <= 0x9FFF) ClsHan
        else if ((cl >= 'a' && cl <= 'z') || (cp >= '0' && cp <= '9'))
          ClsLat
        else if ((cl >= 0x430 && cl <= 0x44F) || cl == 0x451) ClsCyr
        else ClsNone
      if (c != cls) { flush(); cls = c }
      if (c != ClsNone) span.appendCodePoint(if (c == ClsHan) cp else cl)
    }
    flush()
    new GenericArrayData(out.toArray)
  }
}
