package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: ALL five text-quality features of the
  * `text_quality` query in ONE character walk —
  * `struct(char_len, ws_tokens, bpe_tokens, stopword_ratio, punct_ratio)`.
  *
  * The composed-builtin form (functions.Text) walks the document once per
  * feature: a `\s+` split, the BPE-ish `regexp_extract_all`, the
  * `[^a-z0-9]+` tokenizer split + a stopword array filter, and a punct
  * `regexp_replace` — four regex passes plus array allocations per row.
  * This expression computes the same values in a single fused codepoint
  * loop with zero regex and zero per-feature allocation; it was the one
  * honestly compute-bound headline query (sf1: 5.2× time for 10× data,
  * all of it per-char regex work).
  *
  * Exact-equivalence notes (TextStatsSpec pins these against the
  * composed-builtin columns, and the DuckDB oracle is UNCHANGED):
  *   - counts are per Unicode code point (Spark `length`/Java regex/RE2
  *     all operate on code points — surrogate pairs count once);
  *   - the token/BPE classes live on lower(text): per-codepoint
  *     Character.toLowerCase equals string-level lowercasing for every
  *     1:1 mapping (the 1:N special cases — e.g. İ → i̇ — differ, and no
  *     tokenizer in this engine observes them: ASCII, CJK and cyrillic
  *     corpora are all 1:1);
  *   - the punct class is the ORIGINAL text's [^a-zA-Z0-9\s], evaluated
  *     per codepoint;
  *   - ws_tokens mirrors size(split(trim(text), "\\s+")) including its
  *     empty/all-whitespace edge (the empty split yields [""], size 1);
  *   - ratios divide exact int counts as doubles — the same single IEEE
  *     division the builtin columns perform.
  */
case class TextStats(child: Expression)
    extends StringWalk("text_stats", TextStats.schema) {

  override protected def walk(s: UTF8String): Any = TextStats.compute(s)

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStats {

  val schema: StructType = StructType(Seq(
    StructField("char_len", IntegerType, nullable = false),
    StructField("ws_tokens", IntegerType, nullable = false),
    StructField("bpe_tokens", IntegerType, nullable = false),
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false)))

  // functions.Text.stopwords, ≤ 4 ASCII chars each, packed 8 bits/char
  // into an int key (zero-alloc membership test via binary search)
  private val stopKeys: Array[Int] = Array(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that")
    .map(w => w.foldLeft(0)((k, ch) => (k << 8) | ch)).sorted

  private def isStop(key: Int): Boolean =
    java.util.Arrays.binarySearch(stopKeys, key) >= 0

  /** Entry point shared by eval and generated code. */
  def compute(s: UTF8String): InternalRow = compute(s.toString)

  def compute(s: String): InternalRow = {
    val n = s.length
    // ws_tokens mirrors size(split(trim(text), "\\s+")) EXACTLY: Spark's
    // trim strips ASCII SPACES only (tabs/newlines stay), and split keeps
    // leading/trailing empty fields (limit -1) — so the value is
    // (# of \s+ runs inside the space-trimmed window) + 1, and 1 for the
    // all-space/empty string (split('') = ['']).
    var fs = 0
    while (fs < n && s.charAt(fs) == ' ') fs += 1
    var ls = n - 1
    while (ls >= fs && s.charAt(ls) == ' ') ls -= 1
    var i = 0
    var chars = 0          // code points (= Spark length())
    var wsRuns = 0         // maximal \s runs inside [fs, ls]
    var bpe = 0            // [a-z]+ | [0-9]+ runs + punct singletons (lowered)
    var nTok = 0           // [a-z0-9]+ runs (lowered) = tokenize() size
    var nStop = 0
    var nPunct = 0         // [^a-zA-Z0-9\s] code points (original text)
    var prevWinWs = false  // previous in-window codepoint was \s
    var prevBpe = 0        // 0 = none/break, 1 = letter run, 2 = digit run
    var prevAlnum = false
    var tokKey = 0         // packed chars of the current token (≤ 4)
    var tokOver = false    // token can no longer be a stopword
    while (i < n) {
      val at = i
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      chars += 1
      val isWs = cp == 32 || (cp >= 9 && cp <= 13)
      val cl = Character.toLowerCase(cp)
      val isAz = cl >= 'a' && cl <= 'z'
      val isDigit = cp >= '0' && cp <= '9'
      // punct: the ORIGINAL text's class
      if (!isWs && !isDigit &&
          !(cp >= 'a' && cp <= 'z') && !(cp >= 'A' && cp <= 'Z')) nPunct += 1
      // \s-run counting inside the space-trimmed window
      if (at >= fs && at <= ls) {
        if (isWs && !prevWinWs) wsRuns += 1
        prevWinWs = isWs
      }
      // BPE-ish runs over lower(text)
      if (isAz) { if (prevBpe != 1) bpe += 1; prevBpe = 1 }
      else if (isDigit) { if (prevBpe != 2) bpe += 1; prevBpe = 2 }
      else { if (!isWs) bpe += 1; prevBpe = 0 } // punct singleton
      // alnum tokens over lower(text), with ≤4-char stopword tracking
      val alnum = isAz || isDigit
      if (alnum) {
        if (!prevAlnum) { nTok += 1; tokKey = 0; tokOver = false }
        if (tokOver || tokKey >= 0x1000000 || cl > 0x7f) tokOver = true
        else tokKey = (tokKey << 8) | cl
      } else if (prevAlnum && !tokOver && isStop(tokKey)) nStop += 1
      prevAlnum = alnum
    }
    if (prevAlnum && !tokOver && isStop(tokKey)) nStop += 1
    val wsTokens = if (fs > ls) 1 else wsRuns + 1
    new GenericInternalRow(Array[Any](
      chars, wsTokens, bpe,
      if (nTok == 0) 0.0 else nStop.toDouble / nTok.toDouble,
      if (chars == 0) 0.0 else nPunct.toDouble / chars.toDouble))
  }
}
