package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row text kernels backing codegen'd native expressions — one
  * array pass, zero allocation, for hot-path per-word arithmetic that
  * higher-order-function forms pay regex/Matcher/array costs for (and
  * re-tokenize: codegen subexpression elimination does not cover
  * HOFs — the r14 langId/readability findings).
  */
object TextKernels {

  @inline private def isVowel(c: Byte): Boolean = c match {
    case 'a' | 'e' | 'i' | 'o' | 'u' | 'y' => true
    case _ => false
  }

  /** Σ over words of max(1, number of maximal [aeiouy]+ runs) — the
    * Flesch–Kincaid syllable estimate over an already-tokenized words
    * array (the `words()` output is lowercase ASCII-ish, so byte-wise
    * vowel tests equal the oracle's `[aeiouy]+` regex runs). Null
    * elements score nothing (words() never emits them).
    */
  def syllableSum(words: ArrayData): Long = {
    var total = 0L
    var i = 0
    val n = words.numElements()
    while (i < n) {
      if (!words.isNullAt(i)) {
        val w = words.getUTF8String(i)
        val len = w.numBytes()
        var runs = 0
        var inRun = false
        var j = 0
        while (j < len) {
          val v = isVowel(w.getByte(j))
          if (v && !inRun) runs += 1
          inRun = v
          j += 1
        }
        total += (if (runs > 0) runs else 1)
      }
      i += 1
    }
    total
  }

  /** Java-regex-`\s` whitespace test, byte-wise: {space, \t, \n, \x0B,
    * \f, \r} — ASCII only, exactly what `split(text, "\\s+")` splits
    * on (Java's default `\s` is NOT Unicode-aware, so NBSP etc. are
    * token bytes). All six are < 0x80, and UTF-8 continuation bytes
    * are ≥ 0x80, so a byte scan can never split inside a multi-byte
    * character.
    */
  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** Whitespace token count: the number of maximal non-`\s` byte runs
    * — value-identical to `size(filter(split(text, "\\s+"),
    * t => length(t) > 0))` (split's leading-empty token is filtered,
    * trailing empties are dropped by split itself; both equal run
    * counting) but one byte pass with no regex, no array, no lambda.
    * The HOF form is not codegen-fused (ArrayFilter is
    * CodegenFallback) and measured ~13 s of pure token counting at
    * the 100× corpus (q316's r15 extension).
    */
  def tokenCountWs(s: UTF8String): Int = {
    val n = s.numBytes()
    var count = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val ws = isWs(s.getByte(i))
      if (!ws && !inTok) count += 1
      inTok = !ws
      i += 1
    }
    count
  }

  /** Word counts over the `words` tokenizer: maximal `[a-z0-9']+`
    * runs of the lowered text, fed one byte at a time.
    */
  final class WordStats {
    var count = 0L
    var chars = 0L
    var alpha = 0L          // words with a letter in them
    var enStops = 0L        // words in `enStops`, with multiplicity
    var gopherStopMask = 0  // bit i ↔ the i-th sorted gopher key occurs
    // the word being read: length, its last 8 bytes, has a letter
    private var len = 0
    private var key = 0L
    private var hasLetter = false

    /** One byte of the lowered text. */
    @inline def byte(b: Int): Unit =
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == '\'') {
        len += 1
        key = (key << 8) | b
        if (b >= 'a') hasLetter = true
      } else end()

    /** Ends the word being read, if any. */
    def end(): Unit = if (len > 0) {
      count += 1
      chars += len
      if (hasLetter) alpha += 1
      // the stopwords are ≤ 5 letters, which `key` holds exactly
      if (len <= 5) {
        if (java.util.Arrays.binarySearch(enStopKeys, key) >= 0) enStops += 1
        val g = java.util.Arrays.binarySearch(gopherStopKeys, key)
        if (g >= 0) gopherStopMask |= 1 << g
      }
      len = 0
      key = 0L
      hasLetter = false
    }
  }

  /** The counts one [[scanText]] pass takes of a text. */
  final class TextStats {
    var words = new WordStats
    var punct = 0L          // ASCII punctuation, Java's `\p{Punct}`
    var upper = 0L          // [A-Z]
    var digits = 0L         // [0-9]
    var hashes = 0L         // '#'
    var ellipses = 0L       // non-overlapping "..." matches
    var lines = 1L          // `\r?\n`-separated lines
    var bulletLines = 0L    // space-ltrimmed line starts "- " or "* "
    var ellipsisLines = 0L  // space-rtrimmed line ends "..."
  }

  /** English stopwords of the quality features' stopword ratio. */
  val enStops: Seq[String] = Seq("the", "a", "an", "and", "or", "but", "if",
    "then", "is", "are", "was", "were", "be", "been", "of", "to", "in", "on",
    "at", "for", "with", "by", "from", "as", "that", "this", "it", "not",
    "he", "she", "they", "we", "you", "i", "his", "her", "their", "have",
    "has", "had", "do", "does", "did", "will", "would", "can", "could")

  /** The eight Gopher stopwords (Rae et al. 2021, appendix A1.1 —
    * "must contain at least two of" these).
    */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private def key(w: String): Long = w.foldLeft(0L)((k, c) => (k << 8) | c)
  private val enStopKeys = enStops.map(key).sorted.toArray
  private val gopherStopKeys = gopherStops.map(key).sorted.toArray

  @inline private def isPunct(b: Int): Boolean =
    (b >= '!' && b <= '/') || (b >= ':' && b <= '@') ||
      (b >= '[' && b <= '`') || (b >= '{' && b <= '~')

  /** Counts a line `[from, to)` of `s` (its `\n`, and a `\r` before
    * it, excluded) as a bullet and an ellipsis line; like Spark's
    * `ltrim`/`rtrim`, the trims drop spaces only.
    */
  private def endLine(st: TextStats, s: UTF8String, from: Int, to: Int): Unit = {
    var p = from
    while (p < to && s.getByte(p) == ' ') p += 1
    if (p + 1 < to && (s.getByte(p) == '-' || s.getByte(p) == '*') &&
        s.getByte(p + 1) == ' ') st.bulletLines += 1
    var q = to
    while (q > from && s.getByte(q - 1) == ' ') q -= 1
    if (q - from >= 3 && s.getByte(q - 1) == '.' && s.getByte(q - 2) == '.' &&
        s.getByte(q - 3) == '.') st.ellipsisLines += 1
  }

  /** Every count of [[TextStats]] in one UTF-8 pass over `s`. The words
    * are those of `split(lower(s), "[^a-z0-9']+")`: a pure-ASCII text
    * is lowered byte by byte in the same pass; a text with a non-ASCII
    * byte is lowered as Spark's `Lower` lowers it
    * (`CollationSupport.Lower.exec`, `icu` =
    * `spark.sql.icu.caseMappings.enabled`) and its words read from that
    * — U+212A (Kelvin sign) lowers to ASCII `k`, U+0130 to `i` + U+0307.
    * Every other count is of ASCII bytes of `s` itself, which a UTF-8
    * multi-byte character never contains.
    */
  def scanText(s: UTF8String, icu: Boolean): TextStats = {
    val st = new TextStats
    val n = s.numBytes()
    var ascii = true
    var dots = 0
    var lineStart = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i).toInt
      if (b == '.') dots += 1
      else {
        st.ellipses += dots / 3
        dots = 0
        if (b < 0) ascii = false
        else if (b >= 'A' && b <= 'Z') st.upper += 1
        else if (b >= '0' && b <= '9') st.digits += 1
        else if (b == '\n') {
          endLine(st, s, lineStart,
            if (i > lineStart && s.getByte(i - 1) == '\r') i - 1 else i)
          st.lines += 1
          lineStart = i + 1
        }
      }
      if (isPunct(b)) {
        st.punct += 1
        if (b == '#') st.hashes += 1
      }
      st.words.byte(if (b >= 'A' && b <= 'Z') b + 32 else b)
      i += 1
    }
    st.ellipses += dots / 3
    st.words.end()
    endLine(st, s, lineStart, n)
    if (!ascii) {
      st.words = new WordStats
      val low = CollationSupport.Lower.exec(s,
        CollationFactory.UTF8_BINARY_COLLATION_ID, icu)
      val m = low.numBytes()
      var j = 0
      while (j < m) {
        st.words.byte(low.getByte(j).toInt)
        j += 1
      }
      st.words.end()
    }
    st
  }

  /** `qualityFeatures`' struct of `s`: (n_chars, n_words,
    * mean_word_len, stopword_ratio, punct_ratio, upper_ratio,
    * digit_ratio), each ratio over max(1, its denominator).
    */
  def qualityFeatures(s: UTF8String, icu: Boolean): InternalRow = {
    val st = scanText(s, icu)
    val ws = st.words
    val nChars = s.numChars()
    val w = math.max(ws.count, 1L).toDouble
    val c = math.max(nChars, 1).toDouble
    new GenericInternalRow(Array[Any](nChars, ws.count.toInt,
      ws.chars.toDouble / w, ws.enStops.toDouble / w,
      st.punct.toDouble / c, st.upper.toDouble / c, st.digits.toDouble / c))
  }

  /** `gopherRules`' struct of `s`: (n_words, n_word_chars, n_lines), the
    * seven rule flags and `pass`, all integer comparisons.
    */
  def gopherRules(s: UTF8String, icu: Boolean): InternalRow = {
    val st = scanText(s, icu)
    val (w, c, l) = (st.words.count, st.words.chars, st.lines)
    val rules = Seq(
      w >= 50L && w <= 100000L,
      3L * w <= c && c <= 10L * w,
      // Rae et al. A1.1 applies the 0.1 symbol-to-word ratio to the
      // hash symbol and the ellipsis SEPARATELY, not to their sum
      10L * st.hashes <= w && 10L * st.ellipses <= w,
      10L * st.bulletLines <= 9L * l,
      10L * st.ellipsisLines <= 3L * l,
      5L * st.words.alpha >= 4L * w,
      Integer.bitCount(st.words.gopherStopMask) >= 2)
    new GenericInternalRow((Seq[Any](w, c, l) ++ rules :+ rules.forall(identity)).toArray)
  }
}
