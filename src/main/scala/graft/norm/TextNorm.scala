package graft.norm

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.text.Normalizer
import java.util.Locale
import java.util.regex.Pattern

/** Text normalization — byte-identical port of the reference's
  * preprocessing chain (`src/features/text_preproc.py:20-170` and
  * `src/ensemble/arbiter.py:198-218` of the reference).
  *
  * Parity notes (verified against golden vectors generated from the
  * reference Python in `fixtures/norm_golden.jsonl`):
  *  - Python `re` classes `\w \s \d \b` are Unicode-aware by default; the
  *    port reproduces Java's UNICODE_CHARACTER_CLASS definitions of them
  *    (listed below).
  *  - Python `re.MULTILINE` `^` only matches after `\n` (Java's UNIX_LINES
  *    caret), not after `\r`, U+0085, U+2028 or U+2029.
  *  - `str.lower()` ≈ `toLowerCase(Locale.ROOT)` (both implement the
  *    Unicode full case mapping incl. Final_Sigma).
  *
  * `normalize`, `tokenize` and `simhashTokens` are hand-written linear
  * scanners over a char buffer; none uses java.util.regex. They replace a
  * chain of precompiled UNICODE_CHARACTER_CLASS patterns and give its
  * output byte for byte: the chain is kept as the test oracle
  * (`LegacyTextKernels`) and TextKernelDiffSpec compares the two on the
  * golden fixtures and on over a million seeded adversarial strings.
  *
  * `normalize` pass order, each with the pattern it replaced:
  *  0. NFKC (`java.text.Normalizer`).
  *  1. One mapping copy: drop U+00AD, U+00A0 → ' ',
  *     U+2013/U+2014 → '-', U+2018/U+2019 → '\'', U+201C/U+201D → '"'.
  *  2. `\bpage\s+\d+(\s+of\s+\d+)?\b` → " " (CASE_INSENSITIVE |
  *     UNICODE_CASE; only ASCII letters fold to p/a/g/e/o/f, so the
  *     letters compare as `(c | 0x20) == 'p'`).
  *  3. `\n-{2,}\n` → "\n".
  *  4. `(?<=\w)-\s*(?:\r?\n|\r)\s*(?=\w)` → "": a '-' after a word char,
  *     then a whitespace run holding a line break, then a word char.
  *  5. `-\n` → "".
  *  6. `^[•‣◦\-*·]\s+` → "" (MULTILINE | UNIX_LINES).
  *  7. `(?:\r?\n){2,}` → "\n".
  *  8. One fused pass: `[^\w\s]` → " " (strict), `\b\d{4}-\d{2}-\d{2}\b`
  *     → " " then `\b\d{6,}\b` → " " (stripDatesIds), `\s+` → " ", then
  *     `String.strip` and `toLowerCase(Locale.ROOT)`.
  *
  * Passes 1-7 run in the old order, each a copy-on-first-match scan: every
  * one can create or destroy the next one's matches (a rule dropped by 3
  * can expose a hyphen join for 4, a join can create a `-\n`), so they do
  * not fuse. Pass 8 fuses because its parts cannot interact: strict mode
  * turns every '-' into a space, so no date survives to match; a date is
  * bounded by non-word chars on both sides, so blanking it changes no
  * digit run's `\b`; and every replacement is a space that the `\s+`
  * collapse absorbs.
  *
  * Character classes reproduced (JDK 17 `CharPredicates` and
  * `Pattern.Bound` under UNICODE_CHARACTER_CLASS), on code points:
  *  - `\w`: Alphabetic, gc Mn/Me/Mc/Nd/Pc, or Join_Control (U+200C/D).
  *  - `\s`: gc Zs/Zl/Zp, U+0009-U+000D, or U+0085.
  *  - `\d`: gc Nd (`Character.isDigit`).
  *  - `\b` at i: exactly one of the code points before and at i is a word
  *    char. Bound also counts a non-spacing mark after a base character
  *    as a word char; `\w` already contains every gc=Mn code point, so
  *    that rule never changes a boundary here (pinned per code point in
  *    TextKernelDiffSpec).
  *  - The lookbehind `(?<=\w)` reads the one UTF-16 unit before the '-'
  *    (a low surrogate is never `\w`); the lookahead `(?=\w)` reads a
  *    whole code point.
  *  - `^` (UNIX_LINES caret): position 0 or after '\n', never at the end.
  */
object TextNorm extends Serializable {

  // text_preproc.py:14-17
  val DefaultStopwords: Set[String] = Set(
    "the", "a", "an", "and", "or", "for", "of", "to", "in", "on", "at", "by",
    "with", "from", "as", "is", "are", "was", "were", "be", "been", "it",
    "this", "that", "these", "those", "you", "your")

  private val StopwordArray: Array[String] = DefaultStopwords.toArray

  // text_preproc.py:154-160 (sentenceSplit only)
  private val SentSplit = Pattern.compile("(?<=[.!?])\\s+|\\n+", Pattern.UNICODE_CHARACTER_CLASS)

  // ---------- java.util.regex classes under UNICODE_CHARACTER_CLASS ----------

  private final val WordTypes =
    (1 << Character.NON_SPACING_MARK) | (1 << Character.ENCLOSING_MARK) |
      (1 << Character.COMBINING_SPACING_MARK) | (1 << Character.DECIMAL_DIGIT_NUMBER) |
      (1 << Character.CONNECTOR_PUNCTUATION)
  private final val SpaceTypes =
    (1 << Character.SPACE_SEPARATOR) | (1 << Character.LINE_SEPARATOR) |
      (1 << Character.PARAGRAPH_SEPARATOR)

  /** `\w` */
  private[graft] def isWord(cp: Int): Boolean =
    if (cp < 128) (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') || (cp >= '0' && cp <= '9') || cp == '_'
    else Character.isAlphabetic(cp) || ((WordTypes >> Character.getType(cp)) & 1) != 0 ||
      cp == 0x200C || cp == 0x200D

  /** `\s` */
  private[graft] def isSpace(cp: Int): Boolean =
    if (cp < 128) cp == ' ' || (cp >= 9 && cp <= 13)
    else cp == 0x85 || ((SpaceTypes >> Character.getType(cp)) & 1) != 0

  /** `\d` */
  private[graft] def isDigit(cp: Int): Boolean =
    if (cp < 128) cp >= '0' && cp <= '9' else Character.isDigit(cp)

  /** `\b` at `i` of `a(0 until n)`. */
  private def boundary(a: Array[Char], n: Int, i: Int): Boolean =
    (i > 0 && isWord(Character.codePointBefore(a, i))) != (i < n && isWord(Character.codePointAt(a, i, n)))

  /** End of the `\s` run starting at `i` (whitespace is all BMP). */
  private def spaces(a: Array[Char], n: Int, i: Int): Int = {
    var j = i
    while (j < n && isSpace(a(j))) j += 1
    j
  }

  /** End of the `\d` run starting at `i`, by code point. */
  private def digits(a: Array[Char], n: Int, i: Int): Int = {
    var j = i
    var more = true
    while (more && j < n) {
      val cp = Character.codePointAt(a, j, n)
      if (isDigit(cp)) j += Character.charCount(cp) else more = false
    }
    j
  }

  private def cpCount(a: Array[Char], from: Int, to: Int): Int = Character.codePointCount(a, from, to - from)

  // ---------- normalize ----------

  /** The text being normalized plus a scratch buffer of the same size
    * (no pass lengthens the text). A pass scans `src(0 until n)` and
    * records its replacements with `edit`; the text between them is
    * block-copied, and a pass without matches copies nothing.
    */
  private final class Buf(cap: Int) {
    var src = new Array[Char](cap)
    var dst = new Array[Char](cap)
    var n = 0
    private var out = 0
    private var copied = 0
    private var edited = false

    /** Replace `src(from until to)` by the char `r`, or by nothing if `r < 0`. */
    def edit(from: Int, to: Int, r: Int): Unit = {
      val k = from - copied
      System.arraycopy(src, copied, dst, out, k)
      out += k
      if (r >= 0) { dst(out) = r.toChar; out += 1 }
      copied = to
      edited = true
    }

    /** End a pass: the edited text becomes `src`. */
    def finish(): Unit = {
      if (edited) {
        val k = n - copied
        System.arraycopy(src, copied, dst, out, k)
        val t = src; src = dst; dst = t
        n = out + k
      }
      out = 0; copied = 0; edited = false
    }
  }

  /** normalize_text — text_preproc.py:70-122. */
  def normalize(text: String, strict: Boolean = true, stripDatesIds: Boolean = true): String = {
    if (text == null || text.isEmpty) return ""
    val b = mapChars(Normalizer.normalize(text, Normalizer.Form.NFKC))
    pageNumbers(b)
    rules(b)
    hyphenJoins(b)
    hyphenEols(b)
    bullets(b)
    blankLines(b)
    collapse(b, strict, stripDatesIds)
  }

  /** Pass 1: soft hyphen, no-break space, dashes and curly quotes. */
  private def mapChars(s: String): Buf = {
    val b = new Buf(s.length)
    val a = b.src
    var n = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '\u00AD') {
        a(n) = c match {
          case '\u00A0' => ' '
          case '\u2013' | '\u2014' => '-'
          case '\u2018' | '\u2019' => '\''
          case '\u201C' | '\u201D' => '"'
          case _ => c
        }
        n += 1
      }
      i += 1
    }
    b.n = n
    b
  }

  /** Pass 2: `\bpage\s+\d+(\s+of\s+\d+)?\b` → " ". */
  private def pageNumbers(b: Buf): Unit = {
    val a = b.src
    val n = b.n
    var i = 0
    while (i < n) {
      val end = if ((a(i) | 0x20) == 'p') pageNumberEnd(a, n, i) else -1
      if (end > 0) { b.edit(i, end, ' '); i = end } else i += 1
    }
    b.finish()
  }

  /** End of the page-number match at `i`, or -1. Every repetition is
    * greedy and followed by a char it cannot match, so backtracking only
    * matters once: the optional "of N" group is tried first, then the
    * bare number.
    */
  private def pageNumberEnd(a: Array[Char], n: Int, i: Int): Int = {
    if (i + 4 >= n || (a(i + 1) | 0x20) != 'a' || (a(i + 2) | 0x20) != 'g' ||
      (a(i + 3) | 0x20) != 'e' || !boundary(a, n, i)) return -1
    val d1 = spaces(a, n, i + 4)
    val e1 = digits(a, n, d1)
    if (d1 == i + 4 || e1 == d1) return -1
    val o = spaces(a, n, e1)
    if (o > e1 && o + 1 < n && (a(o) | 0x20) == 'o' && (a(o + 1) | 0x20) == 'f') {
      val d2 = spaces(a, n, o + 2)
      val e2 = digits(a, n, d2)
      if (d2 > o + 2 && e2 > d2 && boundary(a, n, e2)) return e2
    }
    if (boundary(a, n, e1)) e1 else -1
  }

  /** Pass 3: `\n-{2,}\n` → "\n". */
  private def rules(b: Buf): Unit = {
    val a = b.src
    val n = b.n
    var i = 0
    while (i < n) {
      var k = i + 1
      if (a(i) == '\n') while (k < n && a(k) == '-') k += 1
      if (k - i > 2 && k < n && a(k) == '\n') { b.edit(i, k + 1, '\n'); i = k + 1 } else i += 1
    }
    b.finish()
  }

  /** Pass 4: `(?<=\w)-\s*(?:\r?\n|\r)\s*(?=\w)` → "". */
  private def hyphenJoins(b: Buf): Unit = {
    val a = b.src
    val n = b.n
    var i = 1
    while (i < n) {
      var k = i
      // the lookbehind reads one UTF-16 unit: a surrogate half is never \w
      if (a(i) == '-' && isWord(a(i - 1))) {
        var eol = false
        k = i + 1
        while (k < n && isSpace(a(k))) { eol ||= a(k) == '\n' || a(k) == '\r'; k += 1 }
        if (!(eol && k < n && isWord(Character.codePointAt(a, k, n)))) k = i
      }
      if (k > i) { b.edit(i, k, -1); i = k } else i += 1
    }
    b.finish()
  }

  /** Pass 5: `-\n` → "". */
  private def hyphenEols(b: Buf): Unit = {
    val a = b.src
    val n = b.n
    var i = 0
    while (i + 1 < n) {
      if (a(i) == '-' && a(i + 1) == '\n') { b.edit(i, i + 2, -1); i += 2 } else i += 1
    }
    b.finish()
  }

  /** Pass 6: `^[•‣◦\-*·]\s+` → "" at line starts. */
  private def bullets(b: Buf): Unit = {
    val a = b.src
    val n = b.n
    var i = 0
    while (i < n) {
      val k = if ((i == 0 || a(i - 1) == '\n') && isBullet(a(i))) spaces(a, n, i + 1) else i
      if (k > i + 1) { b.edit(i, k, -1); i = k } else i += 1
    }
    b.finish()
  }

  private def isBullet(c: Char): Boolean =
    c == '-' || c == '*' || c == '\u2022' || c == '\u2023' || c == '\u25E6' || c == '\u00B7'

  /** Pass 7: `(?:\r?\n){2,}` → "\n". */
  private def blankLines(b: Buf): Unit = {
    val a = b.src
    val n = b.n
    var i = 0
    while (i < n) {
      var k = i
      var lines = 0
      if (a(i) == '\n' || a(i) == '\r') {
        var more = true
        while (more) {
          if (k < n && a(k) == '\n') { k += 1; lines += 1 }
          else if (k + 1 < n && a(k) == '\r' && a(k + 1) == '\n') { k += 2; lines += 1 }
          else more = false
        }
      }
      if (lines >= 2) { b.edit(i, k, '\n'); i = k } else i += 1
    }
    b.finish()
  }

  /** Pass 8: non-word chars, dates and long ids to spaces, whitespace runs
    * to one space, strip, lowercase.
    */
  private def collapse(b: Buf, strict: Boolean, stripDatesIds: Boolean): String = {
    val a = b.src
    val n = b.n
    val o = b.dst
    var m = 0
    var inSpace = false // o(m - 1) is the space of a whitespace run
    var i = 0
    while (i < n) {
      val cp = Character.codePointAt(a, i, n)
      val w = Character.charCount(cp)
      if (isSpace(cp) || (strict && !isWord(cp))) {
        if (!inSpace) { o(m) = ' '; m += 1; inSpace = true }
        i += w
      } else if (stripDatesIds && isDigit(cp)) {
        // i starts a digit run: runs are always consumed whole
        val end = digits(a, n, i)
        val cut = if (strict) -1 else dateEnd(a, n, i, end)
        val drop = if (cut >= 0) cut
          else if (cpCount(a, i, end) >= 6 && boundary(a, n, i) && boundary(a, n, end)) end
          else -1
        if (drop >= 0) {
          if (!inSpace) { o(m) = ' '; m += 1; inSpace = true }
          i = drop
        } else {
          System.arraycopy(a, i, o, m, end - i)
          m += end - i
          inSpace = false
          i = end
        }
      } else {
        o(m) = a(i)
        if (w == 2) o(m + 1) = a(i + 1)
        m += w
        inSpace = false
        i += w
      }
    }
    var from = 0
    while (from < m && Character.isWhitespace(o(from))) from += 1
    while (m > from && Character.isWhitespace(o(m - 1))) m -= 1
    new String(o, from, m - from).toLowerCase(Locale.ROOT)
  }

  /** End of a `\b\d{4}-\d{2}-\d{2}\b` match whose first digit run is
    * `a(i until e0)`, or -1.
    */
  private def dateEnd(a: Array[Char], n: Int, i: Int, e0: Int): Int = {
    if (cpCount(a, i, e0) != 4 || e0 >= n || a(e0) != '-' || !boundary(a, n, i)) return -1
    val e1 = digits(a, n, e0 + 1)
    if (cpCount(a, e0 + 1, e1) != 2 || e1 >= n || a(e1) != '-') return -1
    val e2 = digits(a, n, e1 + 1)
    if (cpCount(a, e1 + 1, e2) != 2 || !boundary(a, n, e2)) -1 else e2
  }

  // ---------- tokenizers ----------

  /** Python `str.split()`, as the port first wrote it: `String.strip`, then
    * a `\s+` split with `Pattern.split`'s rules (an empty leading piece is
    * kept, trailing empty pieces are dropped). Calls `f(start, end)` per
    * piece.
    */
  private def forEachPiece(s: String)(f: (Int, Int) => Unit): Unit = {
    var from = 0
    var to = s.length
    while (from < to && Character.isWhitespace(s.charAt(from))) from += 1
    while (to > from && Character.isWhitespace(s.charAt(to - 1))) to -= 1
    var start = from
    var i = from
    while (i < to) {
      if (isSpace(s.charAt(i))) {
        var j = i + 1
        while (j < to && isSpace(s.charAt(j))) j += 1
        // a piece before a trailing run is kept only when it is not empty
        if (j < to || i > start) f(start, i)
        start = j
        i = j
      } else i += 1
    }
    if (start < to) f(start, to)
  }

  private def pySplit(s: String): Array[String] = {
    val out = Array.newBuilder[String]
    forEachPiece(s)((from, to) => out += s.substring(from, to))
    out.result()
  }

  /** tokenize_words — text_preproc.py:126-151 (assume_normalized path used
    * by build_document_view: the input is already `normalize` output).
    */
  def tokenize(normText: String, minLen: Int = 2, removeStopwords: Boolean = true,
               stopwords: Set[String] = DefaultStopwords): Array[String] =
    pySplit(normText).filter(t => t.length >= minLen && !(removeStopwords && stopwords(t)))

  /** `tokenize(normText).length`, without building the tokens. */
  def countTokens(normText: String): Int = {
    var count = 0
    forEachPiece(normText) { (from, to) =>
      if (to - from >= 2 && !isDefaultStopword(normText, from, to)) count += 1
    }
    count
  }

  private def isDefaultStopword(s: String, from: Int, to: Int): Boolean =
    StopwordArray.exists(w => w.length == to - from && s.regionMatches(from, w, 0, w.length))

  /** SimHash-side tokenizer — simhash_model.py:55-75 with the learner's
    * defaults: min_len=2, EMPTY stopword set, strict=False, strip_ids=False.
    * Input is the normalized doc text; `.lower()` there is a no-op on it but
    * we keep it for standalone use.
    */
  def simhashTokens(text: String, minLen: Int = 2, strict: Boolean = false,
                    stripIds: Boolean = false, stopwords: Set[String] = Set.empty): Array[String] = {
    if (text == null || text.isEmpty) return Array.empty
    val lower = text.toLowerCase(Locale.ROOT)
    val s = if (strict) nonWordToSpace(lower) else lower
    val out = Array.newBuilder[String]
    forEachPiece(s) { (from, to) =>
      if (to - from >= minLen) {
        val t = s.substring(from, to)
        if (!(stripIds && (isLongIdToken(t) || isDateToken(t))) && !stopwords(t)) out += t
      }
    }
    out.result()
  }

  /** `[^\w\s]` → " ", per code point. */
  private def nonWordToSpace(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (isWord(cp) || isSpace(cp)) sb.appendCodePoint(cp) else sb.append(' ')
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** The whole token matches `\d{6,}`. */
  private def isLongIdToken(t: String): Boolean = {
    val a = t.toCharArray
    digits(a, a.length, 0) == a.length && cpCount(a, 0, a.length) >= 6
  }

  /** The whole token matches `\d{4}-\d{2}-\d{2}`. */
  private def isDateToken(t: String): Boolean = {
    val a = t.toCharArray
    dateEnd(a, a.length, 0, digits(a, a.length, 0)) == a.length
  }

  /** Word k-shingles, space joiner — minhash_model.py:79-85. */
  def wordShingles(tokens: Array[String], k: Int): Array[String] = {
    if (k <= 1) return tokens.clone()
    if (tokens.length < k) return Array.empty
    val out = new Array[String](tokens.length - k + 1)
    var i = 0
    while (i < out.length) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  /** Word k-shingles with U+241F joiner — simhash_model.py:77-82. */
  def wordShinglesUnitSep(tokens: Array[String], k: Int): Array[String] = {
    if (k <= 1) return tokens.clone()
    if (tokens.length - k + 1 <= 0) return Array.empty
    (0 to tokens.length - k).map(i => tokens.slice(i, i + k).mkString("\u241F")).toArray
  }

  /** Overlapping char k-grams — minhash_model.py:87-91. */
  def charShingles(s: String, k: Int): Array[String] = {
    if (s == null || s.isEmpty || k <= 0 || s.length < k) return Array.empty
    (0 to s.length - k).map(i => s.substring(i, i + k)).toArray
  }

  private val FileExt = Pattern.compile("\\.[A-Za-z0-9]{1,6}$")
  private val NonWordRuns = Pattern.compile("[^\\w]+", Pattern.UNICODE_CHARACTER_CLASS)

  /** filename_tokens \u2014 text_preproc.py:163-170: basename (both
    * separators), drop a short extension, non-word runs \u2192 space, strip,
    * lower, keep tokens that are not pure digits and have length >= 2,
    * first 20.
    */
  def filenameTokens(filename: String): Array[String] = {
    if (filename == null || filename.isEmpty) return Array.empty
    var name = filename.substring(filename.lastIndexOf('/') + 1)
    name = name.substring(name.lastIndexOf('\\') + 1)
    name = FileExt.matcher(name).replaceAll("")
    name = NonWordRuns.matcher(name).replaceAll(" ").strip().toLowerCase(Locale.ROOT)
    pySplit(name)
      .filter(t => t.nonEmpty && !t.forall(Character.isDigit) && t.length >= 2)
      .take(20)
  }

  /** drop_repeating_lines \u2014 text_preproc.py:55-67. */
  def dropRepeatingLines(text: String, minCount: Int = 3, maxLen: Int = 120): String = {
    if (text == null || text.isEmpty) return ""
    // Python splitlines() splits on a wider set than \n; our inputs are
    // \n/\r\n/\r only, which it handles identically to this — EXCEPT that
    // splitlines yields no trailing element after a final terminator,
    // while Java's limit=-1 split keeps one: drop it.
    val parts = text.split("\r\n|\r|\n", -1)
    val trimmed =
      if (parts.last.isEmpty && (text.endsWith("\n") || text.endsWith("\r")))
        parts.dropRight(1)
      else parts
    val lines = trimmed.map(_.strip())
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    lines.foreach(ln => if (ln.nonEmpty) counts.update(ln, counts.getOrElse(ln, 0) + 1))
    val repetitive = counts.collect {
      case (ln, c) if c >= minCount && ln.length <= maxLen => ln
    }.toSet
    if (repetitive.isEmpty) lines.mkString("\n")
    else lines.filterNot(repetitive).mkString("\n")
  }

  /** sentence_split \u2014 text_preproc.py:154-160. */
  def sentenceSplit(text: String): Array[String] = {
    if (text == null || text.isEmpty) return Array.empty
    SentSplit.split(text).map(_.strip()).filter(_.nonEmpty)
  }

  /** Exact-duplicate canonicalization \u2014 arbiter.py:198-218 ("unicode_lines"):
    * CRLF/CR → LF, strip leading BOMs, NFC.
    */
  def canonicalizeExact(s: String): String = {
    if (s == null) return ""
    var t = s.replace("\r\n", "\n").replace('\r', '\n')
    while (t.startsWith("\uFEFF")) t = t.substring(1)
    Normalizer.normalize(t, Normalizer.Form.NFC)
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex SHA-256 of the UTF-8 bytes of `s`. */
  private[graft] def sha256Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](64)
    var i = 0
    while (i < 32) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xF)
      out(2 * i + 1) = HexDigits(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** sha256 of canonicalized text \u2014 arbiter.py:212-218. */
  def exactHash(text: String): String = sha256Hex(canonicalizeExact(text))

  /** content_hash \u2014 text_preproc.py:248-253. */
  def contentHash(normText: String): String = sha256Hex(if (normText == null) "" else normText)
}
