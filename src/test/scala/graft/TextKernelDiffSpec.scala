package graft

import graft.norm.TextNorm
import graft.plans.DedupPipeline
import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite

/** Differential parity of the hand-written text kernels against the regex
  * chain they replaced (`LegacyTextKernels`): `normalize` under every
  * (strict, stripDatesIds) combination, `tokenize`, `countTokens`,
  * `simhashTokens`, and `normalizeDoc`'s `exact_hash`, `content_hash` and
  * `n_tokens`, compared byte for byte on every golden fixture and on over
  * a million seeded adversarial strings.
  */
class TextKernelDiffSpec extends AnyFunSuite {
  import TextKernelDiffSpec._

  test("\\w, \\s and \\d agree with java.util.regex on every code point") {
    val U = Pattern.UNICODE_CHARACTER_CLASS
    val w = Pattern.compile("\\w", U).matcher("")
    val s = Pattern.compile("\\s", U).matcher("")
    val d = Pattern.compile("\\d", U).matcher("")
    val bad = (0 to Character.MAX_CODE_POINT).filter { cp =>
      val str = new String(Character.toChars(cp))
      TextNorm.isWord(cp) != w.reset(str).matches() || TextNorm.isSpace(cp) != s.reset(str).matches() ||
        TextNorm.isDigit(cp) != d.reset(str).matches()
    }
    assert(bad.isEmpty, bad.take(10).map(cp => f"U+$cp%04X").mkString(", "))
  }

  test("Bound's non-spacing-mark rule is subsumed: every gc=Mn code point is \\w") {
    val mn = (0 to Character.MAX_CODE_POINT).filter(Character.getType(_) == Character.NON_SPACING_MARK)
    assert(mn.size > 1000)
    assert(mn.forall(TextNorm.isWord))
  }

  test("only ASCII letters case-fold to the letters of 'page' and 'of'") {
    val folds = (0 to 0xFFFF).filter { c =>
      "pageof".indexOf(Character.toLowerCase(Character.toUpperCase(c.toChar)).toInt) >= 0
    }
    assert(folds.map(_.toChar).sorted.mkString == "AEFGOPaefgop")
  }

  test("every norm, extra-norm and doc golden: 0 diffs against the regex oracle") {
    val inputs = GoldenFixtures.normGolden.flatMap(v => Seq(v.raw, v.norm)) ++
      GoldenFixtures.normExtraGolden.map(_.input) ++
      GoldenFixtures.corpus.map(_.text) ++ GoldenFixtures.goldenDocs.map(_.norm)
    val diffs = inputs.zipWithIndex.flatMap { case (s, i) => compare(s, i) }
    assert(diffs.isEmpty, diffs.take(5).mkString("\n"))
    info(s"0 diffs over ${inputs.size} golden inputs")
  }

  test("1,000,000 seeded adversarial strings: 0 diffs against the regex oracle") {
    val rng = new java.util.SplittableRandom(Seed)
    val diffs = Iterator.range(0, Strings).flatMap(i => compare(randomText(rng), i)).take(5).toList
    assert(diffs.isEmpty, diffs.mkString("\n"))
    info(s"0 diffs over $Strings generated strings (seed $Seed)")
  }
}

object TextKernelDiffSpec {
  private val Seed = 20261017L
  private val Strings = 1000000
  private val Combos = Seq((true, true), (true, false), (false, true), (false, false))

  private def show(s: String): String =
    s.flatMap(c => if (c >= 0x20 && c < 0x7F) c.toString else f"\\u${c.toInt}%04X")

  /** Every mismatch between the kernels and the oracle on `s`; input `i`
    * runs the default normalize plus one other option combination.
    */
  def compare(s: String, i: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    def eq[T](what: String, got: T, want: T): Unit =
      if (got != want) out += s"$what on \"${show(s)}\": got ${show(got.toString)} want ${show(want.toString)}"
    def eqs(what: String, got: Array[String], want: Array[String]): Unit =
      eq(what, got.mkString("|"), want.mkString("|"))

    val norm = LegacyTextKernels.normalize(s)
    eq("normalize", TextNorm.normalize(s), norm)
    val (strict, strip) = Combos(i % Combos.size)
    eq(s"normalize(strict=$strict, stripDatesIds=$strip)", TextNorm.normalize(s, strict, strip),
      LegacyTextKernels.normalize(s, strict, strip))
    eqs("tokenize(norm)", TextNorm.tokenize(norm), LegacyTextKernels.tokenize(norm))
    eqs("tokenize(raw)", TextNorm.tokenize(s, i % 3), LegacyTextKernels.tokenize(s, i % 3))
    eq("countTokens", TextNorm.countTokens(norm), LegacyTextKernels.tokenize(norm).length)
    eqs("simhashTokens(norm)", TextNorm.simhashTokens(norm), LegacyTextKernels.simhashTokens(norm))
    eqs("simhashTokens(raw, strict, stripIds)",
      TextNorm.simhashTokens(s, i % 3, strict = true, stripIds = true),
      LegacyTextKernels.simhashTokens(s, i % 3, strict = true, stripIds = true))
    val doc = DedupPipeline.normalizeDoc("u", s, "en")
    eq("n_tokens", doc.n_tokens, LegacyTextKernels.tokenize(norm).length)
    eq("content_hash", doc.content_hash, LegacyTextKernels.sha256Hex(norm))
    eq("exact_hash", doc.exact_hash, LegacyTextKernels.sha256Hex(TextNorm.canonicalizeExact(norm)))
    eq("exactHash", TextNorm.exactHash(s), LegacyTextKernels.sha256Hex(TextNorm.canonicalizeExact(s)))
    out.result()
  }

  /** Pieces aimed at each pass of the chain and at the character-class
    * edges: line breaks (CRLF, CR, U+2028), BOM, NFKC compatibility forms,
    * soft hyphen and no-break space, CJK, combining marks, non-ASCII
    * digits, 5/6/7-digit runs, dates, page numbers, bullets, rules and
    * hyphen-newline joins (also after supplementary letters that NFKC
    * keeps, such as Deseret and CJK Extension B), surrogate pairs and lone
    * surrogates.
    */
  private val Pieces: Array[String] = Array(
    "\r\n", "\r", "\n", "\n\n", "\r\n\r\n", "\n\r\n", "\u2028", "\u2029", "\u0085", "\uFEFF",
    "\u00AD", "\u00A0", "\u2007", "\u202F", "\u3000", "\u1680", "\t", "\u000B", "\f", "\u001C", "\u001F",
    "\u2013", "\u2014", "\u2018", "\u2019", "\u201C", "\u201D",
    "\uFB01", "\uFB00", "\uFF21", "\uFF50age", "\uFF11\uFF12", "\u2460", "\u00B2", "\u2167", "\u338F", "\u2474",
    "\u00BD", "\u1E9B\u0323", "\u212A", "\u017F",
    "\u4E2D\u6587", "\u65E5\u672C\u8A9E", "\uD55C\uAD6D\uC5B4",
    "e\u0301", "\u0301", "a\u20DD", "\u20DD", "\u0915\u0903", "\u0300\u0301", " \u0301x",
    "\u0660\u0661\u0662\u0663\u0664\u0665", "\u06F0\u06F1\u06F2\u06F3", "\u0966\u0967\u0968\u0969\u096A\u096B\u096C",
    "12345", "123456", "1234567", "0000000000", "2024-01-15", "1999-12-31", "2024-1-15", "12024-01-15",
    "2024-01-155", "\u0662\u0660\u0662\u0664-\u0660\u0661-\u0661\u0665",
    "Page 3 of 10", "page 12", "PAGE 4 OF 5", "Page\t7  of\n9", "page 3 of", "page 3of 4", "pages 3",
    "page 3rd", "page 3 of 10x", "Pag\u00E9 3", "page\u00A03", "page \u0663", "xpage 2", "_page 2", "page 2_",
    "\u2022 ", "\u2023\t", "\u25E6 ", "- ", "* ", "\u00B7 ", "\u2022\n", "-\n", "- \r\n ", "-\n\n",
    "\n--\n", "\n---\n", "\n-\n", "\n--", "--\n", "foo-\nbar", "word-  \r\n  next", "x-\rY", "\u00E9-\n\u00E8",
    "\uD835\uDC00-\nb", "b-\n\uD835\uDC00", "\uD801\uDC00-\nb", "b-\n\uD801\uDC00", "\uD840\uDC00- \r\n\uD840\uDC01",
    "_", "\u200C", "\u200D", "\u203F",
    "\uD835\uDC00", "\uD801\uDCA0\uD801\uDCA1", "\uD83D\uDE00", "\uD800", "\uDC00", "\uDBFF\uDFFF",
    "\u03A3", "\u039F\u0394\u039F\u03A3", "\u0130", "\u01C5", "\u00DF", "\u0149",
    "the ", "and ", "of ", "a ", "to ", "your ", "those ", "been", "x", "ab", "Hello", "world", "Word",
    " ", "  ", ".", ",", "!", "?", "'", "\"", "-", "--", "*", "#", "(", ")", "\u20AC", "%",
    "9", "07", "2024", "01", "-01-", "1-", "\u00B71")

  /** One seeded string: up to 12 pieces, some raw code points between them. */
  def randomText(rng: java.util.SplittableRandom): String = {
    val sb = new java.lang.StringBuilder
    var k = rng.nextInt(13)
    while (k > 0) {
      if (rng.nextInt(5) == 0) sb.appendCodePoint(randomCodePoint(rng))
      else sb.append(Pieces(rng.nextInt(Pieces.length)))
      k -= 1
    }
    sb.toString
  }

  private def randomCodePoint(rng: java.util.SplittableRandom): Int = rng.nextInt(8) match {
    case 0 | 1 => 0x20 + rng.nextInt(0x5F)      // printable ASCII
    case 2 => rng.nextInt(0x20)                  // C0 controls
    case 3 => 0xA0 + rng.nextInt(0x2B0)          // Latin-1 and Latin Extended
    case 4 => 0x300 + rng.nextInt(0x400)         // combining marks, Greek, Cyrillic
    case 5 => rng.nextInt(0x10000)               // any BMP unit, lone surrogates included
    case 6 => 0x2000 + rng.nextInt(0x1000)       // punctuation, symbols, spaces
    case _ => 0x10000 + rng.nextInt(0x100000)    // supplementary
  }
}
