package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.text.Normalizer
import java.util.Locale
import java.util.regex.Pattern

/** The regex and allocation-heavy text/signing kernels the engine used to
  * run, kept verbatim as the oracle that the hand-written kernels in
  * `graft.norm.TextNorm`, `graft.hash.Blake2b`, `graft.sig.SimHash`,
  * `graft.sig.Shingles` and `graft.sig.MinHashSig` are byte-compared
  * against (TextKernelDiffSpec, HashKernelPropsSpec).
  *
  * The normalize chain below is the port of the reference's preprocessing
  * (text_preproc.py:70-122) that passed the golden fixtures; do not edit it
  * to make a comparison pass.
  */
object LegacyTextKernels {

  private final val U = Pattern.UNICODE_CHARACTER_CLASS

  private val PageNum =
    Pattern.compile("\\bpage\\s+\\d+(\\s+of\\s+\\d+)?\\b",
      Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE | U)
  private val Hr = Pattern.compile("\\n-{2,}\\n", U)
  private val SoftHyphenEol = Pattern.compile("-\\n", U)
  private val MultiSpace = Pattern.compile("\\s+", U)
  private val DateRe = Pattern.compile("\\b\\d{4}-\\d{2}-\\d{2}\\b", U)
  private val LongId = Pattern.compile("\\b\\d{6,}\\b", U)
  private val SoftHyphenChar = Pattern.compile("\u00AD")
  private val Nbsp = Pattern.compile("\u00A0")
  private val LineHyphen = Pattern.compile("(?<=\\w)-\\s*(?:\\r?\\n|\\r)\\s*(?=\\w)", U)
  private val MultiNl = Pattern.compile("(?:\\r?\\n){2,}", U)
  private val BulletPrefix = Pattern.compile("^[\u2022\u2023\u25E6\\-\\*\u00B7]\\s+",
    Pattern.MULTILINE | Pattern.UNIX_LINES | U)
  private val NonWordSpace = Pattern.compile("[^\\w\\s]", U)
  private val FullDate = Pattern.compile("\\d{4}-\\d{2}-\\d{2}", U)
  private val FullLongId = Pattern.compile("\\d{6,}", U)

  def normalize(text: String, strict: Boolean = true, stripDatesIds: Boolean = true): String = {
    if (text == null || text.isEmpty) return ""
    var t = Normalizer.normalize(text, Normalizer.Form.NFKC)
    t = SoftHyphenChar.matcher(t).replaceAll("")
    t = Nbsp.matcher(t).replaceAll(" ")
    t = t.replace('\u2013', '-').replace('\u2014', '-')
    t = t.replace('\u2018', '\'').replace('\u2019', '\'')
    t = t.replace('\u201C', '"').replace('\u201D', '"')
    t = PageNum.matcher(t).replaceAll(" ")
    t = Hr.matcher(t).replaceAll("\n")
    t = LineHyphen.matcher(t).replaceAll("")
    t = SoftHyphenEol.matcher(t).replaceAll("")
    t = BulletPrefix.matcher(t).replaceAll("")
    t = MultiNl.matcher(t).replaceAll("\n")
    if (strict) t = NonWordSpace.matcher(t).replaceAll(" ")
    if (stripDatesIds) {
      t = DateRe.matcher(t).replaceAll(" ")
      t = LongId.matcher(t).replaceAll(" ")
    }
    MultiSpace.matcher(t).replaceAll(" ").strip().toLowerCase(Locale.ROOT)
  }

  private def pySplit(s: String): Array[String] = {
    val trimmed = s.strip()
    if (trimmed.isEmpty) Array.empty else MultiSpace.split(trimmed)
  }

  def tokenize(normText: String, minLen: Int = 2, removeStopwords: Boolean = true,
               stopwords: Set[String] = graft.norm.TextNorm.DefaultStopwords): Array[String] =
    pySplit(normText).filter(t => t.length >= minLen && !(removeStopwords && stopwords(t)))

  def simhashTokens(text: String, minLen: Int = 2, strict: Boolean = false,
                    stripIds: Boolean = false, stopwords: Set[String] = Set.empty): Array[String] = {
    if (text == null || text.isEmpty) return Array.empty
    var s = text.toLowerCase(Locale.ROOT)
    if (strict) s = NonWordSpace.matcher(s).replaceAll(" ")
    pySplit(s).filter { t =>
      !(stripIds && (FullLongId.matcher(t).matches() || FullDate.matcher(t).matches())) &&
        t.length >= minLen && !stopwords(t)
    }
  }

  def sha256Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(64)
    d.foreach(b => sb.append(f"${b & 0xFF}%02x"))
    sb.toString
  }

  // ---------- signing kernels ----------

  private val IV: Array[Long] = Array(
    0x6A09E667F3BCC908L, 0xBB67AE8584CAA73BL, 0x3C6EF372FE94F82BL,
    0xA54FF53A5F1D36F1L, 0x510E527FADE682D1L, 0x9B05688C2B3E6C1FL,
    0x1F83D9ABFB41BD6BL, 0x5BE0CD19137E2179L)

  private val SIGMA: Array[Array[Int]] = Array(
    Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15),
    Array(14, 10, 4, 8, 9, 15, 13, 6, 1, 12, 0, 2, 11, 7, 5, 3),
    Array(11, 8, 12, 0, 5, 2, 15, 13, 10, 14, 3, 6, 7, 1, 9, 4),
    Array(7, 9, 3, 1, 13, 12, 11, 14, 2, 6, 5, 10, 4, 0, 15, 8),
    Array(9, 0, 5, 7, 2, 4, 10, 15, 14, 1, 11, 12, 6, 8, 3, 13),
    Array(2, 12, 6, 10, 0, 11, 8, 3, 4, 13, 7, 5, 15, 14, 1, 9),
    Array(12, 5, 1, 15, 14, 13, 4, 10, 0, 7, 6, 3, 9, 2, 8, 11),
    Array(13, 11, 7, 14, 12, 1, 3, 9, 5, 0, 15, 4, 8, 6, 2, 10),
    Array(6, 15, 14, 9, 11, 3, 0, 8, 12, 2, 13, 7, 1, 4, 10, 5),
    Array(10, 2, 8, 4, 7, 6, 1, 5, 15, 11, 9, 14, 3, 12, 13, 0))

  private def readLongLE(b: Array[Byte], i: Int, limit: Int): Long = {
    var x = 0L
    var j = 0
    while (j < 8) {
      val idx = i + j
      if (idx < limit) x |= (b(idx) & 0xFFL) << (8 * j)
      j += 1
    }
    x
  }

  private def compress(h: Array[Long], block: Array[Byte], blockOff: Int,
                       blockLimit: Int, t: Long, last: Boolean): Unit = {
    val m = new Array[Long](16)
    var i = 0
    while (i < 16) { m(i) = readLongLE(block, blockOff + 8 * i, blockLimit); i += 1 }
    val v = new Array[Long](16)
    System.arraycopy(h, 0, v, 0, 8)
    System.arraycopy(IV, 0, v, 8, 8)
    v(12) ^= t
    if (last) v(14) = ~v(14)
    def g(a: Int, b: Int, c: Int, d: Int, x: Long, y: Long): Unit = {
      v(a) = v(a) + v(b) + x
      v(d) = java.lang.Long.rotateRight(v(d) ^ v(a), 32)
      v(c) = v(c) + v(d)
      v(b) = java.lang.Long.rotateRight(v(b) ^ v(c), 24)
      v(a) = v(a) + v(b) + y
      v(d) = java.lang.Long.rotateRight(v(d) ^ v(a), 16)
      v(c) = v(c) + v(d)
      v(b) = java.lang.Long.rotateRight(v(b) ^ v(c), 63)
    }
    var r = 0
    while (r < 12) {
      val s = SIGMA(r % 10)
      g(0, 4, 8, 12, m(s(0)), m(s(1)))
      g(1, 5, 9, 13, m(s(2)), m(s(3)))
      g(2, 6, 10, 14, m(s(4)), m(s(5)))
      g(3, 7, 11, 15, m(s(6)), m(s(7)))
      g(0, 5, 10, 15, m(s(8)), m(s(9)))
      g(1, 6, 11, 12, m(s(10)), m(s(11)))
      g(2, 7, 8, 13, m(s(12)), m(s(13)))
      g(3, 4, 9, 14, m(s(14)), m(s(15)))
      r += 1
    }
    i = 0
    while (i < 8) { h(i) ^= v(i) ^ v(i + 8); i += 1 }
  }

  /** RFC 7693 unkeyed BLAKE2b digest (the allocating original). */
  def blake2b(data: Array[Byte], digestSize: Int): Array[Byte] = {
    val h = IV.clone()
    h(0) ^= 0x01010000L ^ digestSize.toLong
    val n = data.length
    if (n > 128) {
      var off = 0
      while (n - off > 128) {
        compress(h, data, off, off + 128, (off + 128).toLong, last = false)
        off += 128
      }
      compress(h, data, off, n, n.toLong, last = true)
    } else {
      compress(h, data, 0, n, n.toLong, last = true)
    }
    val out = new Array[Byte](digestSize)
    var i = 0
    while (i < digestSize) {
      out(i) = ((h(i / 8) >>> (8 * (i % 8))) & 0xFF).toByte
      i += 1
    }
    out
  }

  /** Boxed-count SimHash voting with one digest allocation per token. */
  def simhash(tokens: Array[String], maxWeight: Int = 255, bits: Int = 128): (Long, Long) = {
    if (tokens.isEmpty) return (0L, 0L)
    val counts = new java.util.HashMap[String, Integer]()
    tokens.foreach { t =>
      val prev = counts.get(t)
      counts.put(t, if (prev == null) 1 else prev + 1)
    }
    val v = new Array[Long](bits)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val d = blake2b(e.getKey.getBytes(StandardCharsets.UTF_8), 16)
      var hi = 0L
      var lo = 0L
      var i = 0
      while (i < 8) { hi = (hi << 8) | (d(i) & 0xFFL); i += 1 }
      while (i < 16) { lo = (lo << 8) | (d(i) & 0xFFL); i += 1 }
      val w = math.min(e.getValue.intValue(), maxWeight).toLong
      var b = 0
      while (b < bits) {
        val bit = if (b < 64) (lo >>> b) & 1L else (hi >>> (b - 64)) & 1L
        v(b) += (if (bit == 1L) w else -w)
        b += 1
      }
    }
    var hi = 0L
    var lo = 0L
    var b = 0
    while (b < bits) {
      if (v(b) >= 0L) { if (b < 64) lo |= 1L << b else hi |= 1L << (b - 64) }
      b += 1
    }
    (hi, lo)
  }

  private final val P = (1L << 61) - 1

  def modp(x: Long): Long = {
    var v = (x & P) + (x >>> 61)
    if (v >= P) v -= P
    v
  }

  private def mulPow2(x: Long, k: Int): Long = {
    val kk = k % 61
    modp(((x << kk) & P) + (x >>> (61 - kk)))
  }

  /** The 32-bit-limb a*b mod 2^61-1 (a, b <= 2^61). */
  def mulmod61(a: Long, b: Long): Long = {
    val aHi = a >>> 32
    val aLo = a & 0xFFFFFFFFL
    val bHi = b >>> 32
    val bLo = b & 0xFFFFFFFFL
    var res = modp(aLo * bLo)
    val mid = modp(aHi * bLo) + modp(aLo * bHi)
    res = modp(res + mulPow2(modp(mid), 32))
    modp(res + mulPow2(modp(aHi * bHi), 64))
  }

  /** MinHash signature as the per-element fold the signer used. */
  def minhash(shingleHashes: Array[Long], as: Array[Long], bs: Array[Long]): Array[Long] = {
    val sig = Array.fill(as.length)(P - 1)
    shingleHashes.foreach { x =>
      val h = modp(x)
      as.indices.foreach { i =>
        val v = modp(mulmod61(as(i), h) + bs(i))
        if (v < sig(i)) sig(i) = v
      }
    }
    sig
  }

  /** Boxed sorted distinct, the shingle-set finish the signer used. */
  def distinctSorted(hashes: Array[Long]): Array[Long] = hashes.distinct.sorted
}
