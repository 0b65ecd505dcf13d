package graft.sig

import graft.hash.{Blake2b, Utf8Buffer}

/** 128-bit SimHash fingerprint, matching the reference's deterministic
  * fallback implementation (the reference's
  * `src/Learners/simhash_model.py:95-121`): per-token BLAKE2b-128 bit votes,
  * token weights capped at `maxWeight`, final bit i = 1 iff the weighted
  * vote sum is >= 0.
  *
  * The fingerprint is packed as (hi, lo): bit i of the Python bigint maps to
  * lo bit i for i < 64 and hi bit (i-64) for i >= 64.
  */
object SimHash extends Serializable {

  final case class Sig128(hi: Long, lo: Long)

  def fromTokens(tokens: Array[String], maxWeight: Int = 255, bits: Int = 128): Sig128 = {
    if (tokens.isEmpty) return Sig128(0L, 0L)
    require(bits <= 128, s"SimHash bits > 128 not supported (got $bits); the " +
      "reference's 128-bit blake2b hash zero-fills higher bits anyway")
    // token counts in an open-addressing table (power-of-two size, load <= 1/2)
    val mask = Integer.highestOneBit(2 * tokens.length) * 2 - 1
    val keys = new Array[String](mask + 1)
    val counts = new Array[Int](mask + 1)
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      val x = t.hashCode * 0x9E3779B9
      var s = (x ^ (x >>> 16)) & mask
      while (keys(s) != null && keys(s) != t) s = (s + 1) & mask
      if (keys(s) == null) keys(s) = t
      counts(s) += 1
      i += 1
    }
    // A bit's vote is sum(bit ? w : -w) = 2 * ones - total, where ones sums
    // the weights of the tokens whose hash has the bit set: only set bits
    // are visited. Sums commute, so the table's slot order does not matter.
    val ones = new Array[Long](128)
    var total = 0L
    val loMask = if (bits >= 64) -1L else (1L << bits) - 1
    val hiMask = if (bits <= 64) 0L else if (bits == 128) -1L else (1L << (bits - 64)) - 1
    val hasher = new Blake2b.Hasher
    val utf8 = new Utf8Buffer
    var s = 0
    while (s <= mask) {
      if (keys(s) != null) {
        val len = utf8.encode(keys(s))
        hasher.hash128(utf8.bytes, 0, len)
        val w = math.min(counts(s), maxWeight).toLong
        var x = hasher.lo & loMask
        while (x != 0L) { ones(java.lang.Long.numberOfTrailingZeros(x)) += w; x &= x - 1 }
        x = hasher.hi & hiMask
        while (x != 0L) { ones(64 + java.lang.Long.numberOfTrailingZeros(x)) += w; x &= x - 1 }
        total += w
      }
      s += 1
    }
    var hi = 0L
    var lo = 0L
    var b = 0
    while (b < bits) {
      if (2 * ones(b) - total >= 0L) {
        if (b < 64) lo |= 1L << b else hi |= 1L << (b - 64)
      }
      b += 1
    }
    Sig128(hi, lo)
  }

  /** Hamming distance over the low `bits` bits — simhash_model.py:50-53. */
  def hamming(aHi: Long, aLo: Long, bHi: Long, bLo: Long, bits: Int = 128): Int = {
    val loMask = if (bits >= 64) -1L else (1L << bits) - 1
    val hiMask = if (bits <= 64) 0L else if (bits >= 128) -1L else (1L << (bits - 64)) - 1
    java.lang.Long.bitCount((aLo ^ bLo) & loMask) + java.lang.Long.bitCount((aHi ^ bHi) & hiMask)
  }

  /** sim = max(0, 1 - hd/bits) — simhash_model.py:252. */
  def similarity(aHi: Long, aLo: Long, bHi: Long, bLo: Long, bits: Int = 128): Double =
    math.max(0.0, 1.0 - hamming(aHi, aLo, bHi, bLo, bits).toDouble / bits.toDouble)
}
