package graft.hash

/** BLAKE2b — implemented from RFC 7693 (public specification).
  *
  * The reference's SimHash fallback hashes each token with
  * `hashlib.blake2b(token, digest_size=16)` and interprets the hex digest as
  * a big-endian 128-bit integer (the reference's
  * `src/Learners/simhash_model.py:109-121`). This is a from-scratch JVM
  * port of the algorithm (unkeyed, variable digest size) so the engine
  * reproduces those fingerprints exactly.
  *
  * `Hasher` is the allocation-free form the signer uses: it owns the
  * chain value and message block, keeps the 16-word work vector in locals,
  * and returns the 128-bit fingerprint in two fields. A token of up to
  * 128 bytes (nearly every token) is a single compression.
  */
object Blake2b {

  private val IV: Array[Long] = Array(
    0x6A09E667F3BCC908L, 0xBB67AE8584CAA73BL, 0x3C6EF372FE94F82BL,
    0xA54FF53A5F1D36F1L, 0x510E527FADE682D1L, 0x9B05688C2B3E6C1FL,
    0x1F83D9ABFB41BD6BL, 0x5BE0CD19137E2179L)

  /** The ten message schedules, row after row. */
  private val SIGMA: Array[Int] = Array(
    0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
    14, 10, 4, 8, 9, 15, 13, 6, 1, 12, 0, 2, 11, 7, 5, 3,
    11, 8, 12, 0, 5, 2, 15, 13, 10, 14, 3, 6, 7, 1, 9, 4,
    7, 9, 3, 1, 13, 12, 11, 14, 2, 6, 5, 10, 4, 0, 15, 8,
    9, 0, 5, 7, 2, 4, 10, 15, 14, 1, 11, 12, 6, 8, 3, 13,
    2, 12, 6, 10, 0, 11, 8, 3, 4, 13, 7, 5, 15, 14, 1, 9,
    12, 5, 1, 15, 14, 13, 4, 10, 0, 7, 6, 3, 9, 2, 8, 11,
    13, 11, 7, 14, 12, 1, 3, 9, 5, 0, 15, 4, 8, 6, 2, 10,
    6, 15, 14, 9, 11, 3, 0, 8, 12, 2, 13, 7, 1, 4, 10, 5,
    10, 2, 8, 4, 7, 6, 1, 5, 15, 11, 9, 14, 3, 12, 13, 0)

  @inline private def rotr(x: Long, n: Int): Long = java.lang.Long.rotateRight(x, n)

  /** Reusable single-thread BLAKE2b state. */
  final class Hasher {
    private val h = new Array[Long](8)
    private val m = new Array[Long](16)

    /** The first and last 8 bytes of the last `hash128` digest, big-endian. */
    var hi = 0L
    var lo = 0L

    /** 128-bit token fingerprint of `data(off until off + len)`, matching
      * the reference's `int(blake2b(tok, digest_size=16).hexdigest(), 16)`.
      */
    def hash128(data: Array[Byte], off: Int, len: Int): Unit = {
      run(data, off, len, 16)
      hi = java.lang.Long.reverseBytes(h(0))
      lo = java.lang.Long.reverseBytes(h(1))
    }

    /** Unkeyed digest of `data` with output length `digestSize` bytes. */
    def digest(data: Array[Byte], digestSize: Int): Array[Byte] = {
      require(digestSize >= 1 && digestSize <= 64)
      run(data, 0, data.length, digestSize)
      Array.tabulate(digestSize)(i => (h(i / 8) >>> (8 * (i % 8))).toByte)
    }

    private def run(data: Array[Byte], off: Int, len: Int, digestSize: Int): Unit = {
      System.arraycopy(IV, 0, h, 0, 8)
      h(0) ^= 0x01010000L ^ digestSize.toLong // param block: digest len, fanout=1, depth=1
      var pos = off
      val end = off + len
      while (end - pos > 128) {
        compress(data, pos, pos + 128, (pos - off + 128).toLong, last = false)
        pos += 128
      }
      compress(data, pos, end, len.toLong, last = true)
    }

    /** Compress `b(from until to)`, zero-padded to one 128-byte block;
      * `t` is the byte count so far (low 64 bits; the high word is 0).
      */
    private def compress(b: Array[Byte], from: Int, to: Int, t: Long, last: Boolean): Unit = {
      var i = 0
      while (i < 16) {
        val p = from + 8 * i
        var x = 0L
        var j = math.min(p + 8, to) - 1
        while (j >= p) { x = (x << 8) | (b(j) & 0xFFL); j -= 1 }
        m(i) = x
        i += 1
      }
      var v0 = h(0); var v1 = h(1); var v2 = h(2); var v3 = h(3)
      var v4 = h(4); var v5 = h(5); var v6 = h(6); var v7 = h(7)
      var v8 = IV(0); var v9 = IV(1); var v10 = IV(2); var v11 = IV(3)
      var v12 = IV(4) ^ t; var v13 = IV(5)
      var v14 = if (last) ~IV(6) else IV(6)
      var v15 = IV(7)
      var r = 0
      while (r < 12) {
        val s = (r % 10) * 16
        // G(a, b, c, d, x, y) over the columns, then the diagonals
        v0 += v4 + m(SIGMA(s)); v12 = rotr(v12 ^ v0, 32); v8 += v12; v4 = rotr(v4 ^ v8, 24)
        v0 += v4 + m(SIGMA(s + 1)); v12 = rotr(v12 ^ v0, 16); v8 += v12; v4 = rotr(v4 ^ v8, 63)
        v1 += v5 + m(SIGMA(s + 2)); v13 = rotr(v13 ^ v1, 32); v9 += v13; v5 = rotr(v5 ^ v9, 24)
        v1 += v5 + m(SIGMA(s + 3)); v13 = rotr(v13 ^ v1, 16); v9 += v13; v5 = rotr(v5 ^ v9, 63)
        v2 += v6 + m(SIGMA(s + 4)); v14 = rotr(v14 ^ v2, 32); v10 += v14; v6 = rotr(v6 ^ v10, 24)
        v2 += v6 + m(SIGMA(s + 5)); v14 = rotr(v14 ^ v2, 16); v10 += v14; v6 = rotr(v6 ^ v10, 63)
        v3 += v7 + m(SIGMA(s + 6)); v15 = rotr(v15 ^ v3, 32); v11 += v15; v7 = rotr(v7 ^ v11, 24)
        v3 += v7 + m(SIGMA(s + 7)); v15 = rotr(v15 ^ v3, 16); v11 += v15; v7 = rotr(v7 ^ v11, 63)
        v0 += v5 + m(SIGMA(s + 8)); v15 = rotr(v15 ^ v0, 32); v10 += v15; v5 = rotr(v5 ^ v10, 24)
        v0 += v5 + m(SIGMA(s + 9)); v15 = rotr(v15 ^ v0, 16); v10 += v15; v5 = rotr(v5 ^ v10, 63)
        v1 += v6 + m(SIGMA(s + 10)); v12 = rotr(v12 ^ v1, 32); v11 += v12; v6 = rotr(v6 ^ v11, 24)
        v1 += v6 + m(SIGMA(s + 11)); v12 = rotr(v12 ^ v1, 16); v11 += v12; v6 = rotr(v6 ^ v11, 63)
        v2 += v7 + m(SIGMA(s + 12)); v13 = rotr(v13 ^ v2, 32); v8 += v13; v7 = rotr(v7 ^ v8, 24)
        v2 += v7 + m(SIGMA(s + 13)); v13 = rotr(v13 ^ v2, 16); v8 += v13; v7 = rotr(v7 ^ v8, 63)
        v3 += v4 + m(SIGMA(s + 14)); v14 = rotr(v14 ^ v3, 32); v9 += v14; v4 = rotr(v4 ^ v9, 24)
        v3 += v4 + m(SIGMA(s + 15)); v14 = rotr(v14 ^ v3, 16); v9 += v14; v4 = rotr(v4 ^ v9, 63)
        r += 1
      }
      h(0) ^= v0 ^ v8; h(1) ^= v1 ^ v9; h(2) ^= v2 ^ v10; h(3) ^= v3 ^ v11
      h(4) ^= v4 ^ v12; h(5) ^= v5 ^ v13; h(6) ^= v6 ^ v14; h(7) ^= v7 ^ v15
    }
  }

  /** Unkeyed BLAKE2b digest of `data` with output length `digestSize` bytes. */
  def digest(data: Array[Byte], digestSize: Int): Array[Byte] = new Hasher().digest(data, digestSize)
}
