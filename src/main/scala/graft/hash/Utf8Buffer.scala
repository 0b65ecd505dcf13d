package graft.hash

/** UTF-8 encoding into a reusable byte buffer, byte-identical to
  * `String.getBytes(UTF_8)`: a lone surrogate encodes as '?'. Lets the
  * signer hash token bytes without one array per token. Single-thread.
  */
final class Utf8Buffer {
  var bytes = new Array[Byte](64)

  /** Encode `s` into `bytes(0 until n)` and return n. */
  def encode(s: String): Int = {
    val n = s.length
    if (bytes.length < 3 * n) bytes = new Array[Byte](math.max(3 * n, 2 * bytes.length))
    val b = bytes
    var j = 0
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c < 0x80) {
        b(j) = c.toByte; j += 1
      } else if (c < 0x800) {
        b(j) = (0xC0 | (c >> 6)).toByte
        b(j + 1) = (0x80 | (c & 0x3F)).toByte
        j += 2
      } else if (!Character.isSurrogate(c)) {
        b(j) = (0xE0 | (c >> 12)).toByte
        b(j + 1) = (0x80 | ((c >> 6) & 0x3F)).toByte
        b(j + 2) = (0x80 | (c & 0x3F)).toByte
        j += 3
      } else if (Character.isHighSurrogate(c) && i + 1 < n && Character.isLowSurrogate(s.charAt(i + 1))) {
        val cp = Character.toCodePoint(c, s.charAt(i + 1))
        b(j) = (0xF0 | (cp >> 18)).toByte
        b(j + 1) = (0x80 | ((cp >> 12) & 0x3F)).toByte
        b(j + 2) = (0x80 | ((cp >> 6) & 0x3F)).toByte
        b(j + 3) = (0x80 | (cp & 0x3F)).toByte
        j += 4
        i += 1
      } else {
        b(j) = '?'; j += 1
      }
      i += 1
    }
    j
  }
}
