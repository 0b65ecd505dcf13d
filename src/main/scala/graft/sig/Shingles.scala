package graft.sig

import graft.DedupConfig
import graft.hash.{Utf8Buffer, XXH64}
import graft.norm.TextNorm

/** Hashed k-shingle derivation — the single source of truth for the
  * signature stage's shingle identity (DedupPipeline.signDoc), the
  * boilerplate-df operator (Boilerplate.shingleDf), and any future consumer
  * that must agree bit-for-bit with the persisted `03_sig.shingles` arrays.
  *
  * Shingle identity is the xxh64 hash-combine of the per-token hashes — a
  * deterministic injective-modulo-collision encoding of the reference's
  * string shingles (minhash_model.py:79-85) with no per-shingle string
  * allocation.
  */
object Shingles {

  /** Seed for per-token hashing (historical alias:
    * DedupPipeline.ShingleHashSeed).
    */
  final val HashSeed = 0x5EED5EEDL

  /** Sorted distinct xxh64 hashes of the word k-shingles of `toks`. */
  def fromTokens(toks: Array[String], k: Int): Array[Long] = {
    val utf8 = new Utf8Buffer
    val tokHashes = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val len = utf8.encode(toks(i))
      tokHashes(i) = XXH64.hash(utf8.bytes, 0, len, HashSeed)
      i += 1
    }
    val nSh = if (k <= 1) toks.length else math.max(0, toks.length - k + 1)
    val hashes = new Array[Long](nSh)
    i = 0
    while (i < nSh) {
      hashes(i) = if (k <= 1) tokHashes(i) else XXH64.hashLongs(tokHashes, i, i + k, k.toLong)
      i += 1
    }
    sortedDistinct(hashes)
  }

  /** Sort `xs` in place (signed order) and return its distinct values. */
  private[graft] def sortedDistinct(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var m = 0
    var i = 0
    while (i < xs.length) {
      if (m == 0 || xs(i) != xs(m - 1)) { xs(m) = xs(i); m += 1 }
      i += 1
    }
    if (m == xs.length) xs else java.util.Arrays.copyOf(xs, m)
  }

  /** The signature stage's exact token chain (text_preproc.py:126-151 via
    * simhashTokens minus the default stopwords), then `fromTokens`. Equals
    * the persisted `03_sig.shingles` array of the same normalized text under
    * the same config (asserted in BoilerplateSpec).
    */
  def ofNormText(normText: String, conf: DedupConfig): Array[Long] =
    fromTokens(
      TextNorm.simhashTokens(normText, conf.minTokenLen)
        .filterNot(TextNorm.DefaultStopwords),
      conf.shingleSize)
}
