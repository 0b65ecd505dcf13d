package graft

import graft.hash.{Blake2b, Utf8Buffer, XXH64}
import graft.sig.{MinHashSig, Shingles, SimHash}
import java.nio.charset.StandardCharsets.UTF_8
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Bit-identity of the allocation-free signing kernels against the
  * allocating originals in `LegacyTextKernels` (ScalaCheck properties with
  * a fixed seed).
  */
class HashKernelPropsSpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 2000): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(n).withInitialSeed(Seed(7L)), p)
    assert(res.passed, res.status.toString)
  }

  private val P = MinHashSig.MersennePrime

  private val bytes: Gen[Array[Byte]] =
    Gen.choose(0, 300).flatMap(n => Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue)))

  /** Strings with surrogate pairs, lone surrogates and multi-byte chars. */
  private val text: Gen[String] = {
    val unit = Gen.frequency(
      4 -> Gen.choose('a', 'z').map(_.toString),
      1 -> Gen.choose('\u0080', '\u07FF').map(_.toString),
      1 -> Gen.choose('\u0800', '\uD7FF').map(_.toString),
      1 -> Gen.choose(0x10000, 0x10FFFF).map(cp => new String(Character.toChars(cp))),
      1 -> Gen.choose('\uD800', '\uDFFF').map(_.toString))
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, unit)).map(_.mkString)
  }

  test("BLAKE2b matches the RFC 7693 digest for every length 0-300 (128/129-byte block edge)") {
    val rng = new java.util.SplittableRandom(1L)
    (0 to 300).foreach { n =>
      val d = new Array[Byte](n)
      rng.nextBytes(d)
      assert(Blake2b.digest(d, 16).sameElements(LegacyTextKernels.blake2b(d, 16)), s"length $n")
    }
    check(Prop.forAll(bytes, Gen.choose(1, 64)) { (d, size) =>
      Blake2b.digest(d, size).sameElements(LegacyTextKernels.blake2b(d, size))
    })
  }

  test("Hasher.hash128 over a buffer slice reads the 16-byte digest big-endian") {
    val hasher = new Blake2b.Hasher
    check(Prop.forAll(bytes, Gen.choose(0, 20)) { (d, pad) =>
      val buf = new Array[Byte](pad + d.length + 3)
      System.arraycopy(d, 0, buf, pad, d.length)
      hasher.hash128(buf, pad, d.length)
      val want = java.nio.ByteBuffer.wrap(LegacyTextKernels.blake2b(d, 16))
      hasher.hi == want.getLong(0) && hasher.lo == want.getLong(8)
    })
  }

  test("multiplyHigh reduction equals the 32-bit-limb mulmod61") {
    val special = Gen.oneOf(0L, 1L, P - 1, P, 1L << 61)
    val operand = Gen.frequency(1 -> special, 4 -> Gen.choose(0L, 1L << 61))
    val addend = Gen.frequency(1 -> Gen.oneOf(0L, 1L, P - 1), 4 -> Gen.choose(0L, P - 1))
    check(Prop.forAll(operand, operand) { (a, b) =>
      MinHashSig.mulAddMod61(a, b, 0L) == LegacyTextKernels.mulmod61(a, b)
    }, 20000)
    // update() reduces the raw 64-bit element hash first: any Long, -1L included
    val element = Gen.frequency(1 -> Gen.oneOf(-1L, Long.MinValue, Long.MaxValue, 0L, P), 4 -> Gen.long)
    check(Prop.forAll(operand, element, addend) { (a, x, c) =>
      MinHashSig.mulAddMod61(a, MinHashSig.modp(x), c) ==
        LegacyTextKernels.modp(LegacyTextKernels.mulmod61(a, LegacyTextKernels.modp(x)) + c)
    }, 20000)
  }

  test("permutation-major MinHash signature equals the per-element fold") {
    val (as, bs) = MinHashSig.permutations(64, 13L)
    val hashes = Gen.containerOf[Array, Long](Gen.frequency(
      1 -> Gen.oneOf(-1L, Long.MinValue, Long.MaxValue, 0L, P, P - 1), 6 -> Gen.long))
    check(Prop.forAll(hashes) { xs =>
      MinHashSig.signature(xs, as, bs).sameElements(LegacyTextKernels.minhash(xs, as, bs))
    }, 500)
  }

  test("primitive sort + dedup equals distinct.sorted") {
    val hashes = Gen.oneOf(
      Gen.containerOf[Array, Long](Gen.choose(-5L, 5L)),
      Gen.containerOf[Array, Long](Gen.oneOf(Gen.long, Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L))))
    check(Prop.forAll(hashes) { xs =>
      Shingles.sortedDistinct(xs.clone()).sameElements(LegacyTextKernels.distinctSorted(xs))
    })
  }

  test("SimHash voting equals the boxed-count original") {
    val tokens = Gen.listOf(Gen.frequency(3 -> Gen.oneOf("a", "bb", "the", "x\u00E9"), 1 -> text,
      1 -> Gen.choose(100, 200).map(n => "w" * n))).map(_.toArray)
    check(Prop.forAll(tokens, Gen.oneOf(1, 3, 255), Gen.oneOf(64, 100, 128)) { (toks, w, bits) =>
      val s = SimHash.fromTokens(toks, w, bits)
      (s.hi, s.lo) == LegacyTextKernels.simhash(toks, w, bits)
    })
  }

  test("Utf8Buffer and the shingle hashes equal the String.getBytes path") {
    val buf = new Utf8Buffer
    check(Prop.forAll(text) { s =>
      val n = buf.encode(s)
      val want = s.getBytes(UTF_8)
      java.util.Arrays.equals(buf.bytes, 0, n, want, 0, want.length) &&
        XXH64.hash(buf.bytes, 0, n, Shingles.HashSeed) == XXH64.hashString(s, Shingles.HashSeed)
    })
    check(Prop.forAll(Gen.listOf(text).map(_.toArray), Gen.choose(1, 4)) { (toks, k) =>
      val th = toks.map(t => XXH64.hashString(t, Shingles.HashSeed))
      val sh = if (k <= 1) th else Array.tabulate(math.max(0, th.length - k + 1))(i =>
        XXH64.hashLongs(th, i, i + k, k.toLong))
      Shingles.fromTokens(toks, k).sameElements(LegacyTextKernels.distinctSorted(sh))
    }, 500)
  }
}
