package graft

import graft.model.Schemas.{DocNorm, DocSig, Page}
import graft.plans.DedupPipeline
import graft.sig.MinHashSig
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

/** The verify stage's pair join scores every candidate pair exactly as a
  * scalar scorer over the collected signatures does: exact-hash
  * equality, `MinHashSig.jaccardSorted` over the hashed shingle sets (both
  * empty -> 0.0), `Long.bitCount` Hamming over the SimHash words, and
  * `sim_sim` from it — on a corpus of near dups, exact dups, docs whose
  * shingle sets are empty and one empty-text doc. The scores do not depend
  * on the shuffle-partition count.
  */
class VerifyScoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private type Score = (String, String, Boolean, Double, Int, Double)

  private def pages(nFamilies: Int): Dataset[Page] = {
    import spark.implicits._
    val (fam, _) = graft.pages.PagesSource.syntheticCorpus(spark, nFamilies, membersPerFamily = 7)
    // fewer than shingleSize tokens: empty shingle sets with the sentinel
    // signature, so they share every band bucket and pair up; blank text
    // is dropped before normalization and must pair with nothing
    val ts = new java.sql.Timestamp(1704067200000L)
    val odd = Seq("lonely words", "other words", "   ").zipWithIndex.map { case (t, i) =>
      Page(s"https://odd.example/$i", ts, Array.emptyByteArray, t, "en")
    }
    fam.union(spark.createDataset(odd))
  }

  /** (pipeline scores, collected scores) over the same candidate pairs. */
  private def scores(conf: DedupConfig, ps: Dataset[Page]): (Set[Score], Set[Score]) = {
    import spark.implicits._
    val norm = DedupPipeline.normalizeStage(spark, ps)
    val reps = DedupPipeline.repMap(spark, norm)
    val repNorm = norm.join(reps.filter($"url" === $"rep").select($"rep"),
      norm("url") === $"rep").drop("rep").as[DocNorm]
    val sigs = DedupPipeline.signatureStage(spark, repNorm, conf).localCheckpoint()
    val bands = DedupPipeline.bandingStage(spark, sigs, conf)
    val (cands, _) = DedupPipeline.candidateStage(spark, bands, conf)
    val pairs = cands.localCheckpoint()
    val got = DedupPipeline.verifyStage(spark, pairs, sigs, repNorm, conf)
      .collect().map(v => (v.a, v.b, v.exact, v.jaccard, v.hamming, v.sim_sim)).toSet
    val bySig: Map[String, DocSig] = sigs.collect().map(s => s.url -> s).toMap
    val want = pairs.collect().map { p =>
      val (x, y) = (bySig(p.a), bySig(p.b))
      val ham = java.lang.Long.bitCount(x.simhash_hi ^ y.simhash_hi) +
        java.lang.Long.bitCount(x.simhash_lo ^ y.simhash_lo)
      (p.a, p.b, x.exact_hash == y.exact_hash, MinHashSig.jaccardSorted(x.shingles, y.shingles),
        ham, math.max(0.0, 1.0 - ham / conf.simhashBits.toDouble))
    }.toSet
    (got, want)
  }

  test("join scorer == scalar scorer on a mixed corpus (near dups, exact dups, empties)") {
    val (got, want) = scores(DedupConfig.balanced, pages(15))
    assert(got.nonEmpty)
    assert(got == want, s"only-pipeline=${(got -- want).take(3)}, only-scalar=${(want -- got).take(3)}")
    assert(got.exists(s => s._1.startsWith("https://odd.example/") && s._4 == 0.0),
      "the empty-shingle pair was not scored")
    assert(!got.exists(s => s._1 == "https://odd.example/2" || s._2 == "https://odd.example/2"),
      "the blank-text doc reached the verify stage")
    assert(got.exists(_._3) || got.exists(_._4 >= DedupConfig.balanced.thrMinhash),
      "no near or exact duplicate pair was scored")
  }

  test("join scorer is invariant to the shuffle-partition count") {
    val ps = pages(8)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val atDefault = scores(DedupConfig.balanced, ps)._1
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val at3 = scores(DedupConfig.balanced, ps)._1
      assert(at3.nonEmpty && at3 == atDefault)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
