package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DedupConfig.embMaxPairsPerDoc — the per-doc embedding budget (density
  * knob): a non-binding cap is exact parity with the default, a binding
  * cap bounds embedded pairs per anchor with drops counted in metrics.json,
  * and every label difference it introduces is on a pair whose embedding
  * vote was dropped.
  */
class EmbBudgetSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def runWith(conf: DedupConfig, tag: String) = {
    import spark.implicits._
    val (pages, _) = graft.pages.PagesSource.syntheticCorpus(spark, nFamilies = 40, membersPerFamily = 6)
    val dir = s"/tmp/graft_test_embb_$tag"
    TestUtil.deleteRecursively(new java.io.File(dir))
    graft.plans.DedupPipeline.run(spark, pages, dir, conf, resume = false)
    spark.read.parquet(s"$dir/06_verdicts")
      .select($"pair_key", $"a", $"final_label", $"emb_cos")
      .as[(String, String, String, Option[Double])].collect()
      .map { case (k, a, l, c) => k -> ((a, l, c)) }.toMap
  }

  /** The run's `emb_budget_dropped` counter, as metrics.json reports it. */
  private def embDropped(tag: String): Long =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"/tmp/graft_test_embb_$tag/metrics.json"))
      .get("emb_budget_dropped").asLong()

  test("non-binding cap is exact parity; binding cap bounds and only flips emb-dropped pairs") {
    val off = runWith(DedupConfig.balanced, "off")
    val embOff = off.count(_._2._3.isDefined)
    assert(embOff > 0, "corpus must exercise the embedding tiebreak")

    val big = runWith(DedupConfig.balanced.copy(embMaxPairsPerDoc = Some(1000000)), "big")
    assert(big == off, "non-binding budget must be bit-identical to default")

    val zero = runWith(DedupConfig.balanced.copy(embMaxPairsPerDoc = Some(0)), "zero")
    assert(zero.keySet == off.keySet, "budget must not change the candidate/verdict pair set")
    assert(zero.count(_._2._3.isDefined) == 0, "cap=0 must embed nothing")
    assert(embDropped("zero") == embOff.toLong,
      s"drop count must equal the default run's emb pairs: ${embDropped("zero")} vs $embOff")
    assert(embDropped("big") == 0 && embDropped("off") == 0)
    // On corpora where the emb vote is never decisive (cosines below the
    // 0.988 threshold) this set is empty — the invariant is conditional:
    // any flip must be on an emb-dropped pair and can only remove a dup.
    val flipped = zero.filter { case (k, (_, l, _)) => off(k)._2 != l }
    flipped.foreach { case (k, (_, l, _)) =>
      assert(off(k)._3.isDefined, s"flipped pair $k was not emb-scored in the default run")
      assert(l == "NON_DUPLICATE", s"dropped emb vote can only remove dup labels: $k -> $l")
    }
  }

  test("binding cap keeps at most cap embedded pairs per anchor doc") {
    val one = runWith(DedupConfig.balanced.copy(embMaxPairsPerDoc = Some(1)), "one")
    val perAnchor = one.values.filter(_._3.isDefined).groupBy(_._1).map(_._2.size)
    assert(perAnchor.nonEmpty && perAnchor.max <= 1,
      s"anchor exceeded emb budget: max=${if (perAnchor.nonEmpty) perAnchor.max else 0}")
  }
}
