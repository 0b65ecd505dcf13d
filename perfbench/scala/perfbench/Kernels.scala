package perfbench

import graft.DedupConfig
import graft.model.Schemas.DocNorm
import graft.norm.TextNorm
import graft.plans.DedupPipeline
import graft.sig.{CheapEmbed, MinHashSig}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

/** Single-threaded kernel timings on inputs drawn from the workload:
  * page texts for normalize/sign, candidate pairs of the traced run for
  * jaccard/embed/span. Each kernel gets one warm-up pass, then the median
  * of five timed passes; ops and bytes are per pass.
  */
object Kernels {

  final case class Timing(nsPerPass: Double, ops: Long, bytes: Long)

  private def utf8(s: String): Long = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong

  private def time(ops: Long, bytes: Long)(pass: => Any): Timing = {
    pass
    val ns = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      pass
      (System.nanoTime() - t0).toDouble
    }.sorted
    Timing(ns(2), ops, bytes)
  }

  /** @param texts raw page texts
    * @param pairs candidate pairs as (a norm_text, b norm_text, a shingles, b shingles)
    */
  def run(texts: Seq[String], pairs: Seq[(String, String, Array[Long], Array[Long])],
          conf: DedupConfig): Map[String, Timing] = {
    var sink = 0L
    val norm = time(texts.size, texts.map(utf8).sum) {
      texts.foreach(t => sink += TextNorm.normalize(t).length)
    }
    val docs: Seq[DocNorm] = texts.zipWithIndex.map { case (t, i) => DedupPipeline.normalizeDoc(s"k$i", t, "en") }
    val (as, bs) = MinHashSig.permutations(conf.numPerm, conf.seed)
    val sign = time(docs.size, docs.map(d => utf8(d.norm_text)).sum) {
      docs.foreach(d => sink += DedupPipeline.signDoc(d, conf, as, bs).n_shingles)
    }
    val arrays = pairs.map { case (_, _, a, b) =>
      (UnsafeArrayData.fromPrimitiveArray(a), UnsafeArrayData.fromPrimitiveArray(b))
    }
    val jac = time(pairs.size, pairs.map { case (_, _, a, b) => 8L * (a.length + b.length) }.sum) {
      arrays.foreach { case (a, b) => sink += (graft.expr.JaccardSorted.compute(a, b) * 1000).toLong }
    }
    val embTexts = pairs.flatMap { case (a, b, _, _) => Seq(a, b) }.distinct
    val emb = time(embTexts.size, embTexts.map(utf8).sum) {
      embTexts.foreach(t => sink += CheapEmbed.embed(t, conf.embedDim).length)
    }
    val cap = conf.spanMaxTextChars
    val spanPairs = pairs.map { case (a, b, _, _) => (a.take(cap), b.take(cap)) }
    val ws = new graft.sa.SuffixAutomaton.Workspace(cap)
    val span = time(spanPairs.size, spanPairs.map { case (a, b) => utf8(a) + utf8(b) }.sum) {
      spanPairs.foreach { case (a, b) => sink += graft.sa.SuffixAutomaton.lcs(a, b, ws) }
    }
    if (sink == 42L) System.err.println("") // keeps the kernel results live
    Map("normalize" -> norm, "sign" -> sign, "jaccard" -> jac, "embed" -> emb, "span_lcs" -> span)
  }
}
