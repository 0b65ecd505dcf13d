package perfbench

import graft.model.Schemas.Page
import graft.pages.PagesSource
import graft.pages.PagesSource.{DetRng, mix64}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded page generators with planted-duplicate truth tables.
  *
  * Every page follows the record corpora's recipe (ScalingBench): a short
  * family snippet, run through `PagesSource.transform` for the variant
  * kind, followed by filler blocks that every member of the family shares.
  * What differs per workload is where the filler comes from:
  *
  *  - independent draws (`mixture = None`): two families share a block with
  *    probability ~0, so candidate pairs are family-only;
  *  - the shared-stride mixture (`mixture = Some((s, pool))`): family `f` starts at
  *    pool slot `h(f)` and takes blocks `h, h+s, h+2s, ...`, so families
  *    whose start slots differ by a small multiple of `s` share most of
  *    their filler ("mixture siblings"). Their Jaccard lands between the
  *    LSH threshold and the vote thresholds, which is what sends pairs to
  *    the embedding and span learners.
  *
  * Everything is a pure function of (seed, family id, member index), so a
  * seed names its input exactly, whatever the partitioning.
  */
object Workloads {

  /** @param families     base documents; each yields 1 + `variants` pages
    * @param snippetWords words in the transformed family snippet
    * @param blocks       filler blocks appended to every member
    * @param blockWords   words per filler block
    * @param mixture      (stride, pool size) of the shared-stride mixture, or
    *                     None for independently drawn filler
    */
  final case class Recipe(families: Int, variants: Int, snippetWords: Int,
                          blocks: Int, blockWords: Int, mixture: Option[(Int, Long)])

  /** The family ids of one run: `base` is what the full pipeline dedups;
    * the batch ids make a ~10% new crawl for incremental ingest.
    */
  final case class Input(base: Seq[Long], recipe: Recipe, seed: Long,
                         batchRefetch: Seq[Long], batchNear: Seq[Long], batchFresh: Seq[Long]) {
    def basePages: Int = base.size * (1 + recipe.variants)
  }

  // ---- text ----

  private val Syllables = Array("ba", "ce", "di", "fo", "gu", "ka", "le", "mi", "no", "pu",
    "ra", "se", "ti", "vo", "wu", "za", "ko", "ne", "ri", "ta", "shu", "lo", "me", "ju")

  /** Fixed 16k-word vocabulary (independent of the seed). */
  private val Vocab: Array[String] = Array.tabulate(1 << 14) { i =>
    var h = mix64(i.toLong + 0x5EEDL)
    val n = 2 + (h & 3).toInt
    val sb = new StringBuilder
    var k = 0
    while (k < n) { h = mix64(h); sb.append(Syllables((h >>> 33).toInt % Syllables.length)); k += 1 }
    sb.toString
  }

  /** Sentences of skewed-frequency words with capitals, commas and the
    * occasional number, so normalization does representative work.
    */
  private def prose(rng: DetRng, words: Int): String = {
    val sb = new StringBuilder(words * 8)
    var i = 0
    var inSentence = 0
    while (i < words) {
      val u = rng.nextDouble()
      val w = Vocab((u * u * Vocab.length).toInt)
      if (inSentence == 0) sb.append(w.head.toUpper).append(w, 1, w.length) else sb.append(w)
      inSentence += 1
      val r = rng.nextInt(100)
      if (inSentence >= 8 && r < 15) { sb.append(". "); inSentence = 0 }
      else if (r < 6) sb.append(", ")
      else if (r < 8) sb.append(' ').append(rng.nextInt(10000)).append(' ')
      else sb.append(' ')
      i += 1
    }
    sb.append('.').toString
  }

  private def block(seed: Long, slot: Long, words: Int): String =
    prose(new DetRng(mix64(seed * 0x9E37L + slot)), words)

  /** Variant kind of member `k` (1..variants) of family `id`: the
    * `PagesSource.fromDocuments` cycle over the seven transform kinds.
    */
  def kindOf(seed: Long, id: Long, k: Int): Int =
    java.lang.Long.remainderUnsigned(mix64(seed ^ (id * 7L + k)), 7L).toInt

  private def filler(r: Recipe, seed: Long, id: Long): String = {
    val slots = r.mixture match {
      case None => (1 to r.blocks).map(j => mix64(seed ^ (id * 1000003L + j)))
      case Some((stride, pool)) =>
        val h = java.lang.Long.remainderUnsigned(mix64(seed + 31L * id), pool)
        (1 to r.blocks).map(j => (h + j.toLong * stride) % pool)
    }
    slots.map(block(seed, _, r.blockWords)).mkString(" ")
  }

  private def site(id: Long): Int = (id % 20).toInt

  private def page(id: Long, suffix: String, text: String, ts: Long): Page =
    Page(s"https://site${site(id)}.example/doc/$id$suffix",
      new java.sql.Timestamp(1704067200000L + id * 60000L + ts),
      PagesSource.htmlWrap(s"doc $id$suffix", text, site(id)), text, "en")

  private def snippet(r: Recipe, seed: Long, id: Long): String =
    prose(new DetRng(mix64(seed * 131L + id)), r.snippetWords)

  /** Base page plus its variants for family `id`. */
  def family(r: Recipe, seed: Long, id: Long): Seq[Page] = {
    val snip = snippet(r, seed, id)
    val fill = filler(r, seed, id)
    page(id, "", snip + " " + fill, 0L) +: (1 to r.variants).map { k =>
      val t = PagesSource.transform(snip, kindOf(seed, id, k), new DetRng(mix64(id * 31L + k + seed)))
      page(id, s"/v$k", t + " " + fill, k * 1000L)
    }
  }

  /** An exact refetch: the base page's text under a new url. */
  def refetch(r: Recipe, seed: Long, id: Long): Page =
    page(id, "/refetch", snippet(r, seed, id) + " " + filler(r, seed, id), 7000L)

  /** A near variant (transform kind 5, token edits) of a base family. */
  def near(r: Recipe, seed: Long, id: Long): Page = {
    val t = PagesSource.transform(snippet(r, seed, id), 5, new DetRng(mix64(id * 37L + seed)))
    page(id, "/near", t + " " + filler(r, seed, id), 8000L)
  }

  def build(r: Recipe, seed: Long): Input = {
    val base = (0L until r.families.toLong)
    // ~10% new pages: a third exact refetches, a third near variants of
    // base pages, a third fresh families
    val third = math.max(1, r.families * (1 + r.variants) / 30)
    val pick = base.filter(id => java.lang.Long.remainderUnsigned(mix64(seed ^ ~id), 5L) == 0L)
    val refetch = pick.take(third)
    val near = pick.drop(third).take(third)
    val fresh = (r.families.toLong until r.families.toLong + math.max(1, third / (1 + r.variants)))
    Input(base, r, seed, refetch, near, fresh)
  }

  def baseDataset(spark: SparkSession, in: Input, slices: Int): Dataset[Page] = {
    import spark.implicits._
    val r = in.recipe; val seed = in.seed
    spark.createDataset(in.base).repartition(slices).flatMap(id => family(r, seed, id))
  }

  def batchDataset(spark: SparkSession, in: Input, slices: Int): Dataset[Page] = {
    import spark.implicits._
    val r = in.recipe; val seed = in.seed
    val tagged = in.batchRefetch.map((_, 0)) ++ in.batchNear.map((_, 1)) ++ in.batchFresh.map((_, 2))
    spark.createDataset(tagged).repartition(slices).flatMap {
      case (id, 0) => Seq(refetch(r, seed, id))
      case (id, 1) => Seq(near(r, seed, id))
      case (id, _) => family(r, seed, id)
    }
  }

  private def familyUrls(in: Input, id: Long): Seq[String] = {
    val base = s"https://site${site(id)}.example/doc/$id"
    base +: (1 to in.recipe.variants).filter(k => kindOf(in.seed, id, k) != 6).map(k => s"$base/v$k")
  }

  private def allPairs(urls: Seq[String]): Seq[(String, String)] =
    for (i <- urls.indices; j <- (i + 1) until urls.size) yield (urls(i), urls(j))

  /** Planted duplicate pairs of the base corpus: members of one family
    * whose variant kind is not 6 (the heavy rewrite).
    */
  def baseTruth(in: Input): Seq[(String, String)] = in.base.flatMap(id => allPairs(familyUrls(in, id)))

  /** Planted pairs the batch adds: each refetch / near page with its base
    * page, plus the fresh families' own pairs.
    */
  def batchTruth(in: Input): Seq[(String, String)] = {
    def b(id: Long) = s"https://site${site(id)}.example/doc/$id"
    in.batchRefetch.map(id => (b(id), b(id) + "/refetch")) ++
      in.batchNear.map(id => (b(id), b(id) + "/near")) ++
      in.batchFresh.flatMap(id => allPairs(familyUrls(in, id)))
  }
}
