package perfbench

import graft.model.Schemas.Page
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.collection.mutable

/** The 600-doc reference corpus (`fixtures/corpus.jsonl`) and the
  * reference's own clusters for it (`fixtures/golden_clusters.jsonl`),
  * one pair set per candidate mode.
  */
final class Fixture(docs: Seq[(String, String)], goldenPairs: Seq[(String, Seq[(String, String)])]) {

  def pages(spark: SparkSession): Dataset[Page] = {
    import spark.implicits._
    spark.createDataset(docs.map { case (url, text) =>
      Page(url, new java.sql.Timestamp(1704067200000L), Array.emptyByteArray, text, "en")
    })
  }

  /** The first mode whose golden pairs are co-clustered below the gate. */
  def error(assignment: Map[String, String]): Option[String] =
    goldenPairs.flatMap { case (mode, pairs) =>
      val r = Main.recall(assignment, pairs)
      if (r < Main.MinRecall) Some(f"reference fixture recall ($mode) $r%.4f < ${Main.MinRecall}") else None
    }.headOption
}

object Fixture {
  def load(dir: String): Fixture = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def lines(f: String) = {
      val src = scala.io.Source.fromFile(s"$dir/$f", "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(l => mapper.readTree(l)).toList finally src.close()
    }
    val docs = lines("corpus.jsonl").map(n => n.get("url").asText() -> n.get("text").asText())
    val golden = lines("golden_clusters.jsonl").map { n =>
      val it = n.get("members").elements()
      val ms = mutable.ArrayBuffer.empty[String]
      while (it.hasNext) ms += it.next().asText()
      n.get("mode").asText() -> ms.toSeq
    }
    val pairs = golden.groupBy(_._1).toSeq.sortBy(_._1).map { case (mode, cs) =>
      mode -> cs.flatMap { case (_, ms) => for (i <- ms.indices; j <- (i + 1) until ms.size) yield (ms(i), ms(j)) }
    }
    new Fixture(docs, pairs)
  }
}
