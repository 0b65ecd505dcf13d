package graft

import graft.model.Schemas.Page
import graft.plans.DedupPipeline
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.sql.Timestamp

/** Checkpoint-based resume (north rule): stage outputs persist; a re-run
  * with the same config skips completed stages; a config change recomputes.
  */
class ResumeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def pagesDs = {
    val pages = GoldenFixtures.corpus.take(150).map { d =>
      Page(d.url, new Timestamp(1704067200000L), Array.emptyByteArray, d.text, "en")
    }
    spark.createDataset(pages)(org.apache.spark.sql.Encoders.product[Page])
  }

  private def partMtimes(dir: String): Map[String, Long] = {
    val d = new File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  test("full run is resumable: second run skips all stages and returns identical clusters") {
    val dir = "/tmp/graft_test_resume"
    TestUtil.deleteRecursively(new File(dir))

    val first = DedupPipeline.run(spark, pagesDs, dir, DedupConfig.balanced, resume = true)
      .collect().map(_.toString).sorted
    val sigTimes = partMtimes(s"$dir/03_sig")
    val candTimes = partMtimes(s"$dir/05_cand")
    assert(sigTimes.nonEmpty)

    val second = DedupPipeline.run(spark, pagesDs, dir, DedupConfig.balanced, resume = true)
      .collect().map(_.toString).sorted
    assert(second.toSeq == first.toSeq)
    assert(partMtimes(s"$dir/03_sig") == sigTimes, "signature stage was recomputed on resume")
    assert(partMtimes(s"$dir/05_cand") == candTimes, "candidate stage was recomputed on resume")
  }

  test("mid-pipeline kill resumes from completed stages only") {
    val dir = "/tmp/graft_test_resume_kill"
    TestUtil.deleteRecursively(new File(dir))
    DedupPipeline.run(spark, pagesDs, dir, DedupConfig.balanced, resume = true).count()
    // simulate a crash after stage 04: later outputs lost
    TestUtil.deleteRecursively(new File(s"$dir/05_cand"))
    TestUtil.deleteRecursively(new File(s"$dir/06_verdicts"))
    TestUtil.deleteRecursively(new File(s"$dir/07_clusters"))
    val sigTimes = partMtimes(s"$dir/03_sig")
    val out = DedupPipeline.run(spark, pagesDs, dir, DedupConfig.balanced, resume = true)
    assert(out.count() > 0)
    assert(partMtimes(s"$dir/03_sig") == sigTimes, "completed stage recomputed after crash-resume")
    assert(new File(s"$dir/07_clusters/_SUCCESS").exists())
  }

  test("reliableCheckpoints=true produces identical clusters via durable checkpoint()") {
    val dir = "/tmp/graft_test_resume_reliable"
    val ckDir = "/tmp/graft_test_ckpt_dir"
    TestUtil.deleteRecursively(new File(dir))
    TestUtil.deleteRecursively(new File(ckDir))

    val base = DedupPipeline.run(spark, pagesDs, s"$dir/local", DedupConfig.balanced, resume = false)
      .collect().map(_.toString).sorted

    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      val conf = DedupConfig.balanced.copy(reliableCheckpoints = true)
      val reliable = DedupPipeline.run(spark, pagesDs, s"$dir/reliable", conf, resume = false)
        .collect().map(_.toString).sorted
      assert(reliable.toSeq == base.toSeq)
      // the durable dir was actually used
      val ck = new File(ckDir)
      assert(Option(ck.listFiles()).exists(_.nonEmpty), "no RDD was checkpointed to the durable dir")
    } finally prev.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("a resumed run reports the counters its own stages recorded") {
    val dirA = "/tmp/graft_test_resume_counters_a"
    val dirB = "/tmp/graft_test_resume_counters_b"
    TestUtil.deleteRecursively(new File(dirA))
    TestUtil.deleteRecursively(new File(dirB))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def counters(dir: String): Seq[Long] = {
      val m = mapper.readTree(new File(s"$dir/metrics.json"))
      Seq("dropped_mega_buckets", "emb_wall_ms", "span_wall_ms").map(k => m.get(k).asLong())
    }
    // a tiny bucket cap makes run A drop buckets; run B drops none
    val confA = DedupConfig.balanced.copy(maxBucketSize = 2)
    DedupPipeline.run(spark, pagesDs, dirA, confA, resume = true).count()
    val a = counters(dirA)
    assert(a.head > 0, "run A should drop mega-buckets")
    DedupPipeline.run(spark, pagesDs, dirB, DedupConfig.balanced, resume = true).count()
    assert(counters(dirB).head == 0)
    val candTimes = partMtimes(s"$dirA/05_cand")
    DedupPipeline.run(spark, pagesDs, dirA, confA, resume = true).count()
    assert(partMtimes(s"$dirA/05_cand") == candTimes, "05_cand was recomputed on resume")
    assert(counters(dirA) == a, "resumed run A must report the counters A's stages recorded")
  }

  test("resume rebuilds a stage's lost lineage with the wall it recorded") {
    val dir = "/tmp/graft_test_resume_lineage"
    TestUtil.deleteRecursively(new File(dir))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def stageWalls: Map[String, Long] = {
      val stages = mapper.readTree(new File(s"$dir/metrics.json")).get("stages")
      (0 until stages.size()).map(i => stages.get(i))
        .map(s => s.get("stage").asText() -> s.get("wall_ms").asLong()).toMap
    }
    DedupPipeline.run(spark, pagesDs, dir, DedupConfig.balanced, resume = true).count()
    val walls = stageWalls
    assert(walls.keySet == Set("01_norm", "02_reps", "03_sig", "04_bands", "05_cand", "06_verdicts", "07_clusters"))
    // a crash between the stage marker and its async lineage write
    TestUtil.deleteRecursively(new File(s"$dir/lineage/03_sig"))
    val sigTimes = partMtimes(s"$dir/03_sig")
    DedupPipeline.run(spark, pagesDs, dir, DedupConfig.balanced, resume = true).count()
    assert(partMtimes(s"$dir/03_sig") == sigTimes, "03_sig was recomputed on resume")
    assert(stageWalls == walls, "resumed metrics must list every stage with its recorded wall")
  }

  test("config change invalidates stage outputs") {
    val dir = "/tmp/graft_test_resume_conf"
    TestUtil.deleteRecursively(new File(dir))
    DedupPipeline.run(spark, pagesDs, dir, DedupConfig.balanced, resume = true).count()
    val sigTimes = partMtimes(s"$dir/03_sig")
    DedupPipeline.run(spark, pagesDs, dir, DedupConfig.recall, resume = true).count()
    assert(partMtimes(s"$dir/03_sig") != sigTimes, "config change must recompute stages")
  }
}
