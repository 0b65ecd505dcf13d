package perfbench

import graft.DedupConfig
import graft.model.Schemas._
import graft.plans.{DedupPipeline, IncrementalDedup}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One span of the traced run: driver wall time plus its task metrics. */
final case class Span(wallS: Double, agg: SpanAgg)

/** The traced run: the pipeline driven stage by stage through each
  * layer's public function, one span per stage, with every stage
  * materialized to parquet and its lineage written in the background as
  * `DedupPipeline.run` does, so its outputs and work match the untraced
  * run. The benchmark checks that it ends in the same cluster digest.
  */
object Traced {

  final val Stages = Seq("01_norm", "02_reps", "03_sig", "04_bands", "05_cand", "06_verdicts", "07_clusters")

  final case class PipelineTrace(spans: Seq[(String, Span)], totalS: Double, ccJobs: Long,
                                 droppedBuckets: Long)

  def pipeline(spark: SparkSession, probe: Probe, pages: Dataset[Page], dir: String,
               conf: DedupConfig): PipelineTrace = {
    import spark.implicits._
    val sc = spark.sparkContext
    val ch = conf.configHash
    val spans = scala.collection.mutable.LinkedHashMap.empty[String, Span]
    val lineagePool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val lineage = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    var ccJobs = 0L
    var dropped = 0L

    def stage(name: String)(compute: => DataFrame): DataFrame = {
      val (df, sec) = probe.span(name) {
        sc.setJobDescription(s"pipeline: $name")
        try {
          compute.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
          spark.read.parquet(s"$dir/$name")
        } finally sc.setJobDescription(null)
      }
      spans(name) = Span(sec, probe.take(name))
      val ms = (sec * 1000).toLong
      lineage += lineagePool.submit(new Runnable {
        def run(): Unit = {
          sc.setLocalProperty(Probe.LineageProp, "1")
          sc.setJobDescription(s"pipeline: lineage $name")
          df.groupBy(spark_partition_id().as("partition_id")).agg(count(lit(1)).as("rows"))
            .withColumn("run_id", lit(s"run_$ch")).withColumn("stage", lit(name))
            .withColumn("wall_ms", lit(ms)).withColumn("config_hash", lit(ch))
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/lineage/$name")
        }
      })
      df
    }

    val t0 = System.nanoTime()
    try {
      val norm = stage("01_norm")(DedupPipeline.normalizeStage(spark, pages).toDF()).as[DocNorm]
      val reps = stage("02_reps")(DedupPipeline.repMap(spark, norm))
      val repNorm = norm.join(reps.filter($"url" === $"rep").select($"rep"), norm("url") === $"rep")
        .drop("rep").as[DocNorm]
      val sigs = stage("03_sig") {
        val hot = graft.sig.Boilerplate.hotShingles(spark, repNorm, conf)
        DedupPipeline.signatureStage(spark, repNorm, conf, hot).toDF()
      }.as[DocSig]
      val bands = stage("04_bands")(DedupPipeline.bandingStage(spark, sigs, conf).toDF()).as[BandRow]
      val cands = stage("05_cand") {
        val (pairs, d) = DedupPipeline.candidateStage(spark, bands, conf)
        dropped = d
        pairs.toDF()
      }.as[CandPair]
      val embAcc = sc.longAccumulator("perfbench.embNanos")
      val spanAcc = sc.longAccumulator("perfbench.spanNanos")
      val verdicts = stage("06_verdicts")(
        DedupPipeline.verifyStage(spark, cands, sigs, repNorm, conf, Some(embAcc), Some(spanAcc)).toDF())
      val clusters = stage("07_clusters") {
        val c = DedupPipeline.clusterStage(spark, verdicts.as[Verdict], reps, conf)
        // connected components checkpoints every round eagerly, so the jobs
        // seen by the time clusterStage returns are CC's own
        probe.drain()
        ccJobs = probe.jobsSoFar("07_clusters")
        c
      }
      lineage.foreach(_.get())
      DedupPipeline.writeMetricsSnapshot(spark, dir, s"run_$ch", ch, verdicts, clusters)
    } finally lineagePool.shutdown()
    val total = (System.nanoTime() - t0) / 1e9
    probe.drain()
    probe.take("lineage")
    PipelineTrace(spans.toSeq, total, ccJobs, dropped)
  }

  /** `IncrementalDedup.ingest` then `.compact`, one span each. Ingest
    * labels its jobs `incremental: <stage>`; the span keeps a job count
    * per label.
    */
  def incremental(spark: SparkSession, probe: Probe, baseDir: String, batch: Dataset[Page],
                  incDir: String, outDir: String, conf: DedupConfig): Seq[(String, Span)] = {
    val (_, si) = probe.span("ingest") {
      IncrementalDedup.ingest(spark, baseDir, batch, incDir, conf, resume = false)
    }
    val ingest = Span(si, probe.take("ingest"))
    val (_, sc) = probe.span("compact")(IncrementalDedup.compact(spark, baseDir, incDir, outDir, conf))
    Seq("ingest" -> ingest, "compact" -> Span(sc, probe.take("compact")))
  }
}
