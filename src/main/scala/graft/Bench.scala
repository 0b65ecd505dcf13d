package graft

import graft.plans.DedupPipeline
import org.apache.spark.sql.SparkSession

/** Benchmark main — runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. The flagship metric is the full dedup pipeline
  * (normalize → signatures → LSH banding → candidates → verify → CC) over
  * pages derived from the sf documents table (3 variants per doc).
  */
object Bench {

  def buildSpark(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    // SPARK_GRAFT_CODEC=zstd|lz4 for the shuffle-compression A/B
    .config("spark.io.compression.codec", sys.env.getOrElse("SPARK_GRAFT_CODEC", "lz4"))
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
    // sandbox-scale IO settings: stage outputs are a few MB, and the
    // default 128MB bin-packing would hand each stage 1-2 read splits,
    // serializing the per-stage CPU. At production scale (TB-sized stage
    // outputs) the defaults are correct.
    .config("spark.sql.files.maxPartitionBytes", "4m")
    .config("spark.sql.files.openCostInBytes", "1m")
    .getOrCreate()

  /** The timed benchmark queries (a subset of SparkEntry.queries — the
    * pipeline run subsumes the stage-level queries).
    */
  // Deliberately NOT timed here (both stay correctness rows at sf0.01):
  //  - q_token_jaccard_pairs: a per-source cross product BY DESIGN (it is
  //    the quadratic oracle query); timing it would bench the oracle, not
  //    the scale operator (round-2 verdict). Its LSH twin replaces it.
  //  - q_token_jaccard_lsh: the sf tables' short small-vocab docs make
  //    token SETS nearly equal corpus-wide (24% of all pairs >=0.8 at
  //    sf0.01), so set-level LSH degenerates into mega-buckets on this
  //    synthetic data. q_ngram_jaccard_lsh is the timed representative of
  //    the LSH-jaccard family: word 3-gram shingle sets discriminate, so
  //    the bench measures the blocked join, not a degenerate corpus.
  //  - q_ann_topk: a deliberate brute-force crossJoin (the ANN correctness
  //    oracle). The timed ANN representative is q_ann_ivf_topk — the
  //    coarse-quantized plan a 100-TB deployment would run (broadcast
  //    centroids, probed lists only) — mirroring the round-2
  //    quadratic-jaccard precedent of timing the scale twin.
  val benchNames: Seq[String] = Seq(
    "q_dedup_clusters", "q_token_count", "q_top_tokens", "q_exact_dup_groups",
    "q_quality_counts", "q_ngram_jaccard_lsh", "q_ann_ivf_topk", "q_normalize",
    "q_minhash_signatures", "q_lang_id", "q_fingerprint")

  def timeQuery(spark: SparkSession, name: String, sfDir: String): Double = {
    val t0 = System.nanoTime()
    try SparkEntry.queries(name)(spark, sfDir).count()
    catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); return -1.0 }
    (System.nanoTime() - t0) / 1e9
  }

  /** Best-of-k timing. The sandbox host is measurably bimodal (same-binary
    * interleaved A/B drifted 20s -> 26s within minutes at loadavg 2.7 -> 6.9;
    * BENCH/BASELINE.md "host noise"): a single shot confounds code speed with
    * the host's phase, while the min over k=2 back-to-back shots is the
    * standard noisy-host estimator of what the code actually costs. The
    * pipeline query stays COLD each shot: its resume dir is deleted before
    * every repetition, so parquet/OS page cache of the *input* is the only
    * cross-shot warmth (identical to what any second driver run would see).
    */
  def timeQueryBest(spark: SparkSession, name: String, sfDir: String, k: Int): Double = {
    var best = Double.MaxValue
    var i = 0
    while (i < k) {
      if (name == "q_dedup_clusters")
        deleteRecursively(new java.io.File(
          s"/tmp/graft_pipe_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"))
      val t = timeQuery(spark, name, sfDir)
      if (t < 0) return t
      if (t < best) best = t
      i += 1
    }
    best
  }

  def pageCount(spark: SparkSession, sfDir: String): Long =
    graft.pages.PagesSource.fromDocuments(spark, sfDir, variants = 2).count()

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
  private[graft] def deleteRecursivelyPublic(f: java.io.File): Unit = deleteRecursively(f)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = buildSpark(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // the shared pipeline dir persists across runs via resume markers;
    // remove it so q_dedup_clusters times a full cold pipeline
    deleteRecursively(new java.io.File(
      s"/tmp/graft_pipe_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"))

    val nPages = pageCount(spark, sfDir)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "2").toInt.max(1)
    val results = benchNames.map(n => n -> timeQueryBest(spark, n, sfDir, repeat))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val pipeSec = results.toMap.getOrElse("q_dedup_clusters", -1.0)
    val docsPerSec = if (pipeSec > 0) nPages / pipeSec else -1.0
    val json = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"sf":"$sfDir","pages":$nPages,"pipeline_docs_per_sec":${f"$docsPerSec%.1f"},"cpus":"$cpus","stat":"min_of_$repeat"}"""
    // redundancy for the driver: the JSON line goes to raw stdout (build.sbt
    // sets StdoutOutput for forked runs) AND to a file next to the build
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_result.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] result file write failed: $e") }
    spark.stop()
    println(json)
    System.out.flush()
  }
}

/** Scaling evidence for the north rule's two-cluster-size criterion:
  * identical pipeline job at local[8] and local[32] on the same input;
  * reports docs/sec at both and the scaling efficiency
  * (throughput ratio / core ratio). Results land in BENCH/BASELINE.md.
  */
object ScalingBench {
  /** Expand each page's text to Common-Crawl-like size (~2-4 KB) by
    * appending a deterministic mixture of other documents' texts. The
    * sandbox sf tables carry ~300-char snippets; per-doc CPU at that size
    * is unrepresentative of web pages and the run degenerates into
    * fixed-overhead measurement.
    */
  def expandPages(spark: org.apache.spark.sql.SparkSession,
                  pages: org.apache.spark.sql.Dataset[graft.model.Schemas.Page],
                  sfDir: String, factor: Int): org.apache.spark.sql.Dataset[graft.model.Schemas.Page] = {
    import spark.implicits._
    if (factor <= 1) return pages
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"text").as[String].collect()
    val bc = spark.sparkContext.broadcast(texts)
    // SPARK_GRAFT_MIX=indep draws every appended block INDEPENDENTLY per
    // (base doc, replica, position). The default shared-stride mixture
    // (h, h+37, h+74, ...) makes two docs whose start slots differ by a
    // small multiple of 37 share most of their blocks, and the number of
    // such "mixture siblings" per doc grows with corpus size — the exact
    // confound the 900k density-stress row documented (pairs/doc 28 -> 35
    // -> 68 as the corpus grew 150k -> 450k -> 900k at IDENTICAL recipe).
    // Independent draws make ≥2 shared blocks a ~1/n² event, so pair
    // density stays family-only and CONSTANT in corpus size: the knob that
    // lets the scaling series vary size while holding density fixed.
    // Default unchanged — every pinned BENCH row keeps its exact corpus.
    val indepMix = sys.env.get("SPARK_GRAFT_MIX").contains("indep")
    pages.map { p =>
      val n = bc.value.length
      // key the mixture on (base doc id, replica): a family's variants
      // share their appended text (duplicate structure preserved) while
      // different replicas of the same doc get DISJOINT mixtures, so
      // cross-replica pairs stay far below candidate similarity
      val baseId = p.url.split("/doc/")(1).split("/")(0).takeWhile(_.isDigit).toLong
      val rIdx = p.url.indexOf("#r")
      val replica = if (rIdx < 0) 0 else p.url.substring(rIdx + 2).toInt
      val extra =
        if (indepMix)
          (1 until factor).map(j => bc.value(
            (math.abs(graft.pages.PagesSource.mix64(baseId + 7919L * replica + 104729L * j)) % n).toInt))
        else {
          val h = (math.abs(graft.pages.PagesSource.mix64(baseId + 7919L * replica)) % n).toInt
          (1 until factor).map(j => bc.value((h + j * 37) % n))
        }
      p.copy(text = (p.text +: extra).mkString(" "))
    }
  }

  /** Corpus replication for the scaling bench: `rep` copies of every page,
    * distinguished by a url fragment that expandPages keys its mixture on.
    * Family structure (and therefore candidate-pair count) scales LINEARLY
    * with `rep` — replicas are textually disjoint after expansion, so no
    * cross-replica candidates and no quadratic family blowup.
    */
  def replicatePages(spark: org.apache.spark.sql.SparkSession,
                     pages: org.apache.spark.sql.Dataset[graft.model.Schemas.Page],
                     rep: Int): org.apache.spark.sql.Dataset[graft.model.Schemas.Page] = {
    import spark.implicits._
    if (rep <= 1) pages
    else pages.flatMap(p => (0 until rep).iterator.map(r =>
      if (r == 0) p else p.copy(url = p.url + s"#r$r")))
  }


  /** Scaling-bench config: DedupConfig.balanced with the density and
    * signer levers switched by environment variables.
    */
  def benchConf: graft.DedupConfig = {
    var base = DedupConfig.balanced
    // SPARK_GRAFT_BOILER_FRAC=<f> turns on corpus-level boilerplate shingle
    // suppression (sig/Boilerplate) — the density lever; pair with
    // SPARK_GRAFT_TEMPLATE_TOKENS for the planted-template A/B
    sys.env.get("SPARK_GRAFT_BOILER_FRAC")
      .foreach(v => base = base.copy(boilerplateMaxDfFrac = Some(v.toDouble)))
    // SPARK_GRAFT_SIGNER=oph swaps the signature stage to one-permutation
    // hashing (sig/Oph) — the signing-CPU lever for the default-config
    // decision measured in BENCH/BASELINE.md (classic vs OPH vs OPH+bbit)
    sys.env.get("SPARK_GRAFT_SIGNER").foreach(v => base = base.copy(signerOph = v == "oph"))
    base
  }

  /** Build a session for an executor-JVM cluster emulation:
    * `local-cluster[workers,coresPerWorker,memMB]` — separate executor
    * JVMs on one box, the faithful proxy for the N-vs-4N-executors
    * criterion (no shared heap). Requires SPARK_HOME for worker launch.
    */
  def buildClusterSpark(workers: Int, coresPerWorker: Int, memMb: Int,
                        shufflePartitions: Int): org.apache.spark.sql.SparkSession = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
      "java.base/java.io", "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
      "java.base/sun.nio.cs", "java.base/sun.security.action",
      "java.base/sun.util.calendar").map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    SparkSession.builder()
      .master(s"local-cluster[$workers,$coresPerWorker,$memMb]")
      .config("spark.io.compression.codec", sys.env.getOrElse("SPARK_GRAFT_CODEC", "lz4"))
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.memory", s"${memMb - 512}m")
      .config("spark.executor.extraClassPath", "/root/repo/target/scala-2.13/classes")
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
  }

  /** Pause between two local-clusters in ONE JVM: a fresh app racing the
    * previous cluster's teardown can get "requires more resource than any
    * of Workers" and hang waiting for executors. (The `once` mode never
    * needs this — one cluster per JVM.)
    */
  def interClusterPause(): Unit = Thread.sleep(8000)

  /** JIT warm-up: one small full-pipeline run (untimed) so the timed
    * measurement sees compiled code on every executor — symmetric at both
    * cluster sizes, standard bench practice. Long-running production
    * executors are always warm; without this the first ~10s of the timed
    * run measures the JIT, a fixed cost that biases the small-cluster side
    * of the efficiency ratio.
    */
  def warmup(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    val warmPages = graft.pages.PagesSource.fromDocuments(spark, sfDir, 1).limit(3000)
    val dir = s"/tmp/graft_scalwarm_${System.nanoTime()}"
    DedupPipeline.run(spark, warmPages, dir, DedupConfig.balanced, resume = false).count()
    Bench.deleteRecursivelyPublic(new java.io.File(dir))
  }

  def buildPages(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                 variants: Int): org.apache.spark.sql.Dataset[graft.model.Schemas.Page] = {
    import spark.implicits._
    val expand = sys.env.getOrElse("SPARK_GRAFT_EXPAND", "8").toInt
    val rep = sys.env.getOrElse("SPARK_GRAFT_REPLICATE", "1").toInt
    val base = expandPages(spark,
      replicatePages(spark,
        graft.pages.PagesSource.fromDocuments(spark, sfDir, variants), rep),
      sfDir, expand)
    // SPARK_GRAFT_TEMPLATE_TOKENS=<n>: prepend a shared n-token template
    // block (nav/footer boilerplate) to EVERY page — plants the web
    // template-skew failure mode whose candidate-junk class the
    // boilerplate-suppression lever (SPARK_GRAFT_BOILER_FRAC) removes.
    val tmplTokens = sys.env.getOrElse("SPARK_GRAFT_TEMPLATE_TOKENS", "0").toInt
    if (tmplTokens <= 0) base
    else {
      val template = (0 until tmplTokens).map(i => s"navtmpl$i").mkString(" ")
      base.map(p => p.copy(text = template + " " + p.text))
    }
  }

  def runOnceCluster(workers: Int, coresPerWorker: Int, sfDir: String,
                     variants: Int): (Long, Double) = {
    // Shuffle partitions = 1x total cores (SPARK_GRAFT_SHUF_MULT overrides).
    // Round 3 used 4x to pipeline shuffle fetch behind compute and keep
    // reduce tasks spill-free on the then-fat verify exchanges; after the
    // round-4 emb/span pass split those exchanges shrank ~4x and the 4x
    // multiplier only multiplied the per-stage task floor across the
    // pipeline's ~60 stages — measured 99.3s vs 53.2s at the identical
    // 150k-page 4x4 cluster (BENCH/BASELINE.md round 4).
    val mult = sys.env.getOrElse("SPARK_GRAFT_SHUF_MULT", "1").toInt
    val spark = buildClusterSpark(workers, coresPerWorker,
      sys.env.getOrElse("SPARK_GRAFT_WORKER_MB", "6144").toInt,
      workers * coresPerWorker * mult)
    spark.sparkContext.setLogLevel("WARN")
    warmup(spark, sfDir)
    val pages = buildPages(spark, sfDir, variants)
    val n = pages.count()
    val runDir = s"/tmp/graft_scaling_c${workers}x${coresPerWorker}_${System.nanoTime()}"
    val t0 = System.nanoTime()
    DedupPipeline.run(spark, pages, runDir, benchConf, resume = false).count()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.stop()
    (n, sec)
  }

  def runOnce(cpus: Int, sfDir: String, variants: Int): (Long, Double) = {
    val spark = Bench.buildSpark(cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    warmup(spark, sfDir)
    val pages = buildPages(spark, sfDir, variants)
    val n = pages.count()
    val runDir = s"/tmp/graft_scaling_${cpus}_${System.nanoTime()}"
    val t0 = System.nanoTime()
    DedupPipeline.run(spark, pages, runDir, benchConf, resume = false).count()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.stop()
    (n, sec)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val variants = sys.env.getOrElse("SPARK_GRAFT_VARIANTS", "2").toInt
    val lo = sys.env.getOrElse("SPARK_GRAFT_CPU_LO", "8").toInt
    val hi = sys.env.getOrElse("SPARK_GRAFT_CPU_HI", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val clusterMode = sys.env.get("SPARK_GRAFT_CLUSTER").contains("1")

    // `once <workers> <coresPerWorker>`: a single cold local-cluster run in
    // THIS JVM, one JSON line. A second LocalSparkCluster in one JVM can
    // hang with its worker never registering (observed round 2), so the
    // N-vs-4N measurement drives one JVM per cluster size from the shell.
    if (args.length == 3 && args(0) == "once") {
      val (n, sec) = runOnceCluster(args(1).toInt, args(2).toInt, sfDir, variants)
      println(f"""{"mode":"once","pages":$n,"workers":${args(1)},"cores_per_worker":${args(2)},"sec":$sec%.2f,"docs_per_sec":${n / sec}%.1f}""")
      return
    }

    if (clusterMode) {
      // N vs 4N EXECUTORS: separate executor JVMs (2x4 cores vs 8x4 cores)
      val cpw = sys.env.getOrElse("SPARK_GRAFT_CORES_PER_WORKER", "4").toInt
      val wLo = lo / cpw
      val wHi = hi / cpw
      runOnceCluster(wHi, cpw, sfDir, variants) // warm-up
      var n1 = 0L
      var sLo = Double.MaxValue
      var sHi = Double.MaxValue
      (1 to reps).foreach { _ =>
        interClusterPause()
        val (n, l) = runOnceCluster(wLo, cpw, sfDir, variants)
        n1 = n; sLo = math.min(sLo, l)
        interClusterPause()
        val (_, h) = runOnceCluster(wHi, cpw, sfDir, variants)
        sHi = math.min(sHi, h)
        System.err.println(f"[scaling-cluster] lo=$sLo%.2f hi=$sHi%.2f")
      }
      val eff = ((n1 / sHi) / (n1 / sLo)) / (hi.toDouble / lo.toDouble)
      println(f"""{"mode":"local-cluster","pages":$n1,"executors_lo":$wLo,"executors_hi":$wHi,"cores_per_executor":$cpw,"sec_lo":$sLo%.2f,"sec_hi":$sHi%.2f,"docs_per_sec_lo":${n1 / sLo}%.1f,"docs_per_sec_hi":${n1 / sHi}%.1f,"scaling_efficiency":$eff%.3f,"reps":$reps}""")
      return
    }
    // warm-up (JIT/classloading), then best-of-reps per level: the sandbox
    // hosts uncontrolled background load and single 32-thread runs are
    // noisy; min wall-clock is the standard noise-robust estimator.
    runOnce(hi, sfDir, variants)
    var n1 = 0L
    var sLo = Double.MaxValue
    var sHi = Double.MaxValue
    (1 to reps).foreach { _ =>
      val (n, l) = runOnce(lo, sfDir, variants)
      n1 = n
      sLo = math.min(sLo, l)
      val (_, h) = runOnce(hi, sfDir, variants)
      sHi = math.min(sHi, h)
      val effSoFar = ((n1 / sHi) / (n1 / sLo)) / (hi.toDouble / lo.toDouble)
      System.err.println(f"[scaling] lo=$sLo%.2f hi=$sHi%.2f eff=$effSoFar%.3f")
    }
    val thrLo = n1 / sLo
    val thrHi = n1 / sHi
    val eff = (thrHi / thrLo) / (hi.toDouble / lo.toDouble)
    println(f"""{"pages":$n1,"cores_lo":$lo,"cores_hi":$hi,"sec_lo":$sLo%.2f,"sec_hi":$sHi%.2f,"docs_per_sec_lo":$thrLo%.1f,"docs_per_sec_hi":$thrHi%.1f,"scaling_efficiency":$eff%.3f,"reps":$reps}""")
  }
}
