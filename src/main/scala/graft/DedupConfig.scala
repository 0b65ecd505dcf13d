package graft

/** Engine configuration — mirrors the reference's parity knobs
  * (BASELINE.md §b; /root/reference/src/pipelines/near_duplicate.py:27-37,
  * /root/reference/src/cli_nd.py:575-621, src/ensemble/arbiter.py:45-46).
  * Defaults are the "balanced, calibration OFF" CLI configuration that the
  * recall target is defined against.
  */
final case class DedupConfig(
    // ---- shingling / signatures (parity surface) ----
    shingleSize: Int = 3,            // near_duplicate.py:33
    numPerm: Int = 64,               // near_duplicate.py:34
    lshThreshold: Double = 0.6,      // near_duplicate.py:35
    // Band-derivation FP/FN weights. datasketch defaults to (0.5, 0.5) →
    // (b=10, r=6) at threshold 0.6/64 perms, whose candidate recall at the
    // decision boundary (J ≈ 0.75-0.85, where every reference NEAR dup
    // lives) is only 0.88-0.99 — too lossy for the ≥0.99 dup-pair recall
    // target. Weighting false negatives 0.9 yields (b=16, r=4):
    // P(candidate | J=0.76) ≈ 0.9985 at 1.6x banding rows. Candidate-side
    // only; decision semantics are untouched.
    lshFpWeight: Double = 0.1,
    lshFnWeight: Double = 0.9,
    simhashBits: Int = 128,          // simhash_model.py:211
    maxTokenWeight: Int = 255,       // simhash_model.py:210
    minTokenLen: Int = 2,
    // ---- decision thresholds (balanced preset, calibration OFF) ----
    thrSimhash: Double = 0.75,       // cli_nd.py:586
    thrMinhash: Double = 0.75,       // cli_nd.py:587
    thrEmbedCosine: Double = 0.988,  // cli_nd.py:588
    requireAgreement: Int = 2,       // arbiter.py:45
    embedEnabled: Boolean = true,
    embedDim: Int = 384,             // embed_model.py:66
    // ---- candidate generation / skew handling ----
    maxCandidatesPerDoc: Int = 2000, // near_duplicate.py:36
    maxBucketSize: Int = 2000,       // ours: mega-bucket guard (logged drop)
    // Per-DOMAIN candidate cap — the skew axis q_domain_stats measures: a
    // single template-heavy domain (forum mirrors, listing pages) can
    // flood the candidate set even when every per-doc/per-bucket guard
    // holds. Opt-in (None = off, zero extra passes): when set, each
    // domain keeps its first `cap` pairs by (a, b) via a salted two-phase
    // top-k (no single-task sort of a flooded domain), drops logged.
    maxCandidatesPerDomain: Option[Int] = None,
    // Per-doc EMBEDDING-pair budget — the density knob the 900k-page
    // scaling measurement isolates (BENCH/BASELINE.md round-4 density
    // stress): at 68 pairs/doc, 83% of verified pairs sat in the one-vote
    // gray zone and took the embedding tiebreak (50.8M emb pairs, the
    // dominant verify exchange). When set, each doc keeps only its `cap`
    // highest-jaccard gray-zone pairs for the embedding pass (deterministic
    // tie-break by partner url); dropped pairs score vote_emb = false —
    // i.e. they resolve NON_DUPLICATE unless another learner already
    // carried them, a disclosed recall trade: the drop count is logged and
    // reported as `emb_budget_dropped` in metrics.json. Opt-in (None =
    // parity: the reference embeds every gray pair).
    embMaxPairsPerDoc: Option[Int] = None,
    // ---- corpus-level boilerplate shingle suppression (density knob) ----
    // The pair-density lever the 900k-page scaling measurement motivates
    // (BENCH/BASELINE.md round-4 density stress): shingles appearing in more
    // than ceil(frac * corpus) docs — template navigation/footer/legal text —
    // are dropped from every doc's shingle set BEFORE minhash/LSH/Jaccard,
    // removing the boilerplate-driven candidate-pair class at the source
    // instead of capping it afterwards. Opt-in (None = parity: the reference
    // has no df pass); semantics and determinism in sig/Boilerplate.scala.
    boilerplateMaxDfFrac: Option[Double] = None,
    // df threshold floor: a shingle must appear in MORE than this many docs
    // to ever count as hot, whatever the frac (guards tiny corpora).
    boilerplateMinDf: Int = 2,
    // Deterministic 1-in-k url-hash sample for the df pass (1 = full
    // corpus). Template shingles appear in a constant FRACTION of pages, so
    // a sample estimates df/n with error ~1/sqrt(sample-df) — the 100 TB
    // path runs the df pass on a 1-in-100 sample.
    boilerplateSampleOneIn: Int = 1,
    // Hot-set size cap (highest-df entries kept, truncation logged). The
    // natural bound is avg-shingles-per-doc / frac — corpus-size-independent
    // — so 1M is generous headroom, and the broadcast stays a few MB.
    boilerplateMaxHotSet: Int = 1 << 20,
    // ---- shared-span pass (north-rule addition) ----
    // Longest common substring per pair by the suffix automaton of the
    // shorter text (sa/SuffixAutomaton); sa/SuffixLCS, the suffix-array
    // reference, is the exact oracle it is property-tested against.
    spanPassEnabled: Boolean = true,
    spanMinChars: Int = 200,         // span length reported as "long"
    spanCandidateMinJaccard: Double = 0.2, // only near-miss pairs get the span pass
    spanMaxPairsPerDoc: Int = 20,    // span budget per doc (deterministic cap)
    spanMaxTextChars: Int = 8000,    // per-doc char cap for the span pass
    spanAsDuplicate: Boolean = false, // OFF = label parity with the reference
    // One-permutation-hashing signer (sig/Oph): replaces the k=64
    // permutation evaluations per shingle with ONE binned-min pass —
    // O(|shingles|) signing CPU instead of O(k·|shingles|), the dominant
    // map-side cost of the signature stage at corpus scale. Banding,
    // estimates, and exact verification are signature-layout-agnostic, so
    // everything downstream runs unchanged; candidate RECALL is the only
    // axis that can move (verification stays exact), asserted >= 0.99 of
    // the classic signer's duplicate pairs in OphSpec. OFF by default —
    // a deliberate round-5 decision (BENCH/BASELINE.md "Signer default
    // A/B"): the graft's correctness anchor is golden parity with the
    // reference's k-permutation signatures, and at the 450k bench corpus
    // the signature stage is 3-5% of wall so the measured 2.10x stage win
    // (signature stage timed alone; perfbench's kernel.sign_us_per_doc and
    // 03_sig.cpu_s measure it now) moves total wall ~1.5%. Measured at
    // 450k pages: OPH yields the IDENTICAL 6,149 clusters (439,874 docs vs classic's
    // 439,872) from 0.9% fewer candidate pairs, and has its own
    // end-to-end driver oracle row (q_dedup_clusters_oph). Flip to true
    // when signing dominates (short docs / high numPerm / cheap verify).
    signerOph: Boolean = false,
    // ---- checkpoint durability (cluster-deployment knob) ----
    // localCheckpoint blocks live only on executors: on a real multi-
    // executor cluster an executor loss AFTER the checkpoint makes the
    // lineage-truncated job unrecoverable. true switches every pipeline
    // localCheckpoint (verify pair relation, doc embeddings, CC rounds) to
    // reliable checkpoint() against spark.sparkContext.getCheckpointDir
    // (must be set — HDFS/object store in production). Default false: in
    // local/sandbox mode executor==driver, and localCheckpoint avoids the
    // per-round filesystem round-trip. Survival under a real executor
    // SIGKILL mid-verify is TESTED, not asserted: tools/ChaosCheck +
    // ExecutorLossSpec (2-executor local-cluster, kill fired when the
    // first durable checkpoint lands, clusters asserted identical).
    reliableCheckpoints: Boolean = false,
    // ---- misc ----
    seed: Long = 13L,                // base.py:146
    // Participates in configHash via toString: bump whenever a stage's
    // OUTPUT semantics change so persisted stage dirs from older code
    // versions fail the resume check and recompute.
    codeVersion: Int = 3
) {

  /** Effective consensus requirement — arbiter.py:254-258. */
  def requiredVotes: Int = {
    val learners = if (embedEnabled) 3 else 2
    math.max(1, math.min(requireAgreement, learners))
  }

  /** Stable hash of the config for stage-resume checks. */
  def configHash: String = {
    val s = this.toString
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).map(b => f"${b & 0xFF}%02x").mkString
  }
}

object DedupConfig {
  /** Parity config used by correctness gates. */
  val balanced: DedupConfig = DedupConfig()
  /** "high precision" CLI preset — cli_nd.py:591-595. */
  val high: DedupConfig = DedupConfig(thrSimhash = 0.88, thrMinhash = 0.88, thrEmbedCosine = 0.994)
  /** "recall" CLI preset — cli_nd.py:596-600. */
  val recall: DedupConfig = DedupConfig(thrSimhash = 0.60, thrMinhash = 0.60, thrEmbedCosine = 0.975)
}
