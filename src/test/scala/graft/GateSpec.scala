package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Clustering, QualityClassifier, Similarity,
  TextAnalysis}

/** Non-vacuity proofs for the property-oracle `_check` gates: the battery
  * pins every violation counter at ZERO over the real operators, so each
  * counter must also be shown to FIRE when its contract is actually broken —
  * otherwise a gate could be a constant echo of its own oracle. Each test
  * induces exactly one violation (a parameter that breaks the contract, or a
  * corrupted persisted artifact) and asserts the counter moves; where cheap,
  * the same test re-runs the clean path and asserts it stays at zero.
  * (BpeSpec carries the corrupted-merge-table twin for `text_bpe_train_check`.)
  *
  * Coverage: ALL 24 battery `_check` gates carry an induced-violation
  * test here or in BpeSpec (22nd/23rd = r13's `bitext_ivf_check` and
  * `ann_pq_check`, whose unattainable-floor tests landed with the gates
  * themselves; 24th = r14's `retrieval_phrase_index_check`, fired below
  * through a position-shifted and then a duplicated delta segment) (`retrieval_mmr_check` included — reversed pick
  * order fires first-pick + margin, a duplicated pick row fires the
  * dup/count arms; the round-12 Bloom-index gates too: the
  * prune gate's `pruned_ok` arm fires through its public probe-set knob and
  * its `missed_rows` arm through a tampered index one level down; the
  * append gate's `files_mismatch` arm through a phantom index row one level
  * down — both layouts owned by the test because the entries rebuild their
  * scratch layouts per run). The final two landed in r13 through explicit
  * verification seams: `text_bpe_encode_check` fires via an injected
  * symbol-dropping encoder (`Bpe.encodeInvariantsWith` — BPE merging
  * preserves concatenation for any TABLE, so only an encoder defect can
  * flip the counter, and the seam injects exactly that), and
  * `sample_dsir_check` fires via a tampered selection handed to
  * `Sampling.dsirInvariantsOn` (top-1 row swapped for the (k+1)-th).
  */
class GateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("mmrInvariantsOn: tampered picks fire the margin and first-pick counters") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val dim = Some(graft.Tables.EmbeddingDim)
    val clean = Similarity.mmrRerank(e, k = 10, m = 5, lambda = 0.7, dim)
      .localCheckpoint()
    val ok = Similarity.mmrInvariantsOn(e, clean, k = 10, m = 5, 0.7, dim)
      .collect().head
    assert(ok.getAs[Long]("pick_count_violations") === 0L)
    assert(ok.getAs[Long]("dup_pick_violations") === 0L)
    assert(ok.getAs[Long]("first_pick_violations") === 0L)
    assert(ok.getAs[Long]("margin_violations") === 0L)
    assert(ok.getAs[Long]("n_queries") > 0L)
    // reverse each query's pick order: pick 1 becomes the greedy's LAST
    // choice — first_pick and margin must both fire
    val tampered = clean.withColumn("pick",
      (lit(6) - col("pick")).cast("int"))
    val bad = Similarity.mmrInvariantsOn(e, tampered, k = 10, m = 5, 0.7, dim)
      .collect().head
    assert(bad.getAs[Long]("first_pick_violations") > 0L, bad.toString)
    assert(bad.getAs[Long]("margin_violations") > 0L, bad.toString)
    // duplicate a pick row: the count and dup counters fire
    val dup = clean.unionByName(clean.limit(1))
    val bad2 = Similarity.mmrInvariantsOn(e, dup, k = 10, m = 5, 0.7, dim)
      .collect().head
    assert(bad2.getAs[Long]("dup_pick_violations") +
      bad2.getAs[Long]("pick_count_violations") > 0L, bad2.toString)
    // drop one query's picks entirely: the count arm must see the MISSING
    // query (left-join guard), not silently lose it from the join
    val q0 = clean.select(min(col("q_id"))).head.getLong(0)
    val missing = clean.filter(col("q_id") =!= q0)
    val bad3 = Similarity.mmrInvariantsOn(e, missing, k = 10, m = 5, 0.7, dim)
      .collect().head
    assert(bad3.getAs[Long]("pick_count_violations") > 0L, bad3.toString)
    // point one pick at an id outside the candidate set: the margin arm's
    // null guard fires (NULL picked_obj must not read as clean)
    val phantom = clean.withColumn("neighbor_id",
      when(col("pick") === 2 && col("q_id") === q0, lit(999999999L))
        .otherwise(col("neighbor_id")))
    val bad4 = Similarity.mmrInvariantsOn(e, phantom, k = 10, m = 5, 0.7, dim)
      .collect().head
    assert(bad4.getAs[Long]("margin_violations") > 0L, bad4.toString)
  }

  test("tokenTopKInvariants: missing_top_m fires when k cannot hold top-m") {
    // exact top-2 is {aa, bb}; a top-1 sketch can surface only one of them
    val d = Seq((1L, "aa aa bb"), (2L, "aa")).toDF("doc_id", "text")
    val row = TextAnalysis.tokenTopKInvariants(d, k = 1, m = 2).head()
    assert(row.getAs[Long]("n_terms_distinct") === 2L)
    assert(row.getAs[Long]("missing_top_m") === 1L)
    assert(row.getAs[Long]("dup_terms") === 0L)
    assert(row.getAs[Long]("row_count_violation") === 0L) // 1 row = min(1, 2)
  }

  test("lshClusterInvariants: split_exact_pairs fires when pairing is broken") {
    // threshold > 1 admits no pair (exact duplicates score exactly 1.0), so
    // the planted exact-text pair cannot be co-clustered
    val d = Seq((1L, "duplicate body"), (2L, "duplicate body"),
      (3L, "something else")).toDF("doc_id", "text")
    val broken = Clustering.lshClusterInvariants(d, threshold = 1.01).head()
    assert(broken.getAs[Long]("n_exact_text_pairs") === 1L)
    assert(broken.getAs[Long]("split_exact_pairs") === 1L)
    // at the real threshold the same corpus keeps every counter at zero
    val clean = Clustering.lshClusterInvariants(d, threshold = 0.8).head()
    assert(clean.getAs[Long]("split_exact_pairs") === 0L)
    assert(clean.getAs[Long]("clusters_spanning_exact") === 0L)
    assert(clean.getAs[Long]("lsh_nodes_not_in_exact") === 0L)
  }

  test("embeddingLshInvariants: missing_planted_pairs fires when recovery is broken") {
    val e = Tables(spark, sf, "embeddings")
    // an unreachable threshold rejects every verified pair, so every plant
    // goes unrecovered — the counter must count all of them, not echo zero
    val broken = Dedup.embeddingLshInvariants(e, threshold = 1.5).head()
    val planted = broken.getAs[Long]("n_planted")
    assert(planted > 0L)
    assert(broken.getAs[Long]("missing_planted_pairs") === planted)
  }

  test("trainScoreInvariants: accuracy_floor_violation binds to the floor") {
    val d = Tables(spark, sf, "documents")
    val label = col("text").contains("customer")
    // an unattainable floor must fire ...
    val broken = QualityClassifier.trainScoreInvariants(d, label,
      accFloor = 1.01).head()
    assert(broken.getAs[Long]("accuracy_floor_violation") === 1L)
    // ... while conservation and consistency hold either way
    assert(broken.getAs[Long]("dup_docs") === 0L)
    assert(broken.getAs[Long]("prob_bounds_violations") === 0L)
    assert(broken.getAs[Long]("pred_prob_mismatches") === 0L)
  }

  test("annRecallInvariants: recall_floor_violation fires under an unattainable floor") {
    val e = Tables(spark, sf, "embeddings")
    // recall is ≤ 1 by definition, so a floor above 1 must flip every
    // tier's counter — while the hygiene counters stay at zero (the tiers
    // themselves are untouched)
    val rows = Similarity.annRecallInvariants(e,
        floors = Map("ivf" -> 1.01, "ivf_quantized" -> 1.01,
          "lsh" -> 1.01, "quantized" -> 1.01))
      .collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("recall_floor_violation") === 1L,
        s"tier ${r.getAs[String]("method")} did not fire")
      assert(r.getAs[Long]("rows_not_k") === 0L)
      assert(r.getAs[Long]("dup_pairs") === 0L)
      assert(r.getAs[Long]("self_matches") === 0L)
    }
  }

  test("minhashLshInvariants: missing_exact_pairs fires when banding admits nothing") {
    // threshold > 1 rejects every verified candidate (exact dups score
    // exactly 1.0), so the planted exact-text pair goes missing
    val d = Seq((1L, "duplicate body text"), (2L, "duplicate body text"),
      (3L, "something different")).toDF("doc_id", "text")
    val broken = Dedup.minhashLshInvariants(d, threshold = 1.01).head()
    assert(broken.getAs[Long]("n_exact_pairs") === 1L)
    assert(broken.getAs[Long]("missing_exact_pairs") === 1L)
    val clean = Dedup.minhashLshInvariants(d, threshold = 0.8).head()
    assert(clean.getAs[Long]("missing_exact_pairs") === 0L)
    assert(clean.getAs[Long]("dup_pairs") === 0L)
  }

  test("simhashInvariants: missing_exact_pairs fires when the radius admits nothing") {
    // a negative Hamming radius admits no pair at all — not even the
    // hamming-0 exact duplicates the recall floor counts
    val d = Seq((1L, "duplicate body text"), (2L, "duplicate body text"),
      (3L, "something different")).toDF("doc_id", "text")
    val broken = Dedup.simhashInvariants(d, maxHamming = -1).head()
    assert(broken.getAs[Long]("n_exact_pairs") === 1L)
    assert(broken.getAs[Long]("missing_exact_pairs") === 1L)
    val clean = Dedup.simhashInvariants(d, maxHamming = 3).head()
    assert(clean.getAs[Long]("missing_exact_pairs") === 0L)
  }

  test("semDedupInvariants: twins_surviving fires when tau admits nothing") {
    val e = Tables(spark, sf, "embeddings")
    // an exact twin's cosine is exactly 1.0; tau > 1 keeps every twin
    // alive, so the recall-floor counter must count all of them
    val broken = graft.operators.SemDedup.semDedupInvariants(e, tau = 1.01).head()
    val twins = broken.getAs[Long]("n_twins")
    assert(twins > 0L)
    assert(broken.getAs[Long]("twins_surviving") === twins)
    assert(broken.getAs[Long]("survivors_not_in_input") === 0L)
  }

  test("pageRankInvariants: nonpositive_ranks fires at damping 1.0 with a source-only node") {
    // node 3 has no in-edges; with damping 1.0 the teleport term (1-d)/n
    // vanishes and its rank hits exactly 0 — strictly positive ranks are a
    // property of d < 1, so d = 1.0 is the legitimate parameter that
    // proves the positivity counter live (mass stays conserved at 1)
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val broken = Clustering.pageRankInvariants(edges, iters = 3, damping = 1.0).head()
    assert(broken.getAs[Long]("n_ranks") === 3L)
    assert(broken.getAs[Long]("mass_violation") === 0L)
    assert(broken.getAs[Long]("nonpositive_ranks") >= 1L)
    val clean = Clustering.pageRankInvariants(edges, iters = 3).head()
    assert(clean.getAs[Long]("nonpositive_ranks") === 0L)
    assert(clean.getAs[Long]("mass_violation") === 0L)
  }

  test("sketchAccuracyInvariants: every band counter fires under unattainable bands") {
    val li = Tables(spark, sf, "lineitem")
    val ev = Tables(spark, sf, "events")
    // negative relative-error bands are unattainable (|err| ≥ 0 > -band),
    // and an inverted percentile band likewise — each counter must move
    val broken = graft.operators.Relational.sketchAccuracyInvariants(
      li, ev, acdRelErr = -1.0, pctEps = -0.05, hllRelErr = -1.0).head()
    assert(broken.getAs[Long]("acd_violations") ===
      broken.getAs[Long]("n_flag_groups"))
    assert(broken.getAs[Long]("pct_violations") > 0L)
    assert(broken.getAs[Long]("hll_violations") ===
      broken.getAs[Long]("n_type_groups"))
    assert(broken.getAs[Long]("hll_union_violation") === 1L)
  }

  test("lttbInvariants: missing_endpoints fires when the budget cannot hold both ends") {
    // k = 1 keeps only the first point of each series — the endpoint
    // invariant is a property of k ≥ 2, so a 1-point budget is the
    // legitimate parameter that proves the endpoint counter live
    val d = Seq((1L, 0.0, 1.0), (1L, 1.0, 2.0), (1L, 2.0, 3.0),
      (2L, 0.0, 5.0), (2L, 1.0, 6.0), (2L, 2.0, 7.0))
      .toDF("s", "x", "y")
    val broken = graft.operators.Viz.lttbInvariants(d, "s", "x", "y", k = 1).head()
    assert(broken.getAs[Long]("n_series") === 2L)
    assert(broken.getAs[Long]("size_mismatch_series") === 0L) // 1 = min(1, 3)
    assert(broken.getAs[Long]("multiset_violations") === 0L)
    assert(broken.getAs[Long]("missing_endpoints") === 2L)
    val clean = graft.operators.Viz.lttbInvariants(d, "s", "x", "y", k = 2).head()
    assert(clean.getAs[Long]("missing_endpoints") === 0L)
  }

  test("budgetSelectInvariants: budget_violation fires against a mismatched contract") {
    import graft.operators.Bpe
    val dir = java.nio.file.Files.createTempDirectory("bpe-gate").toString
    val d = (0L until 30L).map(id => (id, s"alpha beta gamma delta doc$id"))
      .toDF("doc_id", "text")
    Bpe.trainBpe(d, s"$dir/merges", numMerges = 10).count()
    // selection honors budget 20000 (admits everything); checking that
    // selection against a 1-token contract must flip the budget counter
    // while the prefix/maximality/hygiene counters stay clean
    val broken = Bpe.budgetSelectInvariants(d, s"$dir/merges",
      budget = 20000L, checkBudget = 1L).head()
    assert(broken.getAs[Long]("budget_violation") === 1L)
    assert(broken.getAs[Long]("dup_selected") === 0L)
    assert(broken.getAs[Long]("prefix_violation") === 0L)
    val clean = Bpe.budgetSelectInvariants(d, s"$dir/merges",
      budget = 20000L).head()
    assert(clean.getAs[Long]("budget_violation") === 0L)
  }

  test("incrementalBandedInvariants: exact_admits_rejected fires when tiers diverge") {
    // near-exact pair (one word changed at the tail of a long text →
    // shingle Jaccard ≈ 0.95, where the 32/4 banding's collision odds are
    // near-certain and deterministic): the banded tier at a 0.3 bar
    // rejects it, the exact tier at a 0.99 bar admits it — the bracketing
    // counter must notice the divergence
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5) +
      "closing words original"
    val variant = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5) +
      "closing words changed"
    // find one doc_id in the corpus bucket (< 80) and one in the batch
    // bucket (≥ 80) so the pair straddles the gate's 80/20 split
    val buckets = (0L until 64L).map(id => id ->
      Seq(id).toDF("doc_id")
        .select(graft.operators.Sampling.hashBucket(col("doc_id")).as("b"))
        .head().getLong(0)).toMap
    val corpusId = buckets.collectFirst { case (id, b) if b < 80 => id }.get
    val batchId = buckets.collectFirst { case (id, b) if b >= 80 => id }.get
    val d = Seq((corpusId, base), (batchId, variant)).toDF("doc_id", "text")
    val broken = Dedup.incrementalBandedInvariants(d, threshold = 0.99,
      bandedThreshold = 0.3).head()
    assert(broken.getAs[Long]("n_batch") === 1L)
    assert(broken.getAs[Long]("exact_admits_rejected") === 1L)
    val clean = Dedup.incrementalBandedInvariants(d, threshold = 0.99).head()
    assert(clean.getAs[Long]("exact_admits_rejected") === 0L)
  }

  test("containmentBandedInvariants: strong_missed fires when banding is starved") {
    // planted quote/wrapper pairs on doc_ids divisible by 3 (the gate's
    // sub-corpus filter): with a sane geometry the banded tier catches
    // them all; with the discriminative-token supply deliberately starved
    // (dfFloor = 0 and a vanishing dfFrac make NO token discriminative —
    // no probes, no candidates) every strong pair is missed and the
    // counter must fire — proving it is computed, not a constant
    val rnd = new scala.util.Random(11)
    def randText(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val quotes = (0L until 5L).map(i => i * 3 -> randText(60))
    val wrappers = quotes.map { case (i, q) => (i + 300) -> ("xx" + q + "yy") }
    val d = (quotes ++ wrappers).toDF("doc_id", "text")
    val clean = Dedup.containmentBandedInvariants(d).head()
    assert(clean.getAs[Long]("n_strong") >= 5L)
    assert(clean.getAs[Long]("strong_missed") === 0L)
    assert(clean.getAs[Long]("banded_not_in_exact") === 0L)
    assert(clean.getAs[Long]("dup_pairs") === 0L)
    val starved = Dedup.containmentBandedInvariants(d,
      dfFrac = 1e-12, dfFloor = 0L).head()
    assert(starved.getAs[Long]("strong_missed") === starved.getAs[Long]("n_strong"),
      "starved banding should miss every strong pair")
    assert(starved.getAs[Long]("strong_missed") > 0L)
  }

  test("binPackFFDInvariants: overfull_bins fires against a mismatched contract") {
    import graft.operators.Packing
    // three ~40-token docs pack into one 512-token bin; checking that
    // packing against a 10-token contract must flip the overfull counter
    // while the opener/fill/dup hygiene stays clean
    val d = Seq((1L, "en", "alpha " * 40), (2L, "en", "beta " * 40),
      (3L, "en", "gamma " * 40)).toDF("doc_id", "lang", "text")
    val broken = Packing.binPackFFDInvariants(d, budget = 512,
      checkBudget = 10).head()
    assert(broken.getAs[Long]("overfull_bins") >= 1L)
    assert(broken.getAs[Long]("openerless_bins") === 0L)
    assert(broken.getAs[Long]("fill_mismatch_bins") === 0L)
    assert(broken.getAs[Long]("dup_docs") === 0L)
    val clean = Packing.binPackFFDInvariants(d, budget = 512).head()
    assert(clean.getAs[Long]("overfull_bins") === 0L)
  }

  test("ivfLifecycleInvariants: seg_count_mismatch fires on a corrupted segment") {
    val e = Tables(spark, sf, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf-gate").toString + "/idx"
    // clean lifecycle first: every counter zero at sf0.001
    val clean = Similarity.ivfLifecycleInvariants(e, dir).head()
    assert(clean.getAs[Long]("seg_count_mismatch") === 0L)
    assert(clean.getAs[Long]("rows_not_k") === 0L)
    assert(clean.getAs[Long]("dup_pairs") === 0L)
    assert(clean.getAs[Long]("self_matches") === 0L)
    // folding the delta into the base keeps the store conserved: the gate
    // counts the live view, and does not append the batch a second time
    Similarity.compactIvfDeltas(spark, dir)
    val folded = Similarity.ivfLifecycleInvariants(e, dir).head()
    assert(folded.getAs[Long]("seg_count_mismatch") === 0L)
    assert(folded.getAs[Long]("rows_not_k") === 0L)
    // duplicate one quantized row inside a cell partition of the base
    // segment (the segment is hive-partitioned by cell, so the corruption
    // must land inside a cell=N directory to be discovered) — the
    // conservation counter must notice the segment sum no longer matches
    // the corpus
    val cellDir = new java.io.File(s"$dir/segments").listFiles()
      .filter(_.getName.startsWith("cell=")).head.getPath
    val src = spark.read.parquet(cellDir)
    val one = src.limit(1).collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(one), src.schema)
      .write.mode("append").parquet(cellDir)
    val broken = Similarity.ivfLifecycleInvariants(e, dir).head()
    assert(broken.getAs[Long]("seg_count_mismatch") === 1L)
  }

  test("bloomPruneInvariants: pruned_ok fires on an all-keys probe; a tampered index loses rows") {
    import graft.operators.Layout
    // an audit probing EVERY key must read every file: nothing can be
    // pruned -> pruned_ok = 0 deterministically; all keys are real, so
    // missed_rows stays 0
    val allKeys = graft.Tables(spark, sf, "lineitem")
      .select("l_orderkey").distinct().collect().map(_.getLong(0)).toSeq
    val sat = Layout.bloomPruneInvariants(spark, sf,
      probeKeys = Some(allKeys)).head()
    assert(sat.getAs[Long]("pruned_ok") === 0L,
      "probing every key cannot have pruned anything")
    assert(sat.getAs[Long]("missed_rows") === 0L)
    // the missed_rows arm, one level down on a layout this test owns: an
    // index missing a file's row silently skips that file, losing exactly
    // its probed rows -- the arithmetic the gate's counter pins at zero
    val dir = java.nio.file.Files.createTempDirectory("bloom-gate").toString
    val out = s"$dir/layout"
    Seq.tabulate(400)(i => (i.toLong, i.toString)).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
      .write.mode("overwrite").parquet(out)
    val idx = Layout.bloomIndexOfFiles(spark, out, "k", expectedPerFile = 256, fpp = 0.01)
    val probe = Seq(0L, 399L) // first and last file, necessarily distinct
    val full = Layout.bloomPrunedRead(spark, out, idx, "k", probe)
    assert(full.data.count() === 2L)
    // drop the lexically-last index row: range files sort with the key, so
    // that is the file holding k = 399
    val n = idx.count().toInt
    val tampered = idx.orderBy("file").limit(n - 1)
    val broken = Layout.bloomPrunedRead(spark, out, tampered, "k", probe)
    val missed = 2L - broken.data.count()
    assert(missed === 1L, s"expected exactly the dropped file's row missing, got $missed")
  }

  test("bloomAppendInvariants arithmetic: a phantom index row fires files_mismatch") {
    import graft.operators.Layout
    // clean run first: every counter at its pinned value
    val clean = Layout.bloomAppendInvariants(spark, sf).head()
    assert(clean.getAs[Long]("missed_rows") === 0L)
    assert(clean.getAs[Long]("files_mismatch") === 0L)
    assert(clean.getAs[Long]("probe_files_mismatch") === 0L)
    assert(clean.getAs[Long]("append_ok") === 1L)
    // the files_mismatch arm, one level down on an owned layout: an index
    // carrying a row for a file that does not exist on disk can never be
    // reproduced by a rebuild -- the symmetric-difference counter the gate
    // pins at zero is exactly what separates the two
    val dir = java.nio.file.Files.createTempDirectory("bloom-append-gate").toString
    val out = s"$dir/layout"
    Seq.tabulate(200)(i => (i.toLong, i.toString)).toDF("k", "v")
      .repartitionByRange(2, col("k")).sortWithinPartitions(col("k"))
      .write.mode("overwrite").parquet(out)
    val base = Layout.bloomIndexOfFiles(spark, out, "k", 256, 0.01).localCheckpoint()
    val phantom = base.unionByName(
      base.limit(1).withColumn("file", lit("file:/nowhere/part-phantom.parquet")))
    val inc = Layout.bloomIndexAppend(spark, out, phantom, "k", 256, 0.01)
    val full = Layout.bloomIndexOfFiles(spark, out, "k", 256, 0.01)
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .select(element_at(split(col("file"), "/"), -1).as("f"), col("n_rows"))
    val mismatch = sig(inc).exceptAll(sig(full)).count() +
      sig(full).exceptAll(sig(inc)).count()
    assert(mismatch >= 1L, "phantom index row must surface in the symmetric difference")
  }

  test("bitextIvfInvariants: an unattainable agreement floor fires; clean run green") {
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val clean = Similarity.bitextIvfInvariants(e, k = 4).head()
    assert(clean.getAs[Long]("n_queries") > 0L)
    assert(clean.getAs[Long]("exact_rows_mismatch") === 0L)
    assert(clean.getAs[Long]("approx_rows_mismatch") === 0L)
    assert(clean.getAs[Long]("parity_violations") === 0L)
    assert(clean.getAs[Long]("dup_violations") === 0L)
    assert(clean.getAs[Long]("agreement_floor_violation") === 0L)
    // agreement is ≤ 1 by construction, so a floor above 1 is unattainable
    // for ANY output — the counter must fire through the public knob
    val broken = Similarity.bitextIvfInvariants(e, k = 4, agreementFloor = 1.01)
      .head()
    assert(broken.getAs[Long]("agreement_floor_violation") === 1L)
  }

  test("pqInvariants: an unattainable recall floor fires; clean run green") {
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val clean = Similarity.pqInvariants(e, k = 10).head()
    assert(clean.getAs[Long]("n_queries") > 0L)
    assert(clean.getAs[Long]("rows_not_k") === 0L)
    assert(clean.getAs[Long]("dup_pairs") === 0L)
    assert(clean.getAs[Long]("self_matches") === 0L)
    assert(clean.getAs[Long]("recall_floor_violation") === 0L)
    // recall is ≤ 1 by construction, so a floor above 1 is unattainable
    // for ANY output — the counter must fire through the public knob
    val broken = Similarity.pqInvariants(e, k = 10, floor = 1.01).head()
    assert(broken.getAs[Long]("recall_floor_violation") === 1L)
  }

  test("ivfPqInvariants: an unattainable recall floor fires; clean run green") {
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val clean = Similarity.ivfPqInvariants(e, k = 10).head()
    assert(clean.getAs[Long]("n_queries") > 0L)
    assert(clean.getAs[Long]("rows_not_k") === 0L)
    assert(clean.getAs[Long]("dup_pairs") === 0L)
    assert(clean.getAs[Long]("self_matches") === 0L)
    assert(clean.getAs[Long]("recall_floor_violation") === 0L)
    // recall is ≤ 1 by construction, so a floor above 1 is unattainable
    // for ANY output — the counter must fire through the public knob
    val broken = Similarity.ivfPqInvariants(e, k = 10, floor = 1.01).head()
    assert(broken.getAs[Long]("recall_floor_violation") === 1L)
  }

  test("encodeInvariantsWith: a symbol-dropping encoder fires the round-trip counter") {
    // BPE merging preserves concatenation for ANY merge table, so the only
    // thing that can flip roundtrip_violations is an encode-loop defect —
    // inject one through the encoder seam: drop the first symbol of every
    // multi-symbol word (and collapse to a bare char for singletons, which
    // also violates the w+EndOfWord form), then assert the counter fires
    // while the real encoder stays clean on the same inputs.
    import graft.operators.Bpe
    val d = (0L until 20L).map(id => (id, s"alpha beta gamma doc$id"))
      .toDF("doc_id", "text")
    val merges = Seq(("a", "l"), ("al", "p"))
    val clean = Bpe.encodeInvariants(d, merges).head()
    assert(clean.getAs[Long]("roundtrip_violations") === 0L)
    assert(clean.getAs[Long]("bounds_violations") === 0L)
    assert(clean.getAs[Long]("n_words") > 0L)
    val defective: (String, Map[(String, String), Int]) => Seq[String] =
      (w, ranks) => Bpe.encodeWord(w, ranks).drop(1)
    val broken = Bpe.encodeInvariantsWith(d, merges, defective).head()
    assert(broken.getAs[Long]("roundtrip_violations") > 0L, broken.toString)
    // dropping a symbol can also empty a 1-symbol word → bounds fires too
    assert(broken.getAs[Long]("n_words") === clean.getAs[Long]("n_words"))
  }

  test("dsirInvariantsOn: a swapped selection row fires the top-k counter") {
    // violation direction: remove the STRONGEST selected row and admit the
    // (k+1)-th instead — the dropped top-1 becomes an unselected row that
    // strictly precedes the tampered selection's boundary, which is
    // exactly what topk_violations exists to catch.
    import graft.operators.Sampling
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val scored = Sampling.dsirScores(d, col("text").contains("customer"))
      .localCheckpoint()
    val keyed = Sampling.gumbelKeys(scored).localCheckpoint()
    val ordered = keyed.orderBy(col("gumbel").desc, col("doc_id"))
      .select(col("doc_id"), col("log_w"), col("gumbel"))
    val k = 20
    val sel = ordered.limit(k).localCheckpoint()
    val cleanRow = Sampling.dsirInvariantsOn(scored, sel).head()
    assert(cleanRow.getAs[Long]("topk_violations") === 0L)
    assert(cleanRow.getAs[Long]("n_selected") === k.toLong)
    // tampered selection: drop the top-1 row, append the (k+1)-th — the
    // dropped top-1 is now unselected yet precedes the new boundary
    val tampered = ordered.limit(k + 1)
      .exceptAll(ordered.limit(1)).localCheckpoint()
    val badRow = Sampling.dsirInvariantsOn(scored, tampered).head()
    assert(badRow.getAs[Long]("topk_violations") > 0L, badRow.toString)
  }

  test("textIndexInvariants: clean lifecycle green; corrupted delta fires both counters") {
    import graft.operators.Retrieval
    // owned corpus so the induced violations are deterministic: every doc
    // matches the phrase, and doc_ids 0/10 land in the append slice
    val d = (0L until 20L).map(i => (i, s"row $i has a fast table inside"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("text-gate").toString + "/idx"
    val phrase = Seq("fast", "table")
    val clean = Retrieval.textIndexInvariants(d, dir, phrase).head()
    assert(clean.getAs[Long]("n_postings") === 20L * 7)
    assert(clean.getAs[Long]("conservation_mismatch") === 0L)
    assert(clean.getAs[Long]("append_search_diffs") === 0L)
    // corruption: shift every delta posting one position right — row count
    // is preserved minus nothing, so conservation stays green while the
    // append slice's matches move (first_pos drifts) → search-diff counter
    // must fire; then duplicate the delta rows → conservation fires too
    val delta = spark.read.parquet(s"$dir/delta").localCheckpoint()
    delta.withColumn("pos", col("pos") + 1)
      .write.mode("overwrite").partitionBy("tokb").parquet(s"$dir/delta")
    val shifted = Retrieval.textIndexInvariants(d, dir, phrase).head()
    assert(shifted.getAs[Long]("conservation_mismatch") === 0L)
    assert(shifted.getAs[Long]("append_search_diffs") > 0L, shifted.toString)
    delta.unionAll(delta)
      .write.mode("overwrite").partitionBy("tokb").parquet(s"$dir/delta")
    val dup = Retrieval.textIndexInvariants(d, dir, phrase).head()
    assert(dup.getAs[Long]("conservation_mismatch") === 1L, dup.toString)
  }
}
