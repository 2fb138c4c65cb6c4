package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Decontam, Dedup, Mixing, SemDedup, TextAnalysis}

/** Round-6 corpus-composition operators: decontamination / duplicated-n-gram
  * coverage, temperature mixing, token-budget selection, shard layout, and
  * SemDeDup — hand-computable small cases plus equivalence/recall pins
  * against the exact kernels on the driver test data.
  */
class CorpusOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf1 = "/root/testdata/sf0.001"
  private val sf2 = "/root/testdata/sf0.01"

  // ---------------------------------------------------------------- shingles

  test("Decontam.shingles: every full window, md5-hashed, distinct") {
    val d = Seq(
      (1L, "a b c d e f"),      // windows: "a b c d e", "b c d e f"
      (2L, "a b c d"),          // shorter than n=5 → no shingles
      (3L, "x x x x x x x")     // 3 windows, all identical → 1 distinct
    ).toDF("doc_id", "text")
    val sh = Decontam.shingles(d, n = 5).collect()
    val byDoc = sh.groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert(byDoc(1L).size === 2)
    assert(!byDoc.contains(2L))
    assert(byDoc(3L).size === 1)
    // digest is md5 of the space-joined window (the oracle re-derives it)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("a b c d e".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(byDoc(1L).contains(expected))
  }

  test("Decontam.contaminated + dupNgramCoverage: hand case") {
    val d = Seq(
      (1L, "a b c d e f"),          // shares both windows with 11
      (11L, "a b c d e f"),         // duplicate of 1
      (2L, "p q r s t u v"),        // unique text
      (3L, "a b c d e zzz")         // shares window "a b c d e" with 1/11
    ).toDF("doc_id", "text")
    val cont = Decontam.contaminated(
      corpus = d.filter(col("doc_id") =!= 11L),
      bench = d.filter(col("doc_id") === 11L), n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cont === Map(1L -> 2L, 3L -> 1L)) // doc 2 is clean

    val cov = Decontam.dupNgramCoverage(d, n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cov(1L) === ((2L, 2L)))  // both windows shared with 11
    assert(cov(11L) === ((2L, 2L)))
    assert(cov(2L) === ((3L, 0L)))  // nothing shared
    assert(cov(3L) === ((2L, 1L)))  // "a b c d e" shared, "b c d e zzz" not
  }

  test("Decontam.dupNgramCoverage: fraction bounds on the real corpus") {
    val cov = Decontam.dupNgramCoverage(Tables(spark, sf1, "documents"))
    val bad = cov.filter(col("dup_frac") < 0.0 || col("dup_frac") > 1.0 ||
      col("n_dup") > col("n_shingles")).count()
    assert(bad === 0L)
    assert(cov.count() > 0L)
  }

  // ------------------------------------------------------------------ mixing

  test("Mixing.temperatureMix: rare strata keep a higher rate; deterministic") {
    val d = Tables(spark, sf2, "documents")
    val kept = Mixing.temperatureMix(d, "lang", "doc_id", targetFrac = 0.5)
      .groupBy(col("lang")).agg(count(lit(1)).as("kept"))
    val base = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val rates = base.join(kept, Seq("lang"))
      .select(col("lang"), col("n"), (col("kept") / col("n")).as("rate"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // en dominates the corpus → its kept-rate must be the minimum
    val (nEn, rateEn) = rates("en")
    rates.foreach { case (_, (n, rate)) =>
      if (n < nEn) assert(rate >= rateEn)
    }
    // √-weighting with cap never drops a stratum entirely
    assert(rates.values.forall(_._2 > 0.0))
    // membership is content-derived: invariant under input partitioning
    val again = Mixing.temperatureMix(d.repartition(13), "lang", "doc_id",
      targetFrac = 0.5).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val first = Mixing.temperatureMix(d, "lang", "doc_id", targetFrac = 0.5)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(again === first)
  }

  test("Sampling.groupSplit: duplicate documents never straddle train/test") {
    import graft.operators.{Sampling, TextAnalysis}
    // the raw corpus has no exact dups — plant them, same rule as the
    // battery entry: every 10th doc re-enters under a shifted id
    val raw = Tables(spark, sf2, "documents").select(col("doc_id"), col("text"))
    val d = raw.unionByName(raw.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
    val out = Sampling.groupSplit(d, col("text"))
    // one split label per fingerprint group — the leakage-free contract
    assert(out.groupBy(col("grp_fp"))
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count() === 0L)
    // non-vacuous: the corpus carries multi-document groups (planted dups)
    val multi = out.groupBy(col("grp_fp")).count().filter(col("count") > 1)
    assert(multi.count() > 0L, "no duplicate groups — the invariant is vacuous")
    // contrast pin: the doc-id split DOES leak on this corpus (that failure
    // is the operator's reason to exist)
    val leaky = d.select(TextAnalysis.fingerprint(col("text")).as("fp"),
      Sampling.hashSplit(col("doc_id")).as("split"))
      .groupBy(col("fp")).agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(leaky > 0L, "doc-id split did not leak — contrast pin lost its bite")
    // split proportions stay near 80/10/10 at group granularity
    val byGroup = out.select(col("grp_fp"), col("split")).distinct()
    val frac = byGroup.filter(col("split") === "train").count().toDouble /
      byGroup.count()
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac")
  }

  test("Sampling.timeSplit: boundaries, embargo quarantine, integer cutoff") {
    import graft.operators.Sampling
    // range [0, 1000], 80% cutoff = 800, embargo 50 → train < 800,
    // embargo [800, 850), test ≥ 850
    val d = Seq(0L, 100L, 799L, 800L, 849L, 850L, 999L, 1000L).toDF("ts")
    val got = Sampling.timeSplit(d, col("ts"), trainPct = 80, embargo = 50L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(0L -> "train", 100L -> "train", 799L -> "train",
      800L -> "embargo", 849L -> "embargo",
      850L -> "test", 999L -> "test", 1000L -> "test"))
    // the leakage contract on the real corpus: max(train) < min(embargo)
    // ≤ ... < min(test), with the embargo gap exactly covering the window
    val ev = Tables(spark, sf2, "events")
      .select(expr("ts div 1000").as("ts_us"))
    val emb = 6L * 3600 * 1000 * 1000
    val spans = Sampling.timeSplit(ev, col("ts_us"), 80, emb)
      .groupBy(col("split"))
      .agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(spans("train")._2 < spans("embargo")._1 ||
      spans.get("embargo").isEmpty)
    assert(spans("test")._1 - spans("train")._2 > emb)
    // ns-magnitude cutoff arithmetic stays exact (the `div` vs `/` trap):
    // with min=0 and max = 1.6e18, the 80% boundary is exactly 1.28e18
    val big = Seq(0L, 1280000000000000000L - 1, 1280000000000000000L,
      1600000000000000000L).toDF("ts")
    val gotBig = Sampling.timeSplit(big, col("ts"), 80, 0L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotBig(1280000000000000000L - 1) === "train")
    assert(gotBig(1280000000000000000L) === "test")
  }

  test("Sampling.groupSplitByKey: a transitive near-dup family draws one split label") {
    // the documented near-dup composition: CC roots over a pair graph
    // become the split key, so the WHOLE transitive family (even docs never
    // directly paired) shares a label. Chain 1-2-3-4 is the case the
    // fingerprint form cannot handle: 1 and 4 are not near-dups of each
    // other, only transitively.
    import graft.operators.{Clustering, Sampling}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val roots = Clustering.connectedComponents(pairs) // (doc_id, cluster_id=min id)
      .withColumnRenamed("doc_id", "node_id")
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val keyed = docs.join(roots, docs("doc_id") === roots("node_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("grp")) // singleton = own group
    val out = Sampling.groupSplitByKey(keyed, col("grp"))
      .select(col("doc_id"), col("grp_fp"), col("split"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(Set(1L, 2L, 3L, 4L).map(out(_)).size === 1,
      s"chain family split across labels: $out")
    assert(Set(10L, 11L).map(out(_)).size === 1)
    // the singleton keeps its own key and a well-defined label
    assert(out(99L)._1 === "99")
  }

  test("Mixing.repeatExpand: dense copy ids, fractional rate tracks, both directions") {
    val d = Tables(spark, sf2, "documents")
    val out = Mixing.repeatExpand(d, "doc_id", "source",
      epochs = Map("src0" -> 2.3, "src1" -> 0.4))
    // every (doc, copy) pair unique; copy ids dense 1..n per doc
    val perDoc = out.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), countDistinct(col("copy_id")).as("nd"),
        min(col("copy_id")).as("lo"), max(col("copy_id")).as("hi"))
    assert(perDoc.filter(col("n") =!= col("nd") || col("lo") =!= 1L ||
      col("hi") =!= col("n")).count() === 0L)
    // upsampled source: every doc at least twice, total within [2x, 3x] and
    // near 2.3x; downsampled source: each surviving doc exactly once, rate
    // near 0.4; unlisted sources: exactly 1 copy each
    val srcN = d.groupBy(col("source")).agg(count(lit(1)).as("base"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val outN = out.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val r0 = outN("src0").toDouble / srcN("src0")
    assert(r0 >= 2.0 && r0 <= 3.0 && math.abs(r0 - 2.3) < 0.3, s"src0 rate $r0")
    // 25-doc source: the md5-bucket draw has real small-sample variance —
    // bound loosely here; the oracle pins every individual decision exactly
    val r1 = outN("src1").toDouble / srcN("src1")
    assert(r1 >= 0.1 && r1 <= 0.7, s"src1 rate $r1")
    assert(out.filter(col("source") === "src1").groupBy(col("doc_id"))
      .count().filter(col("count") > 1).count() === 0L)
    srcN.keys.filterNot(Set("src0", "src1")).foreach { s =>
      assert(outN(s) === srcN(s), s"source $s not at 1 epoch")
    }
    // pure function of the data: invariant under input partitioning
    val again = Mixing.repeatExpand(d.repartition(13), "doc_id", "source",
      epochs = Map("src0" -> 2.3, "src1" -> 0.4))
      .select(col("doc_id"), col("copy_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = out.select(col("doc_id"), col("copy_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === first)
  }

  test("Mixing.selectByTokenBudget: identical to the naive global-window greedy") {
    val d = Tables(spark, sf1, "documents")
    val budget = 3000L
    val got = Mixing.selectByTokenBudget(d, budget)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    // naive reference: one global cumulative window (correct but unscalable)
    val w = Window.orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = d.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got === ref)
    assert(got.nonEmpty && got.values.max <= budget)
  }

  test("Mixing.shardAssign: dense per-shard positions, balanced, deterministic") {
    val d = Tables(spark, sf2, "documents")
    val a = Mixing.shardAssign(d, "doc_id", shards = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byShard = a.groupBy(_._2)
    // every shard's positions are exactly 1..|shard| (a trainer can stream
    // shard files in pos order with no gaps)
    byShard.foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq)
    }
    // md5 sharding balances: no shard more than 2× the mean
    val sizes = byShard.view.mapValues(_.length).values
    assert(sizes.max <= 2 * (a.length / 16 + 1))
    // layout is a pure function of the key: invariant under repartition
    val again = Mixing.shardAssign(d.repartition(7), "doc_id", shards = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again === a.toSet)
  }

  // ---------------------------------------------------------------- semdedup

  /** Ground truth for the SemDeDup pins: the exact all-pairs dropped
    * set (ids with a smaller-id neighbor at cos ≥ τ) on the planted corpus.
    */
  private def exactDropped(dir: String, tau: Double): Set[Long] =
    Dedup.cosinePairs(
        Dedup.plantEmbeddingNearDups(Tables(spark, dir, "embeddings"))
          .localCheckpoint(),
        threshold = tau, dim = Tables.EmbeddingDim)
      .select(col("id_b")).collect().map(_.getLong(0)).toSet

  private def semDropped(dir: String, tau: Double): Set[Long] = {
    val e = Dedup.plantEmbeddingNearDups(Tables(spark, dir, "embeddings"))
      .localCheckpoint()
    val all = e.select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    val kept = SemDedup.semDedupSurvivors(e, tau = tau)
      .collect().map(_.getLong(0)).toSet
    all -- kept
  }

  test("SemDedup: precision exact, recall >= 0.8 vs blocked kernel (two scales)") {
    for (dir <- Seq(sf1, sf2)) {
      val exact = exactDropped(dir, 0.9)
      val sem = semDropped(dir, 0.9)
      assert(exact.nonEmpty, s"$dir: planted corpus must have true near-dups")
      // within-cell pairs are exact-verified → can only drop true dups
      assert(sem.subsetOf(exact), s"$dir: semdedup dropped a non-duplicate")
      val recall = sem.size.toDouble / exact.size
      assert(recall >= 0.8, s"$dir: semdedup recall $recall < 0.8")
    }
  }

  test("Decontam.splitLeakage: matches an independent recomputation; held side broadcasts") {
    val d = Tables(spark, sf2, "documents")
    val got = Decontam.splitLeakage(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // independent recomputation with the join orientation flipped
    val split = graft.operators.Sampling.hashSplit(col("doc_id"))
    val trainSh = Decontam.shingles(d.filter(split === "train"))
      .withColumnRenamed("doc_id", "train_id")
    val testSh = Decontam.shingles(d.filter(split === "test"))
    val ref = testSh.join(trainSh, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("shingle")).as("a"), countDistinct(col("train_id")).as("b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === ref)
    assert(got.nonEmpty, "corpus near-dups must straddle the 80/10/10 split")
    val plan = Decontam.splitLeakage(d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  // ---------------------------------------------------------------- plans

  test("plan pins: broadcast probes, no corpus-sized broadcast or nested loop") {
    val d = Tables(spark, sf2, "documents")
    // the benchmark shingle set probes the corpus under a broadcast hash
    // join — the corpus side must never shuffle on the shingle key
    val contPlan = Decontam.contaminated(
      corpus = d.filter(col("doc_id") % 7 =!= 0),
      bench = d.filter(col("doc_id") % 7 === 0))
      .queryExecution.executedPlan.toString
    assert(contPlan.contains("BroadcastHashJoin"), contPlan.take(2000))
    assert(!contPlan.contains("BroadcastNestedLoopJoin"))
    // stratum rates (#strata rows) broadcast back onto the corpus
    val mixPlan = Mixing.temperatureMix(d, "lang", "doc_id")
      .queryExecution.executedPlan.toString
    assert(mixPlan.contains("BroadcastHashJoin"), mixPlan.take(2000))
    // quality-bucket cumulative frame broadcasts; the corpus-side window
    // partitions by quality — never an unpartitioned corpus window
    val sel = Mixing.selectByTokenBudget(d, 8000L)
    val selPlan = sel.queryExecution.executedPlan.toString
    assert(selPlan.contains("BroadcastHashJoin"), selPlan.take(2000))
    // DSIR scoring is one shuffle-free pass (model vector is a plan
    // literal — no join), and selection is top-k, never a full sort
    val dsirSel = graft.operators.Sampling.dsirSelect(
      graft.operators.Sampling.dsirScores(d, col("text").contains("customer")),
      k = 50)
    val dsirPlan = dsirSel.queryExecution.executedPlan.toString
    assert(dsirPlan.contains("TakeOrderedAndProject"), dsirPlan.take(2000))
    assert(!dsirPlan.contains("Exchange"),
      "DSIR scoring+selection must not shuffle: " + dsirPlan.take(2000))
    assert(!dsirPlan.contains("Join"), dsirPlan.take(2000))
  }

  // ------------------------------------------------------------ span dedup

  test("SpanDedup: shared spans removed, unique text untouched") {
    val d = Seq(
      (1L, "h1 h2 h3 h4 h5 u1 u2"),     // shares the 5-token header with 2
      (2L, "h1 h2 h3 h4 h5 v1 v2 v3"),
      (3L, "w1 w2 w3 w4 w5 w6"),        // unique → unchanged
      (4L, "z1 z2 z3 z4 z5"),           // exact dup of 5 → fully covered
      (5L, "z1 z2 z3 z4 z5")
    ).toDF("doc_id", "text")
    val out = graft.operators.SpanDedup.stripDuplicatedSpans(d)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("u1 u2", 7L, 5L)))
    assert(out(2L) === (("v1 v2 v3", 8L, 5L)))
    assert(out(3L) === (("w1 w2 w3 w4 w5 w6", 6L, 0L)))
    assert(out(4L) === (("", 5L, 5L)))
    assert(out(5L) === (("", 5L, 5L)))
  }

  test("SpanDedup: overlapping duplicated spans cover the union of windows") {
    // docs share BOTH windows of a 6-token run: covered = positions 0..5
    val d = Seq(
      (1L, "a b c d e f tail1"),
      (2L, "a b c d e f tail2")
    ).toDF("doc_id", "text")
    val out = graft.operators.SpanDedup.stripDuplicatedSpans(d)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "tail1")
    assert(out(2L) === "tail2")
  }

  // ------------------------------------------------------- quality buckets

  test("Mixing.qualityBuckets: per-stratum tiers are ordered and balanced") {
    val out = Mixing.qualityBuckets(Tables(spark, sf2, "documents"), "source")
    val rows = out.collect()
    assert(rows.length === 500)
    // tile sizes within a stratum differ by at most 1 (ntile fill rule)
    rows.groupBy(_.getString(1)).foreach { case (src, rs) =>
      val sizes = rs.groupBy(_.getLong(3)).view.mapValues(_.length).values
      assert(sizes.max - sizes.min <= 1, s"unbalanced tiles in $src")
      // quality is non-increasing across tiers
      val byTile = rs.groupBy(_.getLong(3)).view
        .mapValues(_.map(_.getDouble(2))).toMap
      assert(byTile(1L).min >= byTile(2L).max - 1e-9)
      assert(byTile(2L).min >= byTile(3L).max - 1e-9)
    }
    val tiers = rows.map(_.getString(4)).toSet
    assert(tiers === Set("head", "middle", "tail"))
  }

  // ------------------------------------------------- bigrams and encoding

  test("TextAnalysis.bigramMerges: counts and deterministic tie-break") {
    val d = Seq((1L, "a b a b c"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramMerges(d, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("TextAnalysis.encodingSignal: hand-computed ratios") {
    val d = Seq((1L, "AB cd 12 �")).toDF("doc_id", "text")
    val r = d.select(TextAnalysis.encodingSignal(col("text")).as("e"))
      .select(col("e.*")).collect().head
    assert(r.getDouble(0) === 0.1)  // non-ascii: the replacement char
    assert(r.getDouble(1) === 0.1)  // replacement
    assert(r.getDouble(2) === 0.2)  // digits
    assert(r.getDouble(3) === 0.2)  // uppercase
  }

  // ------------------------------------------------------- embed outliers

  test("Curation.embedOutliers: cosine to centroid, hand case") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 0),   // centroid(0) ∝ (1,1)
      (3L, Array(-1.0f, -1.0f), 1),
      (4L, Array(-1.0f, -1.0f), 1)  // centroid(1) ∝ (-1,-1)
    ).toDF("vec_id", "embedding", "label")
    val out = graft.operators.Curation.embedOutliers(e, dim = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) === 0.7071)  // cos 45°
    assert(out(2L) === 0.7071)
    assert(out(3L) === 1.0)
    assert(out(4L) === 1.0)
  }

  test("Curation.embedOutliers: real corpus — bounded, flag consistent") {
    val out = graft.operators.Curation.embedOutliers(
      Tables(spark, sf2, "embeddings")).collect()
    assert(out.length === 500)
    out.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= -1.0001 && c <= 1.0001)
      assert(r.getBoolean(3) === (c < 0.0))
    }
  }

  // ------------------------------------------------------- curation funnel

  test("Curation.curationFunnel: monotone, every stage exercised, hand case") {
    import graft.operators.Curation
    val d = Seq(
      (1L, "good unique document with enough interesting tokens here"),
      (2L, "broken document �"),                 // encoding gate
      (3L, "same same duplicated content body"), // dup pair; 3 survives
      (4L, "same same duplicated content body"),
      (5L, "tiny"),                              // quality floor (short)
      (6L, "the benchmark overlap five gram window text body")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "benchmark overlap five gram window"))
      .toDF("doc_id", "text")
    val out = Curation.curationFunnel(d, bench, minQuality = 0.05)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("s0_raw") === 6L)
    assert(out("s1_encoding") === 5L)   // doc 2 out
    assert(out("s2_dedup") === 4L)      // doc 4 out (3 survives)
    assert(out("s3_quality") === 3L)    // doc 5 out at 0.05 floor
    assert(out("s4_decontam") === 2L)   // doc 6 out (shares the 5-gram)
    // funnel is monotone by construction — pin it anyway on real data
    val real = Curation.curationFunnel(
      Tables(spark, sf2, "documents").filter(col("doc_id") % 7 =!= 0),
      Tables(spark, sf2, "documents").filter(col("doc_id") % 7 === 0))
      .collect().sortBy(_.getString(0)).map(_.getLong(1))
    assert(real.sliding(2).forall(p => p(0) >= p(1)), real.mkString(","))
  }

  // --------------------------------------------- versioning and sampling

  test("Versioning.corpusDiff: added/removed/changed, whitespace-invariant") {
    import graft.operators.Versioning
    val v1 = Seq(
      (1L, "stable content here"),
      (2L, "will be removed"),
      (3L, "original text"),
      (4L, "spaced    out   text")
    ).toDF("doc_id", "text")
    val v2 = Seq(
      (1L, "stable content here"),
      (3L, "revised text"),
      (4L, "spaced out text"),   // same normalized fingerprint → unchanged
      (5L, "brand new doc")
    ).toDF("doc_id", "text")
    val out = Versioning.corpusDiff(v1, v2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(2L -> "removed", 3L -> "changed", 5L -> "added"))
  }

  test("HLL mergeable sketches: union of per-type sketches ≡ one-scan sketch, within 5% of exact") {
    val ev = Tables(spark, sf2, "events")
    val sk = ev.groupBy(col("event_type")).agg(hll_sketch_agg(col("user_id")).as("sk"))
    val viaUnion = sk.agg(hll_sketch_estimate(hll_union_agg(col("sk")))).head().getLong(0)
    val oneScan = ev.agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))).head().getLong(0)
    // register-wise max makes union-of-sketches EXACTLY the one-scan sketch
    assert(viaUnion === oneScan)
    val exact = ev.agg(countDistinct(col("user_id"))).head().getLong(0)
    assert(math.abs(viaUnion - exact).toDouble / exact <= 0.05,
      s"estimate $viaUnion vs exact $exact")
    // per-type estimates also track their exact counts
    val per = sk.select(col("event_type"), hll_sketch_estimate(col("sk")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val perExact = ev.groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perExact.foreach { case (t, n) =>
      assert(math.abs(per(t) - n).toDouble / n <= 0.05, s"$t: ${per(t)} vs $n")
    }
    // the metrics-store pattern: sketch BYTES persist to parquet and later
    // roll-ups aggregate from storage, never from raw data — the binary
    // must survive the round trip and union to the same estimate
    val dir = java.nio.file.Files.createTempDirectory("hll-store").toString
    sk.write.mode("overwrite").parquet(dir)
    val fromStore = spark.read.parquet(dir)
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))).head().getLong(0)
    assert(fromStore === viaUnion, "sketch bytes drifted through parquet")
  }

  test("curateToShards: dense shard positions, bench-disjoint, stages only shrink") {
    import graft.operators.{Curation, Decontam}
    val docs = Tables(spark, sf2, "documents")
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val out = Curation.curateToShards(corpus, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // every selected doc is a corpus doc (never a bench doc)
    assert(out.forall(_._1 % 7 != 0))
    // positions are dense 1..n per shard — the trainer's epoch-order contract
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length), s"shard $shard")
    }
    // decontamination really dropped every contaminated survivor
    val hitIds = Decontam.contaminated(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.forall(r => !hitIds.contains(r._1)))
    // composition can only shrink the curated set
    val curatedN = Curation.curateCorpus(corpus, 0.5, "en").count()
    assert(out.length <= curatedN)
  }

  test("Versioning.applyDiff ∘ corpusDiffRows reconstructs the new snapshot exactly") {
    import graft.operators.Versioning
    val v1 = Seq(
      (1L, "stable content here"),
      (2L, "will be removed"),
      (3L, "original text"),
      (4L, "spaced    out   text")
    ).toDF("doc_id", "text")
    val v2 = Seq(
      (1L, "stable content here"),
      (3L, "revised text"),
      (4L, "spaced out text"),
      (5L, "brand new doc")
    ).toDF("doc_id", "text")
    // the delta carries payload for added/changed only; removed rows are a
    // null-text tombstone
    val delta = Versioning.corpusDiffRows(v1, v2).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet
    assert(delta === Set(
      (2L, "removed", None),
      (3L, "changed", Some("revised text")),
      (5L, "added", Some("brand new doc"))))
    // round trip on the hand case: whitespace-unchanged doc 4 keeps its V1
    // byte form (fingerprint-identity means it never entered the delta)
    val rebuilt = Versioning.applyDiff(v1, Versioning.corpusDiffRows(v1, v2))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rebuilt === Map(1L -> "stable content here", 3L -> "revised text",
      4L -> "spaced    out   text", 5L -> "brand new doc"))
    // round trip on the real corpus with byte-level (non-normalizing) edits
    val d = Tables(spark, sf2, "documents").select(col("doc_id"), col("text"))
    val r1 = d.filter(col("doc_id") % 7 =!= 0)
    val r2 = d.filter(col("doc_id") % 5 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    val got = Versioning.applyDiff(r1, Versioning.corpusDiffRows(r1, r2))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = r2.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === want)
  }

  test("Sampling.weightedSamplePerStratum: exactly k, weight-biased, partition-invariant") {
    import graft.operators.Sampling
    val d = Tables(spark, sf2, "documents")
    val out = Sampling.weightedSamplePerStratum(
      d, col("doc_id"), col("lang"), col("n_chars").cast("double"), k = 25)
    val rows = out.select(col("lang"), col("doc_id"), col("n_chars"), col("es_rk"))
      .collect()
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      assert(rs.length === 25, s"$lang: ${rs.length}")
      assert(rs.map(_.getLong(3)).sorted.toSeq === (1L to 25L), s"$lang ranks")
    }
    // length weighting must bias the sample long: the sampled mean n_chars
    // exceeds the corpus mean (weights here span ~an order of magnitude)
    val sampleMean = rows.map(_.getLong(2)).sum.toDouble / rows.length
    val corpusMean = d.agg(avg(col("n_chars"))).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"no weight bias: sample $sampleMean vs corpus $corpusMean")
    // pure function of (key, weight): any physical layout draws the same rows
    val again = Sampling.weightedSamplePerStratum(
      d.repartition(13, col("source")), col("doc_id"), col("lang"),
      col("n_chars").cast("double"), k = 25)
      .select(col("doc_id"), col("es_rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === rows.map(r => (r.getLong(1), r.getLong(3))).toSet)
  }

  test("Sampling.reservoirPerStratum: exactly k, deterministic, dense ranks") {
    import graft.operators.Sampling
    val d = Tables(spark, sf2, "documents")
    val out = Sampling.reservoirPerStratum(d, col("doc_id"), col("lang"), k = 25)
      .select(col("lang"), col("doc_id"), col("rk")).collect()
    val byLang = out.groupBy(_.getString(0))
    byLang.foreach { case (lang, rs) =>
      assert(rs.length === 25, s"$lang: ${rs.length}")
      assert(rs.map(_.getLong(2)).sorted.toSeq === (1L to 25L), s"$lang ranks")
    }
    // determinism: a re-run over a repartitioned input picks the same rows
    val again = Sampling.reservoirPerStratum(
      d.repartition(7), col("doc_id"), col("lang"), k = 25)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(again === out.map(_.getLong(1)).toSet)
  }

  test("Relational.a11b: sketch percentiles land within rank tolerance of exact") {
    val exact = SparkEntry.queries("a11_percentiles")(spark, sf2).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val approx = SparkEntry.queries("a11b_approx_percentiles")(spark, sf2).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val li = Tables(spark, sf2, "lineitem").select(col("l_returnflag"),
      col("l_extendedprice")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    for ((flag, (a25, a50, a75)) <- approx) {
      assert(a25 <= a50 && a50 <= a75, s"$flag not monotone")
      for ((v, target) <- Seq((a25, 0.25), (a50, 0.5), (a75, 0.75))) {
        val xs = li(flag)
        val frac = xs.count(_ <= v).toDouble / xs.length
        assert(math.abs(frac - target) <= 0.01,
          s"$flag p$target: approx value $v sits at rank fraction $frac")
      }
      val (e25, e50, e75) = exact(flag)
      assert(math.abs(a50 - e50) / math.max(e50, 1.0) <= 0.05,
        s"$flag median drifted: $a50 vs exact $e50")
      assert(e25 <= e75) // exact sanity anchor so the fixture stays honest
    }
  }

  test("Sampling.importanceSample: keep rate tracks the weight") {
    import graft.operators.{Sampling, TextAnalysis}
    val d = Tables(spark, sf2, "documents")
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
    val kept = Sampling.importanceSample(
      Tables(spark, sf2, "documents"), col("doc_id"),
      TextAnalysis.qualityScore(col("text")))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val all = d.collect().map(r => r.getLong(0) -> r.getDouble(1))
    val med = all.map(_._2).sorted.apply(all.length / 2)
    def rate(p: ((Long, Double)) => Boolean) = {
      val xs = all.filter(p); xs.count(x => kept(x._1)).toDouble / xs.length
    }
    val hi = rate(_._2 >= med); val lo = rate(_._2 < med)
    assert(hi > lo, s"high-quality keep rate $hi not above low-quality $lo")
    // the keep rate approximates the mean weight (md5 buckets are uniform)
    val meanQ = all.map(_._2).sum / all.length
    val overall = kept.size.toDouble / all.length
    assert(math.abs(overall - meanQ) <= 0.1, s"keep rate $overall vs mean weight $meanQ")
  }

  test("Packing.reassembleChunks: round trip holds incl. clipped windows") {
    import graft.operators.Packing
    val d = Seq(
      (1L, (1 to 50).map(i => s"t$i").mkString(" ")), // multi-span
      (2L, "short doc"),                              // single clipped span
      (3L, (1 to 32).map(i => s"u$i").mkString(" ")), // exactly one width
      (4L, (1 to 33).map(i => s"v$i").mkString(" "))  // one token past width
    ).toDF("doc_id", "text")
    val out = Packing.reassembleChunks(d, width = 32, overlap = 8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out.size === 4 && out.values.forall(identity), out.toString)
    // and on the real corpus at the battery's parameters
    val real = Packing.reassembleChunks(
      Tables(spark, sf2, "documents"), width = 32, overlap = 8).collect()
    assert(real.length === 500)
    assert(real.forall(_.getBoolean(1)), "round-trip broke on real docs")
  }

  test("SemDedup: cells genuinely prune the pairwise work") {
    val e = Dedup.plantEmbeddingNearDups(Tables(spark, sf2, "embeddings"))
      .localCheckpoint()
    val cents = graft.operators.Similarity.kMeansCentroids(e, cells = 10, iters = 3)
    val sizes = graft.operators.Similarity.kMeansAssign(e, cents)
      .groupBy(col("cell")).count().collect().map(_.getLong(1))
    val n = sizes.sum
    val scored = sizes.map(s => s * (s - 1) / 2).sum.toDouble
    val full = n * (n - 1) / 2.0
    // Σ|cell|²/2 must be well below N²/2 — the whole point of the cells
    assert(scored / full <= 0.5,
      s"within-cell pair fraction ${scored / full} — clustering isn't pruning")
  }

  test("SemDedup: a fully-skewed cell stays under the per-task pair budget; " +
    "survivors unchanged by the re-split") {
    // cells=1 is the one-giant-cell pathology taken to 100% (every vector in
    // one cell), deterministically — no dependence on where k-means happens
    // to put a planted skew. The pair-count budget must fan the cell out
    // across cross-salt-block tasks without changing semantics: every
    // within-cell pair still meets exactly once, so survivors are IDENTICAL
    // to the unsplit (blocks=1) kernel.
    val e = Dedup.plantEmbeddingNearDups(Tables(spark, sf1, "embeddings"))
      .localCheckpoint()
    val n = e.count()
    val budget = 1024L
    val b = graft.operators.SemDedup.deriveBlocks(spark, n, Tables.EmbeddingDim, budget)
    assert(b > 1, s"budget $budget over $n vectors must force a re-split, got b=$b")
    val perTask = math.pow(math.ceil(n.toDouble / b), 2)
    assert(perTask <= budget * 1.05,
      s"per-task pair bound violated: ceil($n/$b)² = $perTask > $budget")
    def survivors(blocks: Int, budgetOpt: Long) =
      graft.operators.SemDedup.semDedupSurvivors(e, tau = 0.9, cells = 1,
        iters = 1, blocks = blocks, maxPairsPerTask = budgetOpt)
        .collect().map(_.getLong(0)).toSet
    val split = survivors(blocks = 0, budgetOpt = budget)
    val unsplit = survivors(blocks = 1, budgetOpt = Long.MaxValue)
    assert(split === unsplit,
      s"re-split changed survivors: missing=${(unsplit -- split).take(5)} " +
        s"extra=${(split -- unsplit).take(5)}")
    assert(split.size < n, "planted near-dups must actually drop rows")
  }

  test("Curation.stripBoilerplateLines: hand case — banners strip, order " +
    "holds, emptied docs stay") {
    import graft.operators.Curation
    val d = Seq(
      (1L, "banner\nunique one\nfooter"),
      (2L, "banner\nunique two"),
      (3L, "unique three\nbanner\nfooter"),
      (4L, "footer\nbanner"), // nothing survives
      (5L, "unique five"),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // banner ×4 docs and footer ×3 docs are boilerplate at minDocs=3;
    // footer in only-3 sits exactly AT the threshold
    val r = Curation.stripBoilerplateLines(d, minDocs = 3)
      .collect().map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r.size === 5, "null text filtered, emptied doc kept")
    assert(r(1L) === (("unique one", 2L)))
    assert(r(2L) === (("unique two", 1L)))
    assert(r(3L) === (("unique three", 2L)))
    assert(r(4L) === (("", 2L)), "fully-boilerplate doc must surface empty, not vanish")
    assert(r(5L) === (("unique five", 0L)))
    // multi-line survivors keep original order
    val ordered = Curation.stripBoilerplateLines(
      Seq((1L, "z last\nbanner\na first"), (2L, "banner\nmid"), (3L, "banner"))
        .toDF("doc_id", "text"), minDocs = 3)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(ordered(1L) === "z last\na first", "line order must be positional, not sorted")
  }

  // ------------------------------------------------- quality classifier

  // ------------------------------------------------- gopher rules / sources

  test("Curation.gopherRules: hand-computed rule flags") {
    import graft.operators.Curation
    val d = Seq(
      // 50 alpha words incl 'the a' → every rule passes
      (1L, ("the a " + Seq.fill(48)("word").mkString(" "))),
      // 10 words only → word-count fail, others pass
      (2L, "the a word word word word word word word word"),
      // symbol-heavy: '#'×14 + '...'×3 over 57 words → symbol fail
      (3L, ("the a " + Seq.fill(48)("word").mkString(" ") +
        " ### #### ## ... ... ... ##")),
      // numeric flood → alpha fail
      (4L, ("the a " + Seq.fill(48)("word").mkString(" ") + " " +
        Seq.fill(30)("123").mkString(" "))),
      // one 800-char token → mean-word-length fail
      (5L, ("the a " + Seq.fill(48)("word").mkString(" ") + " " + "x" * 800)),
      // no required stopwords → stop-hits fail
      (6L, Seq.fill(50)("word").mkString(" ")),
      (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = Curation.gopherRules(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r.size === 6, "null text filtered")
    assert(r(1L).getBoolean(6), "doc 1 passes all rules")
    assert(!r(2L).getBoolean(6) && r(2L).getLong(1) === 10L)
    assert(!r(3L).getBoolean(6) &&
      r(3L).getAs[Double]("symbol_ratio") > 0.1)
    assert(!r(4L).getBoolean(6) &&
      r(4L).getAs[Double]("alpha_ratio") < 0.8)
    assert(!r(5L).getBoolean(6) &&
      r(5L).getAs[Double]("mean_word_len") > 10.0)
    assert(!r(6L).getBoolean(6) && r(6L).getLong(5) === 0L)
    // doc 1's exact metrics: 50 words, all alpha, no symbols, 2 stop hits
    assert(r(1L).getLong(1) === 50L && r(1L).getAs[Double]("alpha_ratio") === 1.0
      && r(1L).getAs[Double]("symbol_ratio") === 0.0 && r(1L).getLong(5) === 2L)
  }

  test("Curation.gopherRules: battery plant fires every rule at sf0.01") {
    val r = graft.SparkEntry.queries("curate_gopher_rules")(spark, sf2)
    val agg = r.agg(
      sum(when(col("symbol_ratio") >= 0.1, 1L).otherwise(0L)),
      sum(when(col("alpha_ratio") < 0.8, 1L).otherwise(0L)),
      sum(when(col("mean_word_len") > 10.0, 1L).otherwise(0L)),
      sum(when(!col("pass"), 1L).otherwise(0L)),
      sum(when(col("pass"), 1L).otherwise(0L))).head()
    assert((0 to 4).forall(i => agg.getLong(i) > 0L),
      s"every rule class populated: $agg")
  }

  test("Curation.sourceStats: planted boilerplate sources flag, others don't") {
    val r = graft.SparkEntry.queries("curate_source_stats")(spark, sf2)
      .collect().map(x => x.getString(0) -> x).toMap
    val planted = Set("src3", "src7", "src11")
    planted.foreach { s =>
      assert(r(s).getAs[Boolean]("flagged"), s"$s must flag")
      assert(r(s).getAs[Double]("dup_rate") > 0.2, s"$s dup rate")
    }
    (r.keySet -- planted).foreach { s =>
      assert(!r(s).getAs[Boolean]("flagged"), s"$s must not flag")
      assert(r(s).getAs[Double]("dup_rate") === 0.0, s"$s has no dups")
    }
    // counts are conserved: every doc lands in exactly one source row
    assert(r.values.map(_.getAs[Long]("n_docs")).sum === 500L)
  }

  test("Curation.crossSourceDups: shared contents pair sources, hand case") {
    import graft.operators.Curation
    val d = Seq(
      (1L, "x", "s1"), (2L, "x", "s2"), (3L, "x", "s3"), // x in 3 sources
      (4L, "y", "s1"), (5L, "y", "s2"),                  // y in 2
      (6L, "y", "s1"),                                   // within-source dup collapses
      (7L, "z", "s3"),                                   // unique content
      (8L, null.asInstanceOf[String], "s1"),
      (9L, null.asInstanceOf[String], "s2"))             // nulls ignored
      .toDF("doc_id", "text", "source")
    val r = Curation.crossSourceDups(d).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(r === Map(("s1", "s2") -> 2L, ("s1", "s3") -> 1L, ("s2", "s3") -> 1L))
  }

  // ------------------------------------------------------------------ dsir

  test("Sampling DSIR: ref-like raw docs outrank crawl and dominate selection") {
    import graft.operators.Sampling
    // target register (ref vocab) + raw pool hiding 100 ref-like docs among
    // 400 crawl docs; DSIR must score and select the hidden ref-like ones
    val ref = Seq("clause", "therefore", "moreover", "concise", "verified")
    val crawl = Seq("zzz", "clickety", "spam", "w00t", "blarg")
    val mk = (vocab: Seq[String], id: Long) =>
      (0 until 12).map(i => vocab(((id + i) % vocab.size).toInt)).mkString(" ")
    val d = (0L until 600L).map { id =>
      if (id < 100L) (id, mk(ref, id), true)        // target exemplars
      else if (id < 200L) (id, mk(ref, id), false)  // ref-like, hidden in raw
      else (id, mk(crawl, id), false)               // crawl
    }.toDF("doc_id", "text", "is_tgt_label")
    val scored = Sampling.dsirScores(d, col("is_tgt_label"))
    val m = scored.filter(!col("is_tgt"))
      .groupBy((col("doc_id") < 200).as("reflike"))
      .agg(avg(col("log_w")).as("w")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(m(true) > m(false) + 5.0,
      s"ref-like raw docs must outscore crawl decisively: $m")
    val sel = Sampling.dsirSelect(scored, k = 80).collect()
    assert(sel.length === 80)
    val nRef = sel.count(_.getLong(0) < 200L)
    assert(nRef >= 72, s"$nRef/80 selected docs are ref-like (expect ≥90%)")
    // the whole path is a pure function of the data: rerun is identical
    val sel2 = Sampling.dsirSelect(
      Sampling.dsirScores(d, col("is_tgt_label")), k = 80).collect()
    assert(sel.map(_.getLong(0)).toSeq === sel2.map(_.getLong(0)).toSeq)
  }

  test("Sampling DSIR: empty register is no-evidence, not a gate violation") {
    import graft.operators.Sampling
    // no doc matches the target predicate → the register-mean comparison is
    // NULL; the gate must report 0 (matching the oracle's constant), not 1
    val d = (0L until 40L).map(id => (id, s"doc $id body"))
      .toDF("doc_id", "text")
    val inv = Sampling.dsirInvariants(d, col("text").contains("nosuchword"),
      k = 10).collect().head
    assert(inv.getAs[Long]("n_tgt") === 0L)
    assert(inv.getAs[Long]("tgt_mean_not_above") === 0L)
  }

  test("Sampling DSIR: battery entry shape at sf0.01") {
    val sel = graft.SparkEntry.queries("sample_dsir")(spark, sf2).collect()
    assert(sel.length === 50)
    assert(sel.map(_.getLong(0)).distinct.length === 50)
    assert(sel.forall(r => !r.getDouble(1).isNaN && !r.getDouble(2).isNaN))
  }

  test("QualityClassifier: learns a planted two-register corpus") {
    import graft.operators.QualityClassifier
    // two disjoint vocabularies, deterministic round-robin text (no RNG)
    val ref = Seq("clause", "therefore", "moreover", "concise", "verified")
    val crawl = Seq("zzz", "clickety", "spam", "w00t", "blarg")
    val mk = (vocab: Seq[String], id: Long) =>
      (0 until 12).map(i => vocab(((id + i) % vocab.size).toInt)).mkString(" ")
    val d = (0L until 600L).map { id =>
      if (id % 2 == 0) (id, mk(ref, id), 1) else (id, mk(crawl, id), 0)
    }.toDF("doc_id", "text", "is_ref")
    val scored = QualityClassifier.trainScore(d, col("is_ref") === 1)
    val acc = QualityClassifier.heldOutAccuracy(scored)
    assert(acc >= 0.95, s"held-out accuracy $acc on separable registers")
    // scores are probabilities and ref rows rank above crawl on average
    val m = scored.groupBy(col("label")).agg(avg(col("p_ref")).as("p")).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(m(1.0) > 0.9 && m(0.0) < 0.1, s"mean p_ref by class: $m")
  }

  test("QualityClassifier: held-out accuracy on a text-derived register") {
    import graft.operators.QualityClassifier
    // the synthetic corpus shares one vocabulary across lang/source, so the
    // only learnable labels are text-derived; "mentions customer" is
    // perfectly expressible in hashed-TF space and must separate cleanly
    val scored = QualityClassifier.trainScore(
      graft.Tables(spark, sf2, "documents"), col("text").contains("customer"))
    val acc = QualityClassifier.heldOutAccuracy(scored)
    assert(acc >= 0.9, s"held-out accuracy $acc on contains(customer) at sf0.01")
  }

  test("chunkDocuments: lossless overlapped cover, idempotent ids, empty-doc-free") {
    import spark.implicits._
    val window = 7; val overlap = 3; val stride = window - overlap
    // lengths straddling every boundary case: empty, shorter than stride,
    // exactly stride/window, one past window, long
    val docs = Seq(0, 1, 3, 4, 7, 8, 23, 100).zipWithIndex.map { case (n, i) =>
      (i.toLong, ("abcdefghij" * 12).take(n))
    }.toDF("doc_id", "text")
    // the splitter is a map-only generate+project: ZERO exchanges at any SF
    val plan = TextAnalysis.chunkDocuments(docs, window, overlap)
      .queryExecution.executedPlan
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.isEmpty, s"chunking must not shuffle:\n$plan")
    val chunks = TextAnalysis.chunkDocuments(docs, window, overlap)
      .orderBy("doc_id", "chunk_idx").collect()
    assert(!chunks.exists(_.getLong(0) === 0L), "empty doc must produce no chunks")
    val byDoc = chunks.groupBy(_.getLong(0))
    for ((id, cs) <- byDoc) {
      val text = docs.filter(col("doc_id") === id).head().getString(1)
      // count: ceil(n / stride); indices dense from 0
      assert(cs.length === (text.length + stride - 1) / stride, s"doc $id count")
      assert(cs.map(_.getInt(1)).toSeq === (0 until cs.length), s"doc $id idx")
      // every chunk is the exact substring at its recorded offset
      for (c <- cs) {
        val start = c.getLong(2).toInt
        val t = c.getString(3)
        assert(t === text.substring(start, math.min(start + window, text.length)),
          s"doc $id chunk ${c.getInt(1)} content")
        assert(c.getLong(4) === t.length.toLong)
      }
      // lossless reconstruction: stride-prefixes of all but the last chunk,
      // then the last chunk whole
      val rebuilt = cs.dropRight(1).map(_.getString(3).take(stride)).mkString +
        cs.last.getString(3)
      assert(rebuilt === text, s"doc $id reconstruction")
      // consecutive chunks share exactly the overlap region
      for (Array(a, b) <- cs.sliding(2).filter(_.length == 2)) {
        val shared = a.getString(3).drop(stride)
        assert(b.getString(3).startsWith(shared), s"doc $id overlap continuity")
      }
    }
  }

  test("collocations: planted phrase tops by lift; count floor; hand numbers") {
    // "san francisco" co-occurs ONLY with itself (6 docs); the fillers are
    // corpus-wide — its lift must strictly dominate while every filler
    // pair lands at the same baseline
    val docs = (
      Seq.tabulate(6)(i => (i.toLong, "alpha beta san francisco alpha beta")) ++
      Seq.tabulate(6)(i => (i + 6L, "alpha beta gamma alpha beta gamma"))
    ).toDF("doc_id", "text")
    val out = TextAnalysis.collocations(docs, minCount = 5, topK = 50)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // hand numbers: N_uni = 72, N_bi = 60; c(san)=c(francisco)=6,
    // c12 = 6 → lift = 6·72²/(60·6·6) = 14.4; filler pairs score 3.6
    // except (gamma, alpha) whose ends are both common: 6·72²/(60·12·24)
    // = 1.8 — the PMI property (rare-and-faithful beats common) in one row
    assert(out.head === (("san", "francisco", 6L, 14.4)))
    out.tail.foreach { case (w1, w2, _, lift) =>
      val want = if ((w1, w2) == (("gamma", "alpha"))) 1.8 else 3.6
      assert(lift === want, s"$w1 $w2")
    }
    // the floor prunes: a pair seen < 5 times (delta tail) never appears
    val withTail = docs.union(
      Seq((99L, "delta epsilon")).toDF("doc_id", "text"))
    val pruned = TextAnalysis.collocations(withTail, minCount = 5, topK = 50)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!pruned.contains(("delta", "epsilon")))
  }
}
