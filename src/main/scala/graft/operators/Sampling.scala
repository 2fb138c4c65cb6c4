package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fn.Ranking

/** Deterministic sampling / split assignment for training-data pipelines.
  *
  * The split a document lands in must be a pure function of a STABLE key —
  * never `rand()` — so that (a) the same corpus produces the same split on
  * every run, cluster, and engine; (b) re-ingesting an updated corpus keeps
  * unchanged documents in their split (no train/test leakage across
  * versions); (c) downstream joins can re-derive membership instead of
  * shipping an assignment table. This is the standard hash-split used by
  * large-scale training pipelines.
  *
  * The hash is MD5 of the decimal string of the key — deliberately chosen
  * over xxhash64/murmur because every engine computes the identical digest
  * (the DuckDB oracle reproduces the assignment bit-for-bit, which is the
  * point: the split IS portable). Cost is irrelevant here — one digest per
  * row at ingest, not in a pairwise loop.
  *
  * Scale: embarrassingly parallel projection; no shuffle, no state.
  */
object Sampling {

  /** Bucket in [0, buckets) from the MD5 of the key's decimal string. The
    * first 8 hex chars (32 bits) are uniform and fit a long exactly.
    */
  def hashBucket(key: Column, buckets: Int = 100): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Train/validation/test assignment with the given percentage cut points
    * (defaults 80/10/10).
    */
  def hashSplit(key: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = hashBucket(key)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Deterministic Bernoulli sample: keep rows whose bucket falls under
    * `pct` — the hash-stable analog of `TABLESAMPLE (pct PERCENT)`.
    */
  def hashSample(df: DataFrame, key: Column, pct: Int): DataFrame =
    df.filter(hashBucket(key) < pct)

  /** Leakage-aware split: train/val/test assigned per DEDUP GROUP rather
    * than per document. [[hashSplit]] on the document id is correct only
    * when rows are independent; a corpus carrying (near-)duplicates leaks —
    * two copies of one document land in train and test, and the eval set
    * scores memorization ([[graft.operators.Decontam.splitLeakage]] AUDITS
    * exactly that failure; this operator closes it BY CONSTRUCTION). The
    * split key is the exact-dedup fingerprint
    * ([[graft.operators.TextAnalysis.fingerprint]]: md5 of lowercased,
    * space-collapsed text), so every document sharing normalized content
    * shares the split label. For near-dup-transitive groups, key the same
    * rule on [[graft.operators.Clustering.connectedComponents]]' cluster
    * root instead — the assignment stays a pure function of the group key.
    *
    * Scale: the fingerprint and bucket are per-row codegen'd projections —
    * no shuffle, no join, same shape as [[hashSplit]].
    */
  def groupSplit(df: DataFrame, textCol: Column,
                 trainPct: Int = 80, valPct: Int = 10): DataFrame =
    groupSplitByKey(df, graft.operators.TextAnalysis.fingerprint(textCol),
      trainPct, valPct)

  /** [[groupSplit]] over an EXTERNAL group key — the near-dup form: feed
    * the cluster root from [[graft.operators.Clustering.connectedComponents]]
    * (or any canonical entity key from `Linkage.resolveEntities`) and the
    * whole transitive near-dup family draws one split label. Same pure
    * projection; the only cost is whatever join attached the group key.
    */
  def groupSplitByKey(df: DataFrame, groupKey: Column,
                      trainPct: Int = 80, valPct: Int = 10): DataFrame =
    df.withColumn("grp_fp", groupKey.cast("string"))
      .withColumn("split", hashSplit(col("grp_fp"), trainPct, valPct))

  /** Stratified deterministic sample: a per-stratum keep percentage (the
    * standard corpus-rebalance move — down-sample the dominant language,
    * keep all of the rare ones), with `defaultPct` for strata not in the
    * map. Same determinism contract as [[hashSample]]: membership is a pure
    * function of (key, stratum, pct map) — NOT `df.stat.sampleBy`, whose
    * Bernoulli draw depends on seed + partition iteration order and so
    * changes under repartitioning, engine version, or re-ingest.
    *
    * Scale: the pct map folds into one codegen'd CASE expression — a pure
    * projection+filter, no shuffle, no join, pushdown-friendly.
    */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
                       pcts: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    val pctCol = pcts.foldLeft(lit(defaultPct)) { case (acc, (k, p)) =>
      when(stratum === lit(k), lit(p)).otherwise(acc)
    }
    df.filter(hashBucket(key) < pctCol)
  }

  /** Deterministic "reservoir" of exactly `k` rows per stratum: rank rows
    * within each stratum by (md5(key), key) — a uniform pseudo-random but
    * run-stable order — and keep the first k. The balanced-eval-set
    * builder: every language/source contributes the same row count
    * regardless of its corpus share (contrast [[stratifiedSample]], which
    * keeps a per-stratum RATE).
    *
    * A true streaming reservoir trades determinism for one pass; this form
    * pays one window shuffle partitioned by stratum and keeps the
    * pure-function-of-key contract, which is what a training pipeline
    * actually wants (re-runs and engines agree on the sample).
    */
  def reservoirPerStratum(df: DataFrame, key: Column, stratum: Column,
                          k: Int): DataFrame = {
    Ranking.topK(df, Seq(stratum), Seq(md5(key.cast("string")), key), k, "rk")
      .withColumn("rk", col("rk").cast("long"))
  }

  /** Weighted sampling WITHOUT replacement, exactly `k` per stratum
    * (Efraimidis–Spirakis, Inf. Process. Lett. 97(5), 2006): each row draws
    * a deterministic uniform u from its md5 bucket and ranks by
    * ln(u)/weight descending — the top k are a weighted sample where a row's
    * inclusion odds scale with its weight, with no replacement and no
    * global coin flips. The distributed form is exactly the paper's A-ES:
    * per-partition top-k (the window's partial WindowGroupLimit) then one
    * stratum-partitioned shuffle.
    *
    * Engine portability: u = (bucket + 0.5) / 2^32 is exact in a double;
    * ln() may differ between runtimes in the last ulp, so the rank key is
    * the SCALED LONG round(ln(u)/w × 1e12) — integer comparison is exact in
    * both engines, and the 5e-13 absolute quantization stays ≤ ~1e-8
    * relative even for the largest weights in the corpus (ln(u)/w shrinks
    * toward 0 as w grows, so a fixed absolute grid must sit far below the
    * smallest key magnitude — 6 decimals did not: at w≈5000 it was ~1e-3
    * relative and broke ties systematically toward low doc_id). Ties on the
    * long key (ulp-level collisions only) still break on the sample key.
    */
  def weightedSamplePerStratum(df: DataFrame, key: Column, stratum: Column,
                               weight: Column, k: Int): DataFrame = {
    val bucket = conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long")
    val u = (bucket.cast("double") + 0.5) / 4294967296.0
    val esKey = round(log(u) / weight * 1e12).cast("long")
    Ranking.topK(df.filter(weight > 0), Seq(stratum), Seq(esKey.desc, key), k, "es_rk")
      .withColumn("es_rk", col("es_rk").cast("long"))
  }

  /** Importance (quality-weighted) sampling: each row's keep probability IS
    * its weight in [0,1] — the soft alternative to a hard quality floor
    * (a 0.9-quality doc survives 9× as often as a 0.1 one, but nothing is
    * censored outright). Deterministic like every sampler here: the row's
    * md5 bucket is compared to `round(weight × buckets)` — `round`, not
    * `floor`, because the weight is a round4 decimal whose ×10000 image
    * must map to the same integer in both engines despite double
    * representation (0.1234 × 10000 = 1233.999…; floor would flip it).
    */
  def importanceSample(df: DataFrame, key: Column, weight: Column): DataFrame =
    df.filter(hashBucket(key, RateBuckets) <
      round(weight * RateBuckets).cast("long"))

  private val RateBuckets = 10000

  /** Hashed-bigram feature buckets for [[dsirScores]] — each document's
    * bigrams mapped to `buckets` hash features (the hashing trick: fixed
    * dimensionality, no vocabulary build).
    */
  def bigramBuckets(textCol: Column, buckets: Int): Column = {
    val toks = graft.operators.TextAnalysis.tokens(lower(textCol))
    val len = greatest(size(toks) - 1, lit(0))
    val bgs = zip_with(slice(toks, lit(1), len), slice(toks, lit(2), len),
      (a, b) => concat_ws(" ", a, b))
    transform(bgs, b => pmod(xxhash64(b), lit(buckets)).cast("int"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    * pick raw-corpus documents whose hashed-bigram profile resembles a
    * target corpus. Two add-1-smoothed bag-of-features models are estimated
    * (target vs raw); each document scores
    * `log w = Σ_bigram [log p_tgt(b) − log p_raw(b)]`.
    *
    * Scale shape: count estimation explodes bigrams but shuffles only
    * (bucket, partial-count) pairs after map-side combine — bounded by
    * `buckets`, not the corpus; the two model vectors (≤ `buckets` doubles)
    * collect to the driver (size-bounded by construction, like the IVF
    * centroid sync) and re-enter the plan as ONE literal array, so scoring
    * is a single shuffle-free codegen'd pass — the aggregate() lambda only
    * touches its arguments and a constant literal, so nothing re-evaluates
    * per element. No corpus-sized shuffle, join, or UDF anywhere.
    */
  def dsirScores(d: DataFrame, isTarget: Column,
                 buckets: Int = 4096): DataFrame = {
    val base = d.filter(col("text").isNotNull)
      .select(col("doc_id"), isTarget.as("is_tgt"),
        bigramBuckets(col("text"), buckets).as("bs"))
    val counts = base.select(col("is_tgt"), explode(col("bs")).as("b"))
      .groupBy(col("b"))
      .agg(sum(when(col("is_tgt"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("is_tgt"), 1L).otherwise(0L)).as("cr"))
      .collect()
    val ct = new Array[Long](buckets)
    val cr = new Array[Long](buckets)
    counts.foreach { r =>
      ct(r.getInt(0)) = r.getLong(1); cr(r.getInt(0)) = r.getLong(2)
    }
    val totT = ct.sum.toDouble + buckets
    val totR = cr.sum.toDouble + buckets
    val logRatio: Seq[Double] = (0 until buckets).map(i =>
      math.log((ct(i) + 1) / totT) - math.log((cr(i) + 1) / totR))
    val lr = typedLit(logRatio)
    base.select(col("doc_id"), col("is_tgt"),
      round(aggregate(col("bs"), lit(0.0),
        (acc, b) => acc + element_at(lr, b + 1)), 4).as("log_w"))
  }

  /** Gumbel top-k resampling over [[dsirScores]] output: keep the k raw
    * (non-target) documents with the largest `log w + Gumbel noise` — a
    * without-replacement sample ∝ w, with the noise derived from the row's
    * md5 bucket so the draw is a pure function of the data (the
    * deterministic-sampling contract every sampler here keeps). One
    * TakeOrderedAndProject; no full sort.
    */
  /** Raw-register rows with their deterministic Gumbel keys — shared by
    * [[dsirSelect]] and [[dsirInvariants]] so the selection and its gate can
    * never drift apart on the key formula.
    */
  def gumbelKeys(scored: DataFrame): DataFrame = {
    val u = (hashBucket(col("doc_id"), RateBuckets).cast("double") + lit(0.5)) /
      RateBuckets
    scored.filter(!col("is_tgt"))
      .withColumn("gumbel", round(col("log_w") - log(-log(u)), 4))
  }

  def dsirSelect(scored: DataFrame, k: Int): DataFrame =
    gumbelKeys(scored)
      .orderBy(col("gumbel").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("log_w"), col("gumbel"))

  /** DSIR semantic gate (the `pack_bins_ffd_check` pattern): conservation
    * columns DuckDB derives independently from raw `documents` (target/raw
    * register sizes, expected selection size min(k, n_raw)) plus violation
    * counters pinned at zero — the selection draws only from the raw
    * register, it is EXACTLY the top-k under (gumbel DESC, doc_id): no
    * unselected raw doc may strictly precede the last selected one, and the
    * planted-target monotonicity the importance model exists to produce
    * holds: the mean log importance weight of target-register docs exceeds
    * the raw-register mean (Σ_b ĉt(b)·[log p̂_t(b) − log p̂_r(b)] is a scaled
    * KL divergence — positive whenever the registers actually differ).
    */
  def dsirInvariants(d: DataFrame, isTarget: Column, k: Int): DataFrame = {
    // checkpoint the scored frame: four invariant branches (counts, the
    // selection, the raw-register semi-join, the unselected anti-join)
    // reference it, and each reference would otherwise re-run the whole
    // tokenize + bigram-hash + score pass over the corpus in the final
    // assembly plan; `sel` (k rows) is likewise reused by three branches
    val scored = dsirScores(d, isTarget).localCheckpoint()
    val sel = dsirSelect(scored, k).localCheckpoint()
    dsirInvariantsOn(scored, sel)
  }

  /** The verification half of [[dsirInvariants]] against a CALLER-SUPPLIED
    * selection — the seam that makes the `sample_dsir_check` gate provably
    * non-vacuous: production passes [[dsirSelect]]'s output (via
    * [[dsirInvariants]], identical plan), while GateSpec passes a tampered
    * selection (a top-k row swapped for a non-top-k one) and asserts
    * `topk_violations` fires. `sel` must carry `doc_id` and the `gumbel`
    * key as produced by [[gumbelKeys]] over the same scored frame.
    */
  private[graft] def dsirInvariantsOn(scored: DataFrame, sel: DataFrame): DataFrame = {
    val counts = scored.agg(
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("n_tgt"),
        sum(when(!col("is_tgt"), 1L).otherwise(0L)).as("n_raw"),
        (avg(when(col("is_tgt"), col("log_w"))) >
          avg(when(!col("is_tgt"), col("log_w")))).as("sep"))
      .select(col("n_tgt"), col("n_raw"),
        // an empty register makes the avg() comparison NULL — that is the
        // degenerate no-evidence case, not a violation (the oracle's other
        // columns degrade gracefully the same way via SUM/LEAST)
        when(col("n_tgt") === 0L || col("n_raw") === 0L, 0L)
          .otherwise(when(col("sep"), 0L).otherwise(1L))
          .as("tgt_mean_not_above"))
    val nSel = sel.agg(count(lit(1)).cast("long").as("n_selected"))
    val selNotRaw = sel
      .join(scored.filter(col("is_tgt")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).cast("long").as("selected_not_raw"))
    // the selection boundary = the LAST selected row under the ordering
    // (min gumbel; max doc_id among its ties)
    val bound = sel
      .agg(min(struct(col("gumbel"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("b.gumbel").as("g0"), (-col("b.nid")).as("id0"))
    val unsel = gumbelKeys(scored)
      .join(sel.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val topk = unsel.crossJoin(bound)
      .agg(coalesce(sum(when(
        col("gumbel") > col("g0") ||
          (col("gumbel") === col("g0") && col("doc_id") < col("id0")), 1L)
        .otherwise(0L)), lit(0L)).as("topk_violations"))
    counts.crossJoin(nSel).crossJoin(selNotRaw).crossJoin(topk)
  }

  /** Forward-chaining time split with an embargo gap — the temporal
    * counterpart of [[groupSplit]]'s leakage discipline: train is strictly
    * before the cutoff, test strictly after cutoff + embargo, and the rows
    * in between are QUARANTINED (the standard guard against look-ahead
    * leakage through lagged/windowed features that straddle the boundary —
    * a test-set row whose 6-hour rolling feature reaches back into train
    * would leak future labels backward). The cutoff sits at `trainPct`% of
    * the OBSERVED time range — pure long arithmetic (`min + (max−min)·p/100`
    * with integer floor division), so any engine derives the identical
    * boundary; a rank-based quantile cutoff would hinge on interpolation
    * float behavior at ns magnitudes where doubles no longer hold integers.
    *
    * Scale shape: one min/max agg over the timestamp column, broadcast
    * back as two scalars; the split label itself is a codegen'd projection
    * — no shuffle beyond whatever the caller aggregates next.
    */
  def timeSplit(d: DataFrame, tsCol: Column, trainPct: Int = 80,
                embargo: Long = 0L): DataFrame = {
    require(trainPct > 0 && trainPct < 100, s"trainPct in (0,100), got $trainPct")
    val b = d.agg(min(tsCol).as("__mn"), max(tsCol).as("__mx"))
    // integer `div`, not `/`: Column `/` on longs promotes to DOUBLE, and
    // at ns timestamp magnitudes (≫ 2^53) the product no longer fits a
    // double exactly — the boundary would drift from any engine doing the
    // arithmetic in integers. Decomposed as q·p + (r·p) div 100 with
    // (q, r) = (range div 100, range % 100): ⌊range·p/100⌋ exactly, but
    // range·p never materializes (it overflows long for ns ranges under
    // ANSI mode — r·p stays < 100·100)
    val cutoff = expr(
      s"""__mn + ((__mx - __mn) div 100) * $trainPct
         |     + (((__mx - __mn) % 100) * $trainPct) div 100""".stripMargin)
    d.crossJoin(broadcast(b))
      .withColumn("split",
        when(tsCol < cutoff, "train")
          .when(tsCol >= cutoff + embargo, "test")
          .otherwise("embargo"))
      .drop("__mn", "__mx")
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "documents")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // per-document split assignment — fully deterministic, oracle-gated
    "sample_hash_split" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        hashBucket(col("doc_id")).as("bucket"),
        hashSplit(col("doc_id")).as("split"))),

    // forward-chaining time split with a 6-hour embargo over events (µs
    // grain — ns would overflow double exactness in the decimal fold
    // downstream engines): per-split conservation stats; the per-split
    // min/max ARE the leakage evidence (train max < cutoff ≤ embargo rows
    // < cutoff+6h ≤ test min), re-derived exactly by the oracle
    "sample_time_split" -> ((s, dir) => {
      val ev = graft.Tables(s, dir, "events")
        .select(expr("ts div 1000").as("ts_us"), col("user_id"), col("value"))
      timeSplit(ev, col("ts_us"), trainPct = 80,
          embargo = 6L * 3600 * 1000 * 1000)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
          min(col("ts_us")).as("min_us"), max(col("ts_us")).as("max_us"))
    }),

    // leakage-aware split: label keyed on the exact-dedup fingerprint so
    // duplicate documents can never straddle train/test — row-level output,
    // every assignment oracle-checked. The raw corpus carries no exact
    // dups, so every 10th document re-enters under a shifted id (the
    // duplicated-corpus case the operator exists for — both copies MUST
    // draw the same label, which the oracle checks row by row)
    "sample_group_split" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val planted = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      groupSplit(d.unionByName(planted), col("text"))
        .select(col("doc_id"), col("grp_fp"), col("split"))
    }),

    // stratified rebalance: down-sample dominant English to 30%, German to
    // 60%, keep other languages whole — row-level output so the oracle
    // checks every membership decision, not just the counts
    "sample_stratified" -> ((s, dir) =>
      stratifiedSample(docs(s, dir), col("doc_id"), col("lang"),
        pcts = Map("en" -> 30, "de" -> 60))
        .select(col("doc_id"), col("lang"))),

    // quality-proportional keep (soft curation — row-level membership gated)
    "sample_importance" -> ((s, dir) => {
      val d = docs(s, dir)
      importanceSample(d, col("doc_id"),
        graft.operators.TextAnalysis.qualityScore(col("text")))
        .select(col("doc_id"),
          graft.operators.TextAnalysis.qualityScore(col("text")).as("quality"))
    }),

    // exactly-k-per-stratum deterministic reservoir (balanced eval set)
    "sample_reservoir" -> ((s, dir) =>
      reservoirPerStratum(docs(s, dir), col("doc_id"), col("lang"), k = 25)
        .select(col("doc_id"), col("lang"), col("rk"))),

    // Efraimidis–Spirakis weighted k-sample per language, length-weighted —
    // longer docs proportionally likelier, no replacement, md5-deterministic
    "sample_weighted" -> ((s, dir) =>
      weightedSamplePerStratum(docs(s, dir), col("doc_id"), col("lang"),
          col("n_chars").cast("double"), k = 25)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("es_rk"))),

    // DSIR selection: the 'customer'-mentioning register is the target
    // corpus; the 50 raw documents most resembling it under the hashed-
    // bigram importance weights are selected. Rows-only (the model
    // estimation is iterative-free but driver-mediated, not one SQL
    // expression); ranking/selection behavior is spec-pinned on a planted
    // two-register corpus
    "sample_dsir" -> ((s, dir) => {
      val scored = dsirScores(docs(s, dir), col("text").contains("customer"))
      dsirSelect(scored, k = 50)
    }),

    // the DSIR semantic gate — register sizes + zero-pinned violation
    // counters, hash-compared against an oracle that derives the same row
    // from raw `documents` (see dsirInvariants)
    "sample_dsir_check" -> ((s, dir) =>
      dsirInvariants(docs(s, dir), col("text").contains("customer"), k = 50)),

    // split-level integrity summary: sizes + char volume per (split, lang) —
    // what a pipeline reports before training
    "sample_split_stats" -> ((s, dir) =>
      docs(s, dir)
        .select(hashSplit(col("doc_id")).as("split"), col("lang"), col("n_chars"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars")))
  )

  def oracles: Map[String, String] = Map(
    // identical integer boundary arithmetic (µs grain, floor division)
    "sample_time_split" ->
      """WITH e AS (SELECT epoch_us(ts) AS ts_us, user_id, value FROM events),
        |b AS (SELECT MIN(ts_us) AS mn, MAX(ts_us) AS mx FROM e),
        |s AS (SELECT user_id, value, ts_us,
        |  CASE WHEN ts_us < mn + ((mx - mn) * 80) // 100 THEN 'train'
        |       WHEN ts_us >= mn + ((mx - mn) * 80) // 100 + 21600000000 THEN 'test'
        |       ELSE 'embargo' END AS split
        |  FROM e, b)
        |SELECT split, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MIN(ts_us) AS min_us, MAX(ts_us) AS max_us
        |FROM s GROUP BY split""".stripMargin,
    // conservation columns derived from raw documents; violation counters
    // are constants BY DESIGN — DuckDB cannot run the hashed-bigram model,
    // but a selection/scoring bug turns a Spark-side zero nonzero
    "sample_dsir_check" ->
      """WITH t AS (
        |  SELECT CASE WHEN contains(text, 'customer') THEN 1 ELSE 0 END AS is_tgt
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT CAST(SUM(is_tgt) AS BIGINT) AS n_tgt,
        |  CAST(SUM(1 - is_tgt) AS BIGINT) AS n_raw,
        |  CAST(0 AS BIGINT) AS tgt_mean_not_above,
        |  CAST(LEAST(50, SUM(1 - is_tgt)) AS BIGINT) AS n_selected,
        |  CAST(0 AS BIGINT) AS selected_not_raw,
        |  CAST(0 AS BIGINT) AS topk_violations
        |FROM t""".stripMargin,
    "sample_hash_split" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 AS BIGINT) AS bucket,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "sample_group_split" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 10 = 0),
        |fp AS (
        |  SELECT doc_id,
        |    MD5(LOWER(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS grp_fp
        |  FROM corpus),
        |b AS (
        |  SELECT doc_id, grp_fp,
        |    ('0x' || substr(md5(grp_fp), 1, 8))::UBIGINT % 100 AS bkt
        |  FROM fp)
        |SELECT doc_id, grp_fp,
        |  CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 <
        |  CASE WHEN lang = 'en' THEN 30 WHEN lang = 'de' THEN 60 ELSE 100 END""".stripMargin,
    "sample_importance" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    ROUND(LEAST(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) *
        |      (1.0 - 0.5 * (CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |          x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x))) AS DOUBLE)
        |        / len(string_split_regex(trim(text), '\s+')))), 4) AS quality
        |  FROM documents)
        |SELECT doc_id, quality FROM q
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 10000 <
        |  CAST(ROUND(quality * 10000) AS BIGINT)""".stripMargin,
    "sample_reservoir" ->
      """SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        |  FROM documents) WHERE rk <= 25""".stripMargin,
    "sample_weighted" ->
      """WITH s AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(ROUND(ln(
        |        (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
        |          / 4294967296.0)
        |      / CAST(n_chars AS DOUBLE) * 1e12) AS BIGINT) AS es_key
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, lang, n_chars, es_rk FROM (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY es_key DESC, doc_id) AS BIGINT) AS es_rk
        |  FROM s) WHERE es_rk <= 25""".stripMargin,
    "sample_split_stats" ->
      """WITH s AS (
        |  SELECT CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 < 80 THEN 'train'
        |              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 < 90 THEN 'val'
        |              ELSE 'test' END AS split, lang, n_chars
        |  FROM documents)
        |SELECT split, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM s GROUP BY split, lang""".stripMargin
  )
}
