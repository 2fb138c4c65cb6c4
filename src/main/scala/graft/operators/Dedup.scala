package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Deduplication operators for a training-data pipeline, in increasing
  * sophistication: exact (hash-groupBy), character-n-gram Jaccard,
  * MinHash+LSH (the 100 TB path), SimHash, and embedding-cosine near-dup.
  *
  * Scale design:
  *  - Exact dedup is one hash aggregation on the fingerprint — shuffles once
  *    on the hash, never on the text.
  *  - The brute-force pairwise Jaccard exists as the *oracle baseline*; its
  *    O(N²) self-join is only run at verification scale. [[ngramJaccardPairs]]
  *    is its declarative SQL reference, and [[jaccardPrefixPairs]] the exact
  *    prefix-filtered join. Every other exact pair scan — [[jaccardPairs]],
  *    [[cosinePairs]] and the near-dup tier of [[incrementalDedup]] — runs on
  *    the one all-pairs executor, [[AllPairs]]: broadcast while the side it
  *    would broadcast is estimated at ≤ 64 MB, Afrati–Ullman blocked above
  *    that, with the same rows either way. The production path is MinHash
  *    banding: one codegen'd band-key pass per document, a bucket self-join
  *    on the band keys, and only colliding pairs verified — the standard way
  *    this stays tractable at billions of documents.
  *  - SimHash reduces each doc to 64 bits; candidate pairs come from exact
  *    16-bit band matches (hamming ≤ 3 guarantees ≥ one exact band by
  *    pigeonhole over 4 bands).
  */
object Dedup {

  /** Distinct character n-gram shingles of a string column. Texts shorter
    * than `n` yield an empty set — unguarded, `sequence(1, length-(n-1))`
    * DESCENDS for sub-n lengths (`sequence(1,0) = [1,0]`) and `substr` with
    * non-positive positions fabricates spurious shingles the oracle's
    * `range()` (empty when stop ≤ start) never sees.
    */
  def shingles(c: Column, n: Int = 3): Column =
    when(length(c) >= n,
      array_distinct(transform(
        sequence(lit(1), length(c) - (n - 1)),
        i => c.substr(i, lit(n)))))
      .otherwise(typedLit(Array.empty[String]))

  /** Set Jaccard similarity of two array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Shingles hashed to 64-bit longs and sorted: the pairwise hot loops then
    * use [[graft.functions.SortedIntersectSize]] — a codegen'd two-pointer
    * merge, allocation-free per pair (vs `array_intersect`'s per-call hash
    * set). |A∩B| is unchanged barring a 2^-64 hash collision. Jaccard uses
    * |A∩B| / (|A|+|B|−|A∩B|) with set sizes precomputed per document.
    *
    * One codegen'd pass ([[graft.functions.NgramShingleHashes]]) — the
    * declarative `array_sort(transform(shingles(c), xxhash64))` chain runs
    * interpreted and cost 2.0 s per corpus pass at sf0.1.
    */
  def hashedShingles(c: Column, n: Int = 3): Column =
    graft.functions.NgramShingleHashes(c, n)

  /** 64-bit SimHash from a token column: per-bit signed vote of token hashes. */
  def simhashBits(tokenHash: Column): Seq[Column] =
    (0 until 64).map { b =>
      (shiftright(tokenHash, b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"b$b")
    }

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "documents")

  /** Wrapper-doc id offset for [[lowOverlapDocs]]: far above every real and
    * SynthScale-synthesized doc_id (copies stride by 1e8; sf100 tops out
    * near 1e10) and divisible by 3 so wrappers survive the containment
    * family's `doc_id % 3 = 0` sub-corpus filter alongside their bases.
    */
  val LowOverlapWrapperOffset: Long = 3L << 40

  /** DuckDB fragments mirroring [[lowOverlapDocs]]' construction exactly —
    * kept next to the offset so the two engines' corpora cannot drift.
    */
  private val LowOverlapBaseSql: String = (0 until 10)
    .map(j => s"md5(CAST(doc_id AS VARCHAR) || ':$j')").mkString(" || ")
  private val LowOverlapPadSql: String = (0 until 4)
    .map(j => s"md5(CAST(doc_id AS VARCHAR) || ':p$j')").mkString(" || ")

  /** The LOW-OVERLAP containment corpus, derived deterministically from
    * doc_ids (cross-engine: the same construction is a few md5/concat
    * calls in DuckDB SQL). The shipped synthetic corpus has ~0.65 baseline
    * pairwise similarity — the adversarial regime for banding, but the
    * one where candidate growth is dominated by TRUE pair growth; this
    * twin measures the other end, where banding should be ~linear:
    *
    *  - base docs (doc_id % 3 = 0): text = md5(id:0)‖…‖md5(id:9) — 320
    *    hex chars. At shingle width 8 that is 313 windows drawn from a
    *    16^8 ≈ 4.3e9 space, so two distinct docs share a shingle with
    *    probability ~313²/4.3e9 ≈ 2e-5 — cross-doc overlap is
    *    effectively zero (vs 3-grams' 4096-slot space, where EVERY doc
    *    collides with every other and df-based banding has to dig for
    *    signal).
    *  - planted wrappers (base doc_id % 5 = 0): the base text plus 4 more
    *    md5 blocks (128 chars) — every base shingle appears in its
    *    wrapper, so containment(base ⊂ wrapper) = 1.0 ≥ 0.98: one strong
    *    pair per planted wrapper, and nothing else in the corpus can
    *    reach 0.9 except by md5 coincidence.
    *
    * Wrapper ids offset by [[LowOverlapWrapperOffset]] (≡ 0 mod 3).
    */
  def lowOverlapDocs(d: DataFrame): DataFrame = {
    def blocks(id: Column, tag: String, n: Int): Column =
      concat((0 until n).map(j =>
        md5(concat(id.cast("string"), lit(s":$tag$j")))): _*)
    val ids = d.select(col("doc_id")).filter(col("doc_id") % 3 === 0)
    val base = ids.select(col("doc_id"),
      blocks(col("doc_id"), "", 10).as("text"))
    val wrap = ids.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + lit(LowOverlapWrapperOffset)).as("doc_id"),
        concat(blocks(col("doc_id"), "", 10),
          blocks(col("doc_id"), "p", 4)).as("text"))
    base.unionByName(wrap)
  }
  private def emb(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "embeddings")

  /** Pairwise n-gram Jaccard over all a<b pairs — oracle baseline (O(N²)).
    *
    * The `<` condition forces a nested-loop join with one side broadcast; the
    * streamed side MUST be repartitioned first — a small input is often one
    * parquet split, and a single-partition NL join runs the whole O(N²) on
    * one core (measured: 16× slowdown at sf0.1). Two docs without a shingle
    * (shorter than 3 chars) score 0/0: `try_divide` makes that NULL, as in
    * the DuckDB oracle, where a plain divide throws under ANSI mode.
    */
  def ngramJaccardPairs(d: DataFrame, threshold: Double): DataFrame = {
    val par = graft.Tuning.fanout(d.sparkSession)
    val sh = d.select(col("doc_id"), hashedShingles(col("text")).as("g"))
      .withColumn("sz", size(col("g")))
    sh.repartition(par).alias("a")
      .join(broadcast(sh.alias("b")), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        graft.functions.SortedIntersectSize(col("a.g"), col("b.g")).as("i"),
        (col("a.sz") + col("b.sz")).as("ab"))
      .select(col("id_a"), col("id_b"),
        round(try_divide(col("i").cast("double"), col("ab") - col("i")), 4).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Prefix-filtered EXACT set-similarity join (SSJoin/PPJoin family,
    * Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08): the third candidate
    * strategy for the same Jaccard-pairs contract — `ngramJaccardPairs` is
    * the O(N²) oracle baseline, `minhashLshPairs` is approximate (recall
    * < 1 by design); this one is EXACT *and* subquadratic. Under any shared
    * total token order, two sets with Jaccard ≥ t must collide within
    * their first `|x| − ⌈t·|x|⌉ + 1` tokens (if the prefixes were
    * disjoint, every common token would sit in both suffixes, capping the
    * overlap below the threshold) — so candidates come from ONE equi-join
    * on prefix tokens, with rare-first ordering (global doc-frequency asc)
    * making those prefix postings the shortest, plus the standard length
    * filter `t·|y| ≤ |x| ≤ |y|/t`. Each candidate is verified with the
    * codegen'd two-pointer intersect; output ≡ the brute-force tier row
    * for row (spec-pinned at several thresholds).
    *
    * Scale shape: a doc-frequency aggregate, a per-doc top-(prefix) window,
    * an equi-join on prefix tokens (shuffle bounded by posting-list sizes
    * of the RAREST ~(1−t) fraction of each doc), and a verify join — no
    * all-pairs stage anywhere.
    */
  def jaccardPrefixPairs(d: DataFrame, threshold: Double): DataFrame = {
    val sh = d.select(col("doc_id"), hashedShingles(col("text")).as("g"))
      .withColumn("sz", size(col("g"))).filter(col("sz") > 0)
      .localCheckpoint() // reused by the ranking, candidate, and verify arms
    val tok = sh.select(col("doc_id"), explode(col("g")).as("tok"))
    val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    // prefix length n − ⌈t'·n⌉ + 1 with t' = t − 5e-5 — every candidate
    // bound (prefix, positional, length) derives from the SAME loosened
    // threshold the verify arm admits at (jac ≥ t − 5e-5 rounds up to t at
    // round-4), so the candidate stage is provably a superset of the
    // round-4 relation at any document size; with the strict t a doc of
    // ≥ ~20k distinct shingles could pass the rounding admission yet be
    // pruned. Float-guarded: t'·n computed in binary can land a hair ABOVE
    // the exact product and bump the ceil, SHORTENING the prefix and
    // silently breaking completeness — the +1e-9 floor form only ever errs
    // one token LONGER (more candidates, never fewer).
    val tLoose = threshold - 5e-5
    val plen = col("sz") - floor(lit(tLoose) * col("sz") + lit(1e-9)) + 1
    val prefix = tok.join(dfreq.hint("merge"), Seq("tok"))
      .withColumn("rk", row_number().over(byRarity))
      .join(sh.select(col("doc_id"), col("sz")).hint("merge"), Seq("doc_id"))
      .filter(col("rk") <= plen)
      .select(col("tok"), col("doc_id"), col("sz"), col("rk"))
    // PPJoin positional filter: at a collision row, every OTHER common
    // token follows it in the global order on BOTH sides (an earlier
    // common token would itself be an earlier collision), so the
    // achievable intersection is 1 + min(remaining suffix lengths); a
    // qualifying pair needs I ≥ ⌈t/(1+t)·(nx+ny)⌉ and its FIRST collision
    // row always passes, so dropping failing rows loses no pair. Measured
    // at sf0.1: 52M raw collision rows → 7.2M surviving the length +
    // positional filters BEFORE the distinct shuffle. (The −1e-9 is the
    // same ceil float-guard as plen, erring on the weaker bound.)
    val needI = ceil(lit(tLoose / (1 + tLoose)) *
      (col("x.sz") + col("y.sz")) - lit(1e-9))
    // Length filter with the same float guard as plen/needI: t·sz computed
    // in binary can round a hair ABOVE the exact product at an exact
    // boundary ratio (e.g. t=0.8 with sizes 4:5), dropping a qualifying
    // pair — the −1e-9 only ever admits extra candidates (verified away).
    val cand = prefix.hint("merge").alias("x").join(prefix.alias("y"),
        col("x.tok") === col("y.tok") && col("x.doc_id") < col("y.doc_id") &&
          col("x.sz") >= lit(tLoose) * col("y.sz") - lit(1e-9) &&
          col("y.sz") >= lit(tLoose) * col("x.sz") - lit(1e-9) &&
          lit(1) + least(col("x.sz") - col("x.rk"), col("y.sz") - col("y.rk")) >= needI)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    // verify with the EARLY-EXIT kernel (SortedIntersectAtLeast): a pair
    // passes iff i ≥ t·(na+nb−i) ⇔ i ≥ t/(1+t)·(na+nb); the floor is
    // loosened to the round-4 admission boundary (jac ≥ t − 5e-5 rounds
    // up to t) so the exact rounding contract below loses nothing, and
    // failing candidates bail after ~(1 − t/(1+t))·min(na,nb) merge steps
    val tAdm = (threshold - 5e-5) / (1 + threshold - 5e-5)
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("g").as("ga"),
        col("sz").as("na")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("g").as("gb"),
        col("sz").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.SortedIntersectAtLeast(col("ga"), col("gb"),
          greatest(lit(1), ceil(lit(tAdm) * (col("na") + col("nb")) -
            lit(1e-9))).cast("int")).as("i"),
        (col("na") + col("nb")).as("ab"))
      .filter(col("i") >= 0)
      .select(col("id_a"), col("id_b"),
        round(col("i").cast("double") / (col("ab") - col("i")), 4).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Prefix-filtered EXACT containment join: ordered pairs (a, b) with
    * |g(a) ∩ g(b)| / |g(a)| ≥ t — "a's shingles live (almost) inside b".
    * Containment is the ASYMMETRIC near-dup relation Jaccard cannot see:
    * a quote, a syndicated article inside a wrapper page, or a doc
    * re-posted with a long footer has containment ≈ 1 while its Jaccard
    * is diluted by the container's extra text — exactly the cases a
    * training-data dedup pass wants to catch without a symmetric
    * threshold low enough to drown in false positives.
    *
    * Same prefix-filter theorem as [[jaccardPrefixPairs]], asymmetric
    * form: overlap I ≥ ⌈t·|a|⌉, so if a's first |a| − ⌈t·|a|⌉ + 1
    * rare-first tokens all miss b, the remaining ⌈t·|a|⌉ − 1 common
    * tokens cannot reach the bound — candidates come from ONE equi-join
    * of a-prefix tokens against the full posting lists (the contained
    * side needs no length filter: ANY size ratio qualifies, which is the
    * point). Rare-first ordering keeps the probed postings short — a
    * prefix is a doc's rarest ~(1−t) fraction. Verification reuses the
    * codegen'd two-pointer intersect.
    */
  def containmentPrefixPairs(d: DataFrame, threshold: Double,
                             shingleN: Int = 3): DataFrame = {
    val sh = d.select(col("doc_id"), hashedShingles(col("text"), shingleN).as("g"))
      .withColumn("sz", size(col("g"))).filter(col("sz") > 0)
      .localCheckpoint() // reused by ranking, candidate, and verify arms
    val tok = sh.select(col("doc_id"), explode(col("g")).as("tok"))
    val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    val ranked = tok.join(dfreq.hint("merge"), Seq("tok"))
      .withColumn("rk", row_number().over(byRarity))
      .join(sh.select(col("doc_id"), col("sz")).hint("merge"), Seq("doc_id"))
    // p = n − ⌈t'·n⌉ + 1 with t' = t − 5e-5: BOTH pruning bounds (prefix
    // length here, positional filter below) derive from the SAME loosened
    // threshold the verify arm admits at (i/na ≥ t − 5e-5 rounds up to t at
    // round-4), so the candidate stage is provably a superset of the
    // round-4 relation at ANY document size — with the strict t a doc of
    // ≥ ~20k distinct shingles could have i = ⌈t·n⌉ − 1 round up to t yet
    // be pruned. The ceil float-guard (−1e-9) only ever LENGTHENS the
    // prefix: extra candidates, never a lost pair.
    val tLoose = threshold - 5e-5
    val plen = col("sz") - ceil(lit(tLoose) * col("sz") - lit(1e-9)) + 1
    val prefix = ranked.filter(col("rk") <= plen)
      .select(col("tok"), col("doc_id").as("id_a"),
        col("sz").as("sz_a"), col("rk").as("rk_a"))
    // PPJoin positional filter, containment form: both token lists share
    // the global rarity order, so at the FIRST collision all common tokens
    // sit at rank ≥ rk on BOTH sides ⇒ I ≤ 1 + min(sz_a−rk_a, sz_b−rk_b);
    // a qualifying pair needs I ≥ ⌈t'·sz_a⌉ and its first collision always
    // passes, so dropping failing rows loses no pair. The big casualty is
    // the GLOBALLY-shared moderately-rare token sitting deep in the
    // container's order — the cross-shard coincidence collision.
    val needI = ceil(lit(tLoose) * col("sz_a") - lit(1e-9))
    val cand = prefix.hint("merge")
      .join(ranked.select(col("tok"), col("doc_id").as("id_b"),
        col("sz").as("sz_b"), col("rk").as("rk_b")), Seq("tok"))
      .filter(col("id_a") =!= col("id_b") &&
        lit(1) + least(col("sz_a") - col("rk_a"),
          col("sz_b") - col("rk_b")) >= needI)
      .select(col("id_a"), col("id_b")).distinct()
    verifyContainment(cand, sh, threshold)
  }

  /** Shared exact-verify arm of the containment family: candidate pairs
    * (id_a, id_b) are scored with the EARLY-EXIT kernel — candidates that
    * fail (the vast majority at t = 0.9) bail after ~(1−t)·|a| merge steps;
    * the floor is loosened to the round-4 admission boundary (i/na ≥
    * t − 5e-5 rounds up to t), so the exact rounding contract below loses
    * nothing. EVERY containment tier (exact-prefix and banded) funnels its
    * candidates through this one kernel, which is what makes "approximate
    * admissions ⊆ the exact relation" true BY CONSTRUCTION, not by gate.
    */
  private def verifyContainment(cand: DataFrame, sh: DataFrame,
                                threshold: Double): DataFrame = {
    val minI = greatest(lit(1),
      ceil(lit(threshold - 5e-5) * col("na") - lit(1e-9))).cast("int")
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("g").as("ga"),
        col("sz").as("na")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("g").as("gb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("na"),
        graft.functions.SortedIntersectAtLeast(col("ga"), col("gb"), minI)
          .as("i"))
      .filter(col("i") >= 0)
      .select(col("id_a"), col("id_b"),
        round(col("i").cast("double") / col("na"), 4).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** BANDED approximate containment join — the 100 TB twin of
    * [[containmentPrefixPairs]]. The exact lane's asymptotic weakness is
    * candidate growth: its prefix tokens probe FULL posting lists, and on
    * a shared-vocabulary corpus a moderately-common shingle's posting list
    * grows linearly with the corpus, making the candidate stage
    * super-linear (measured 23× at 10× data at sf1). This tier changes the
    * candidate-generation shape, not the relation:
    *
    *  1. df-capped postings — only DISCRIMINATIVE tokens generate
    *     candidates; a super-common token's posting list is the quadratic
    *     bomb, and it carries almost no signal (everyone has it).
    *     Discriminativeness is RELATIVE: the cap is
    *     max(`dfFloor`, `dfFrac`·N) — "appears in at most that fraction
    *     of the corpus". An absolute cap is a scale-dependent constant: a
    *     512-doc cap that admits 15% of a 3.3k corpus admits 1.5% of a
    *     33k corpus, and at sf1 it silently starved most docs of any
    *     banding signal (562/763 strong pairs missed, found by the sf1
    *     gate run — the same class of bug as the r14 Hilbert 31-bit
    *     grid). Candidate rows are bounded by Σ_prefix-token df with
    *     df ≤ dfFrac·N; the RAREST-first prefix ordering keeps typical
    *     probed df far below the cap, so growth is near-linear in
    *     practice (measured, not assumed — see the slope rows).
    *  2. rare-prefix banding — each contained doc probes only its
    *     max(4, ⌈`probeFrac`·n⌉) rarest discriminative tokens. The exact
    *     theorem's full prefix (≈ (1−t)·n) guarantees WEAK-pair recall,
    *     which an approximate tier gives up anyway; probing half of it
    *     halves the candidate join (the measured cost center: the hits
    *     aggregate over the probe×posting collisions) while the
    *     strong-pair guarantee below only needs misses < probes·(1 −
    *     `hitFrac`), i.e. 0.02·n < 0.025·n at the defaults — preserved.
    *  3. hits-floor admission — a candidate is verified iff it collides
    *     on ≥ max(2, ⌈`hitFrac`·probes⌉) of the doc's probed prefix
    *     tokens (probes = the prefix tokens the doc actually issued).
    *     The floor does the work a per-doc rank cap cannot do honestly:
    *     a rank cap truncates genuine OUTPUT when a doc has more true
    *     containers than the cap (at sf1 one doc has 284 partners — a
    *     popular quote inside a million wrapper pages is the 100 TB
    *     version), and the rank window costs an extra shuffle+sort of
    *     the whole candidate multiset. The floor instead kills the
    *     1-hit coincidence tail (the vast majority of candidates)
    *     inside the counting aggregate, admits every high-overlap
    *     candidate however many there are, and needs no second shuffle.
    *     STRONG-RECALL GUARANTEE at the defaults (probeFrac = 0.05,
    *     hitFrac = 0.5): a pair with containment ≥ 0.98 misses ≤
    *     ⌈0.02·n⌉ of the doc's shingles; even if EVERY miss lands among
    *     the 0.05·n probes, ≥ 0.03·n ≥ 60% of probes hit ≥ the 50%
    *     floor at any document size — the planted-wrapper pin is a
    *     theorem, not a measurement. Weak pairs (barely over t) can
    *     concentrate their misses in the probed prefix and fall under
    *     the floor — the documented recall boundary of the approximate
    *     tier.
    *  4. exact verify — every candidate runs the same
    *     [[verifyContainment]] kernel as the exact lane, so admissions are
    *     a subset of the exact relation at the threshold by construction.
    *
    * What it can miss (the recall boundary, gated by
    * `dedup_containment_banded_check`): a contained doc whose prefix
    * tokens are ALL super-common (no discriminative signal to band on);
    * a doc with SOME but fewer-than-budget discriminative tokens
    * (n_probes < probeFrac·n — the ⌈0.02·n⌉ miss allowance is sized
    * against the FULL budget, so when the actual probe count is smaller,
    * misses can eat more than (1 − hitFrac) of the probes it did issue
    * and even a ≥ 0.98 pair can fall under the floor; the theorem above
    * holds only when the doc supplies the full probeFrac·n budget);
    * or a barely-over-t pair whose misses concentrate in the probed
    * prefix (under the hits floor). The gate's `strong_missed` counter is
    * the protection in the partial-supply regime — it counts EVERY
    * strong pair the tier drops, whatever the cause. A quote/wrapper
    * pair — the relation's
    * raison d'être — shares the contained doc's RAREST shingles by
    * construction and clears the floor by the ≥ 0.98 ⇒ ~80%-of-probes
    * bound, so the gate pins strong-containment recall at 100%.
    */
  def containmentBandedPairs(d: DataFrame, threshold: Double,
                             dfFrac: Double = 0.2, dfFloor: Long = 512,
                             probeFrac: Double = 0.05,
                             hitFrac: Double = 0.5,
                             shingleN: Int = 3): DataFrame = {
    require(hitFrac > 0 && hitFrac <= 1 - 0.02 / math.max(probeFrac, 1e-9),
      s"hitFrac=$hitFrac too high for probeFrac=$probeFrac — the " +
        "strong-recall guarantee needs hitFrac ≤ 1 − 0.02/probeFrac " +
        "(misses ≤ 2% of shingles can eat at most that fraction of probes)")
    val sh = d.select(col("doc_id"), hashedShingles(col("text"), shingleN).as("g"))
      .withColumn("sz", size(col("g"))).filter(col("sz") > 0)
      .localCheckpoint() // reused by ranking, candidate, and verify arms
    // N from the checkpointed relation — one cheap count; the floor keeps
    // tiny corpora from degenerating to "nothing is discriminative"
    val dfCap = math.max(dfFloor, math.ceil(dfFrac * sh.count()).toLong)
    val tok = sh.select(col("doc_id"), explode(col("g")).as("tok"))
    val disc = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    val tLoose = threshold - 5e-5
    // rank only the discriminative tokens: the prefix is the p rarest of
    // THOSE (p from the same loosened-threshold formula as the exact lane)
    val ranked = tok.join(disc.hint("merge"), Seq("tok"))
      .withColumn("rk", row_number().over(byRarity))
      .join(sh.select(col("doc_id"), col("sz")).hint("merge"), Seq("doc_id"))
    // probe budget: never more than the exact theorem's prefix (probing
    // past it adds nothing a t-pair needs), never fewer than 4
    val plen = col("sz") - ceil(lit(tLoose) * col("sz") - lit(1e-9)) + 1
    val nprobe = least(plen,
      greatest(lit(4), ceil(col("sz") * lit(probeFrac))))
    val prefix = ranked.filter(col("rk") <= nprobe)
      .select(col("tok"), col("doc_id").as("id_a"))
    val post = tok.join(disc.select(col("tok")).hint("merge"), Seq("tok"))
      .select(col("tok"), col("doc_id").as("id_b"))
    // probes actually issued per doc (≤ plen: a doc can have fewer
    // discriminative tokens than its prefix length) — the admission floor
    // derives from it. Every join in this candidate stage carries a
    // merge hint: all of these relations (postings, discriminative-token
    // list, per-doc probe counts) scale WITH THE CORPUS, and at sf10 the
    // md5-derived low-overlap corpus put two of them under the session's
    // 64 MB COMPRESSED auto-broadcast threshold while their in-memory
    // hash relations were GBs — two concurrent AQE broadcast builds
    // OOM'd a 16 GB driver. A corpus-scaling side must never broadcast;
    // the OUTPUT-scaling verify joins below keep their AQE freedom
    val probes = prefix.groupBy(col("id_a")).agg(count(lit(1)).as("n_probes"))
    val cand = prefix.hint("merge").join(post, Seq("tok"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("hits"))
      .join(probes.hint("merge"), Seq("id_a"))
      .filter(col("hits") >=
        greatest(lit(2), ceil(col("n_probes") * lit(hitFrac))))
      .select(col("id_a"), col("id_b"))
    verifyContainment(cand, sh, threshold)
  }

  /** MinHash+LSH near-dup pairs: k=32 hashes, 4 bands × 8 rows; candidates
    * from band-bucket collisions, verified with true Jaccard ≥ threshold.
    *
    * Band geometry matters on high-baseline-similarity corpora: with 4-row
    * bands a shared-vocabulary corpus (pairwise Jaccard ≈ 0.65) collides
    * almost everywhere — the candidate set degenerated to ~half of all N²
    * pairs (408 s at sf0.1). 8-row bands put the S-curve threshold at
    * ~0.93^... ≈ jac 0.8+: collision p = jac^8 per band (0.65 → 3%,
    * 0.9 → 43%/band → 90% recall over 4 bands).
    */
  def minhashLshPairs(d: DataFrame, threshold: Double,
                      numHashes: Int = 32, bands: Int = 4): DataFrame = {
    // All band keys in one codegen'd pass over the hashed shingle set
    // (graft.functions.MinHashBandKeys): the aggregate form — explode
    // shingles, shuffle O(N·|g|) rows, k min-columns, hash per band — spent
    // 5.8 s of the 6 s at sf0.1 in that explode+agg; this derives identical
    // banding semantics (band-equal ⟺ all slot minima equal) with zero
    // extra shuffle. The corpus is repartitioned first: the band-key pass is
    // the hot loop and a small parquet input is otherwise one partition.
    val par = graft.Tuning.fanout(d.sparkSession)
    val sh = d.select(col("doc_id"), hashedShingles(col("text")).as("g"))
      .withColumn("sz", size(col("g")))
    val banded = sh.repartition(par)
      .select(col("doc_id"),
        posexplode(graft.functions.MinHashBandKeys(col("g"), numHashes, bands))
          .as(Seq("bi", "bk")))
    val cands = banded.alias("l")
      .join(banded.alias("r"),
        col("l.bi") === col("r.bi") && col("l.bk") === col("r.bk") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
      .distinct()
    // Verification joins precomputed shingle sets on doc_id with NO broadcast
    // hint — a hard broadcast of the shingle corpus re-imports the memory
    // bound LSH exists to escape; AQE picks broadcast only when runtime size
    // allows, shuffle hash join otherwise. (Measured alternative: deriving
    // shingles per CANDIDATE row instead of per doc is 30× worse on a
    // near-dup-dense corpus — 146k candidates × 2 shingle computations at
    // sf0.1 vs 3 corpus passes here.)
    cands
      .join(sh.select(col("doc_id").as("id_a"), col("g").as("ga"), col("sz").as("sza")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("g").as("gb"), col("sz").as("szb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.SortedIntersectSize(col("ga"), col("gb")).as("i"),
        (col("sza") + col("szb")).as("ab"))
      .select(col("id_a"), col("id_b"),
        round(col("i").cast("double") / (col("ab") - col("i")), 4).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** SimHash near-dup pairs with hamming ≤ maxHamming, banded candidates. */
  def simhashPairs(d: DataFrame, maxHamming: Int = 3): DataFrame = {
    val toks = d.select(col("doc_id"),
      explode(graft.operators.TextAnalysis.tokens(col("text"))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("th"))
    val bitAggs = simhashBits(col("th")).zipWithIndex.map {
      case (b, i) => sum(b).as(s"v$i")
    }
    val votes = toks.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
    val sim = votes.select(col("doc_id"),
      (0 until 64).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_.bitwiseOR(_)).as("simhash"))
    // 4 × 16-bit bands: hamming ≤ 3 over 64 bits ⇒ at least one band equal.
    val bandCols = (0 until 4).map(k =>
      struct(lit(k).as("bi"),
        shiftrightunsigned(col("simhash"), k * 16).bitwiseAND(lit(0xFFFFL)).as("bk")))
    val banded = sim.select(col("doc_id"), col("simhash"),
      explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("simhash"),
        col("band.bi").as("bi"), col("band.bk").as("bk"))
    banded.alias("l").join(banded.alias("r"),
        col("l.bi") === col("r.bi") && col("l.bk") === col("r.bk") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash semantic gate (the `pack_bins_ffd_check` pattern): DuckDB
    * cannot reproduce xxhash64-seeded simhashes, but it CAN independently
    * enumerate the exact-duplicate pairs (text equality, `id_a < id_b`) —
    * and identical text means identical token multiset, identical bit
    * votes, identical simhash, so every exact-dup pair MUST surface in
    * [[simhashPairs]] with hamming 0 (all four bands collide). The recall
    * floor `missing_exact_pairs` and the pair-set hygiene counter
    * `dup_pairs` are pinned at zero; `n_exact_pairs` is the conservation
    * column both engines derive. The text-equality self-join is the check
    * kernel at oracle scale — the production exact-dup path joins on the
    * 128-bit fingerprint (`dedup_exact_survivors`), never raw text.
    */
  def simhashInvariants(d: DataFrame, maxHamming: Int = 3): DataFrame = {
    val out = simhashPairs(d, maxHamming)
    val byText = d.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val exact = byText.alias("l").join(byText.alias("r"),
        col("l.text") === col("r.text") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
    val nExact = exact.agg(count(lit(1)).cast("long").as("n_exact_pairs"))
    val missing = exact
      .join(out.filter(col("hamming") === 0).select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).cast("long").as("missing_exact_pairs"))
    val dups = out.agg(
      (count(lit(1)) - countDistinct(struct(col("id_a"), col("id_b"))))
        .cast("long").as("dup_pairs"))
    nExact.crossJoin(missing).crossJoin(dups)
  }

  /** MinHash-LSH semantic gate (same shape as [[simhashInvariants]]):
    * DuckDB cannot reproduce xxhash64-seeded minhash signatures, but
    * identical text means identical shingle set, hence identical minima in
    * every signature slot — ALL bands collide and the verification step
    * computes Jaccard exactly 1.0 ≥ any threshold. So every exact-duplicate
    * pair (text equality over shingle-able texts, `id_a < id_b`) MUST
    * surface in [[minhashLshPairs]] with jac = 1.0: `missing_exact_pairs`
    * is the recall floor, `dup_pairs` the banding-dedup hygiene counter
    * (a candidate colliding in several bands must still emit once), both
    * pinned at zero; `n_exact_pairs` is the conservation column both
    * engines derive. Texts shorter than the shingle width are excluded on
    * BOTH sides — their shingle set is empty and Jaccard is 0/0 (the
    * documented [[shingles]] contract), so they are outside the recall
    * floor by definition.
    */
  def minhashLshInvariants(d: DataFrame, threshold: Double = 0.8,
                           shingleN: Int = 3): DataFrame = {
    val out = minhashLshPairs(d, threshold)
    val byText = d.filter(col("text").isNotNull && length(col("text")) >= shingleN)
      .select(col("doc_id"), col("text"))
    val exact = byText.alias("l").join(byText.alias("r"),
        col("l.text") === col("r.text") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
    val nExact = exact.agg(count(lit(1)).cast("long").as("n_exact_pairs"))
    val missing = exact
      .join(out.filter(col("jac") === 1.0).select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).cast("long").as("missing_exact_pairs"))
    val dups = out.agg(
      (count(lit(1)) - countDistinct(struct(col("id_a"), col("id_b"))))
        .cast("long").as("dup_pairs"))
    nExact.crossJoin(missing).crossJoin(dups)
  }

  /** Hyperplane-LSH embedding-dedup semantic gate (the `_check` pattern):
    * the banding is xxhash64-dependent, but the battery entry's PLANT is
    * DuckDB-derivable — one perturbed copy (id + 2^40) of every 50th
    * vector, each pair at cosine ≈ 0.999 where the 8×8 banding's per-pair
    * miss odds are ~0 and the hyperplanes deterministic (the OperatorsSpec
    * full-recovery rationale, promoted to an oracle row):
    * `n_planted` is the conservation column, `missing_planted_pairs` the
    * recall floor, `below_threshold_pairs` the verification hygiene (every
    * emitted pair carries its exact cosine ≥ τ by construction), and
    * `dup_pairs` the banding-dedup hygiene — all pinned at zero.
    */
  def embeddingLshInvariants(e: DataFrame, threshold: Double = 0.9,
                             dim: Int = graft.Tables.EmbeddingDim): DataFrame = {
    val planted = plantEmbeddingNearDups(e).localCheckpoint()
    val out = embeddingCosinePairsLsh(planted, threshold, dim).localCheckpoint()
    val plantPairs = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("long").as("id_a"),
        (col("vec_id") + lit(1L << 40)).cast("long").as("id_b"))
    val nPlanted = plantPairs.agg(count(lit(1)).cast("long").as("n_planted"))
    val missing = plantPairs
      .join(out.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).cast("long").as("missing_planted_pairs"))
    val below = out.agg(
      coalesce(sum(when(col("cos") < threshold, 1L).otherwise(0L)), lit(0L))
        .as("below_threshold_pairs"),
      (count(lit(1)) - countDistinct(struct(col("id_a"), col("id_b"))))
        .cast("long").as("dup_pairs"))
    nPlanted.crossJoin(missing).crossJoin(below)
  }

  /** Banded-incremental-dedup semantic gate (the `_check` pattern): the
    * MinHash banding is xxhash64-dependent, but the tier's admission
    * CONTRACT is fully checkable against the exact tier the battery
    * already oracle-gates (`dedup_incremental`) on the same 80/20 split —
    *
    *  - `exact_admits_rejected` = |exact-admitted \ banded-admitted|,
    *    pinned 0: every banded rejection is EXACT-verified (candidates get
    *    a true-Jaccard check), so banding can only reject docs the exact
    *    tier also rejects — admitted-banded ⊇ admitted-exact always;
    *  - `exact_dup_admitted` = banded-admitted batch docs whose normalized
    *    text already exists in the corpus, pinned 0: tier 1 (the
    *    fingerprint anti-join) is SHARED by both tiers, so no exact
    *    duplicate can reach the banded tier at all;
    *  - `dup_admits` = duplicate doc_ids in the admitted set, pinned 0.
    *
    * DuckDB independently derives the batch-size conservation column with
    * the same md5 split expression the `dedup_incremental` oracle already
    * proved engine-portable.
    */
  def incrementalBandedInvariants(d: DataFrame, threshold: Double = 0.8,
                                  bandedThreshold: Double = Double.NaN): DataFrame = {
    // `bandedThreshold` defaults to `threshold` (the battery gate runs both
    // tiers at the same similarity bar); setting it tighter than the exact
    // tier's simulates a banded tier that over-rejects — the non-vacuity
    // spec uses it to prove `exact_admits_rejected` is computed, not a
    // constant
    val bandedT = if (bandedThreshold.isNaN) threshold else bandedThreshold
    val bucket = Sampling.hashBucket(col("doc_id"))
    val corpus = d.filter(bucket < 80).localCheckpoint()
    val batch = d.filter(bucket >= 80).localCheckpoint()
    // The exact and banded admission kernels are independent until the
    // anti-join comparison — materialize both as concurrent actions
    // ([[graft.Tuning.concurrently]]) so the gate prices the slower
    // kernel, not the sum (both read the same checkpointed corpus/batch).
    val adms = graft.Tuning.concurrently(Seq[() => DataFrame](
      () => incrementalDedup(corpus, batch, threshold).localCheckpoint(),
      () => incrementalDedupBanded(corpus, batch, bandedT).localCheckpoint()))
    val (exactAdm, bandedAdm) = (adms(0), adms(1))
    val nBatch = batch.agg(count(lit(1)).cast("long").as("n_batch"))
    val missing = exactAdm.join(bandedAdm, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).cast("long").as("exact_admits_rejected"))
    val corpusNorm = corpus
      .select(TextAnalysis.normalizedText(col("text")).as("norm")).distinct()
    val exactDup = bandedAdm.join(batch, Seq("doc_id"))
      .select(TextAnalysis.normalizedText(col("text")).as("norm"))
      .join(corpusNorm, Seq("norm"), "left_semi")
      .agg(count(lit(1)).cast("long").as("exact_dup_admitted"))
    val hygiene = bandedAdm.agg(
      (count(lit(1)) - countDistinct(col("doc_id"))).cast("long").as("dup_admits"))
    nBatch.crossJoin(missing).crossJoin(exactDup).crossJoin(hygiene)
  }

  /** Semantic gate for [[containmentBandedPairs]] vs the exact lane, one
    * row of counters (oracle-compared against a DuckDB-derived strong-pair
    * count plus designed-zero contract columns):
    *
    *  - `n_strong` — exact-relation pairs with containment ≥ 0.98 (the
    *    quote/wrapper population the asymmetric relation exists for);
    *    DuckDB re-derives this quadratically, so the number is
    *    cross-engine, not self-referential.
    *  - `banded_not_in_exact` — banded admissions outside the exact
    *    relation: 0 BY CONSTRUCTION (shared [[verifyContainment]] kernel);
    *    a nonzero here means the subset contract itself broke.
    *  - `strong_missed` — strong pairs the banded tier failed to admit:
    *    the RECALL pin. A near-fully-contained doc shares its rarest
    *    shingles with its container, so banding on the rare prefix must
    *    catch it; this counter is the one a bad dfFrac/hitFrac would move.
    *  - `dup_pairs` — duplicate (id_a, id_b) rows emitted: 0 (hygiene).
    *
    * Both tiers read the same checkpointed sub-corpus and run as
    * concurrent actions so the gate prices the slower kernel, not the sum.
    */
  def containmentBandedInvariants(d: DataFrame, threshold: Double = 0.9,
                                  dfFrac: Double = 0.2, dfFloor: Long = 512,
                                  probeFrac: Double = 0.05,
                                  hitFrac: Double = 0.5,
                                  shingleN: Int = 3): DataFrame = {
    val sub = d.filter(col("doc_id") % 3 === 0).localCheckpoint()
    val outs = graft.Tuning.concurrently(Seq[() => DataFrame](
      () => containmentPrefixPairs(sub, threshold, shingleN).localCheckpoint(),
      () => containmentBandedPairs(sub, threshold, dfFrac, dfFloor,
        probeFrac, hitFrac, shingleN).localCheckpoint()))
    val (exact, banded) = (outs(0), outs(1))
    val strong = exact.filter(col("containment") >= 0.98)
    val nStrong = strong.agg(count(lit(1)).cast("long").as("n_strong"))
    val notInExact = banded.select(col("id_a"), col("id_b"))
      .join(exact, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).cast("long").as("banded_not_in_exact"))
    val missed = strong.select(col("id_a"), col("id_b"))
      .join(banded, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).cast("long").as("strong_missed"))
    val hygiene = banded.agg(
      (count(lit(1)) - countDistinct(col("id_a"), col("id_b")))
        .cast("long").as("dup_pairs"))
    nStrong.crossJoin(notInExact).crossJoin(missed).crossJoin(hygiene)
  }

  /** All pairs id_a < id_b whose character-3-gram Jaccard, rounded to 4
    * decimals, is ≥ threshold: exact, and row-identical to
    * [[ngramJaccardPairs]] and the DuckDB oracle. It runs on [[AllPairs]]
    * over sorted hashed-shingle sets. The corpus is broadcast while its
    * shingles are estimated at ≤ [[AllPairs.MaxBroadcastBytes]] (8 bytes
    * per text char, from one chars probe that reads `n_chars` when
    * present); above that the pairs run blocked, with a block count bounded
    * by task memory.
    */
  def jaccardPairs(d: DataFrame, threshold: Double): DataFrame =
    AllPairs.selfPairs(shingleSets(d), AllPairs.Jaccard, threshold,
      AllPairs.modeFor(d.sparkSession, 8L * totalChars(d)))

  /** All pairs id_a < id_b of `vec_id`s whose embedding cosine, rounded to
    * 4 decimals, is ≥ threshold: exact, with the sequential-double dot and
    * norms of [[VectorFns.dotN]] and the DuckDB oracle. It runs on
    * [[AllPairs]]: the vectors are broadcast while rows × (4·dim + 32)
    * bytes is ≤ [[AllPairs.MaxBroadcastBytes]] (`count()` on a parquet
    * source resolves from footer metadata, not a scan), and the pairs run
    * blocked above that. It stays O(N²); [[embeddingCosinePairsLsh]] is the
    * path that escapes it.
    */
  def cosinePairs(e: DataFrame, threshold: Double, dim: Int): DataFrame =
    AllPairs.selfPairs(vectors(e), AllPairs.cosine(dim), threshold,
      AllPairs.modeFor(e.sparkSession, e.count() * (4L * dim + 32L)))

  /** (doc_id, sorted hashed shingles of `text`): the Jaccard rows of
    * [[AllPairs]].
    */
  private[graft] def shingleSets(d: DataFrame): Dataset[(Long, Array[Long])] = {
    val spark = d.sparkSession
    import spark.implicits._
    d.select(col("doc_id").cast("long"), hashedShingles(col("text")))
      .as[(Long, Array[Long])]
  }

  /** (vec_id, embedding): the cosine rows of [[AllPairs]]. */
  private[graft] def vectors(e: DataFrame): Dataset[(Long, Array[Float])] = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])]
  }

  /** Block count B of the blocked all-pairs mode ([[AllPairs]], and
    * SemDedup's within-cell stage), the max of two constraints:
    *  - parallelism: B(B+1)/2 block-pair tasks ≈ 2× the core count keeps
    *    every core busy on the triangular workload;
    *  - memory: a task materializes two blocks ≈ 2·corpusBytes/B, so
    *    B ≥ 2·corpusBytes/taskBudget keeps per-task memory bounded no matter
    *    how large the corpus grows on a fixed cluster.
    * `corpusBytes` is an estimate (row count × average payload) supplied by
    * the caller from a cheap aggregate probe; 0 = unknown, parallelism only.
    */
  private[graft] def blockCount(spark: SparkSession, corpusBytes: Long = 0L,
                                taskBudgetBytes: Long = 256L << 20): Int = {
    val byCores = math.ceil(math.sqrt(
      4.0 * spark.sparkContext.defaultParallelism)).toInt
    val byMemory =
      if (corpusBytes <= 0) 0L
      else math.ceil(2.0 * corpusBytes / taskBudgetBytes).toLong
    // B(B+1)/2 tasks must stay an Int: cap B at 65535 (≈2.1e9 tasks). Past
    // that — ≈8 TB of corpus at the default budget — the task COUNT, not
    // task memory, is the binding constraint, and an O(N²) all-pairs scan
    // is the wrong tool regardless (use the LSH/banded paths).
    math.max(4L, math.max(byCores.toLong, byMemory)).min(65535L).toInt
  }

  /** Embedding near-dup pairs via random-hyperplane LSH — the production
    * path that escapes the O(N²) of [[cosinePairs]]: each
    * vector gets `bands` sign-bit bucket keys from ONE codegen'd pass
    * ([[graft.functions.LshBandBuckets]]), candidate pairs collide in ≥ 1
    * band, and only candidates are scored with the exact cosine (same
    * sequential-double contract as [[cosinePairs]], so every emitted
    * pair is a TRUE pair — banding only affects recall, never precision).
    *
    * Geometry: per-band collision p = (1 − θ/π)^bits — TUNE (bands, bits)
    * to the threshold. The defaults (8 bands × 8 bits) target the near-dup
    * regime: cos ≥ 0.9 (θ ≤ 26°) → 0.86^8 ≈ 0.29/band → 1−(1−0.29)^8 ≈
    * 94% recall, while random pairs (θ ≈ 90°) collide at ~0.4% per band.
    * A LOWER threshold needs fewer bits and more bands (cos 0.4: 16×4 ≈
    * 95% recall, at the cost of admitting ~60% of random pairs as
    * candidates — the low-threshold regime is where the exact [[cosinePairs]]
    * wins, because LSH selectivity and recall trade off against each
    * other).
    *
    * Scale shape: banded self-join on small (band, bucket) keys; the
    * verification joins fetch vectors by vec_id with NO broadcast hints —
    * equi-joins AQE resolves per runtime size (same design as
    * [[minhashLshPairs]] verification).
    */
  def embeddingCosinePairsLsh(e: DataFrame, threshold: Double, dim: Int,
                              bands: Int = 8, bitsPerBand: Int = 8): DataFrame = {
    import graft.functions.LshBandBuckets
    val par = graft.Tuning.fanout(e.sparkSession)
    val banded = e.select(col("vec_id"), col("embedding")).repartition(par)
      .select(col("vec_id"),
        posexplode(LshBandBuckets(col("embedding"), bands, bitsPerBand, dim))
          .as(Seq("bi", "bk")))
    val cands = banded.alias("l")
      .join(banded.alias("r"),
        col("l.bi") === col("r.bi") && col("l.bk") === col("r.bk") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("id_a"), col("r.vec_id").as("id_b"))
      .distinct()
    val va = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
      VectorFns.l2normN(col("embedding"), dim).as("na"))
    val vb = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
      VectorFns.l2normN(col("embedding"), dim).as("nb"))
    cands.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFns.dotN(col("ea"), col("eb"), dim) /
          (col("na") * col("nb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Corpus with deterministic planted near-dups: every `everyN`-th vector
    * gains a copy at `vec_id + idOffset` with alternating ±`eps` element
    * perturbation — cosine ≈ 0.999 to its original (the perturbation is
    * orthogonal-ish noise ≪ the vector norm), well inside the cos ≥ 0.9
    * near-dup regime, while planted↔unrelated similarities stay at the
    * corpus baseline. Pure column arithmetic, so the plant is identical on
    * every run/node and scales with the corpus (no driver data). Used by
    * the `dedup_embedding_lsh` battery entry so the detector demonstrably
    * emits verified pairs at gate scale (the raw corpus has no true
    * near-dups — max pairwise cos ≈ 0.51), and by the recall spec.
    */
  def plantEmbeddingNearDups(e: DataFrame, everyN: Int = 50,
                             idOffset: Long = 1L << 40,
                             eps: Float = 0.02f): DataFrame = {
    val base = e.select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") % everyN === 0)
      .select((col("vec_id") + idOffset).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + when(i % 2 === 0, lit(eps)).otherwise(lit(-eps))).as("embedding"))
    base.unionByName(planted)
  }

  /** Tier 1 of the incremental-dedup tiers: drop batch rows whose normalized
    * content fingerprint already exists in the corpus. Shuffles only 128-bit
    * hashes, never text; the batch-sized survivor frame is checkpointed for
    * its downstream consumers (shingles + final anti-join) — the corpus is
    * the big side and is deliberately re-scanned per tier instead.
    */
  private def exactSurvivorBatch(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val fpC = corpus.select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
    batch
      .select(col("doc_id"), col("text"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .join(fpC, Seq("fp"), "left_anti")
      .localCheckpoint()
  }

  /** Tier-1 dispatch: the anti-join form, or the Bloom-routed form when the
    * caller supplies a prebuilt filter — identical survivors either way,
    * but the Bloom route never shuffles the corpus.
    */
  private def exactSurvivors(corpus: DataFrame, batch: DataFrame,
                             corpusBloom: Option[Array[Byte]],
                             maxBroadcastFps: Long): DataFrame =
    corpusBloom match {
      case None => exactSurvivorBatch(corpus, batch)
      case Some(bytes) =>
        val admitted = bloomAdmitIds(corpusFps64(corpus),
          fingerprint64Of(batch), bytes, maxBroadcastFps)
        batch.select(col("doc_id"), col("text"))
          .join(admitted.select(col("doc_id")), Seq("doc_id"))
          .localCheckpoint()
    }

  /** Sum of text chars — prefers a precomputed length column so the probe
    * reads 8 bytes/row (column pruning) instead of scanning the text.
    */
  private def totalChars(d: DataFrame): Long = {
    val sizeCol =
      if (d.columns.contains("n_chars")) sum(col("n_chars").cast("long"))
      else sum(length(col("text")).cast("long"))
    val row = d.agg(sizeCol).head
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** Banded near-dup rejection (tier 2b of [[incrementalDedup]]): batch ids
    * with a verified (jac ≥ threshold) corpus near-dup, found via
    * [[graft.functions.MinHashBandKeys]] banding on BOTH sides instead of
    * exhaustive batch×corpus scoring. Candidates collide on (band, key) —
    * an equi-join on small keys, never an all-pairs loop — and only
    * candidates are merged through the codegen'd SortedIntersectSize
    * verifier, so every rejection is a TRUE near-dup (banding affects
    * recall only, never precision). This is the shape a 100 TB ingest runs:
    * per-batch cost is O(batch + corpus) band passes plus O(candidates)
    * merges, vs the exact tier's O(batch_rows × corpus_rows) merges.
    *
    * The verification joins carry NO broadcast hints — the corpus shingle
    * side is the memory bound banding exists to escape; AQE picks the join
    * strategy from runtime sizes (same design as [[minhashLshPairs]]).
    *
    * `corpusBytes` (estimated shingle payload ≈ 8 × corpus chars — one
    * 64-bit hash per shingle position; 0 = unknown) feeds the memory-aware
    * fan-out so the corpus band-key pass also bounds per-partition BYTES,
    * not just keeps cores busy.
    */
  private def bandedNearDupIds(b1: DataFrame, corpus: DataFrame, threshold: Double,
                               numHashes: Int, bands: Int,
                               corpusBytes: Long): DataFrame = {
    val par = graft.Tuning.fanout(b1.sparkSession, corpusBytes)
    val shB = b1.select(col("doc_id").as("b_id"), hashedShingles(col("text")).as("gb"))
      .withColumn("szb", size(col("gb")))
    // the corpus band-key pass is the hot loop; a small parquet input is
    // otherwise one split = one core (same trap as minhashLshPairs)
    val shC = corpus.select(col("doc_id").as("c_id"), hashedShingles(col("text")).as("gc"))
      .withColumn("szc", size(col("gc"))).repartition(par)
    val bandedB = shB.select(col("b_id"),
      posexplode(graft.functions.MinHashBandKeys(col("gb"), numHashes, bands))
        .as(Seq("bi", "bk")))
    val bandedC = shC.select(col("c_id"),
      posexplode(graft.functions.MinHashBandKeys(col("gc"), numHashes, bands))
        .as(Seq("bi", "bk")))
    val cands = bandedB.join(bandedC, Seq("bi", "bk"))
      .select(col("b_id"), col("c_id")).distinct()
    cands
      .join(shB, Seq("b_id"))
      .join(shC, Seq("c_id"))
      .select(col("b_id"),
        graft.functions.SortedIntersectSize(col("gb"), col("gc")).as("i"),
        (col("szb") + col("szc")).as("ab"))
      .select(col("b_id"),
        round(col("i").cast("double") / (col("ab") - col("i")), 4).as("jac"))
      .filter(col("jac") >= threshold)
      .select(col("b_id")).distinct()
  }

  /** Incremental dedup: admit only the rows of a NEW batch that duplicate
    * nothing in the existing corpus — the shape a 100 TB ingest actually
    * runs (the corpus is already deduped; only batch×corpus comparisons
    * happen, never corpus×corpus).
    *
    * Tiers:
    *  1. exact — anti-join on the normalized-content fingerprint: shuffles
    *     only 128-bit hashes, never text;
    *  2. near-dup — exact Jaccard of every (batch, corpus) pair, as the
    *     cross pairs of [[AllPairs]]: while the surviving batch's shingles
    *     are estimated at ≤ [[AllPairs.MaxBroadcastBytes]] (8 bytes per
    *     char) the batch is broadcast and the corpus streams past it once;
    *     above that the pairs run in batch × corpus blocks (no broadcast,
    *     bounded task memory), with the same rows. Batch docs with any
    *     corpus pair ≥ threshold are rejected.
    *  2b. banded — past `maxExactCorpusChars` of corpus text, exhaustive
    *     scoring (even memory-bounded) is the wrong asymptotic shape: the
    *     near-dup stage switches to [[bandedNearDupIds]] (MinHash banding
    *     on both sides, candidates only, exact-verified). Hash-dependent,
    *     so the auto-switch threshold is sized so the deterministic,
    *     oracle-gated exact form covers every gate-scale corpus; the
    *     banded tier is separately recall-pinned vs the exact output
    *     (OperatorsSpec) and registered as `dedup_incremental_banded`.
    *
    * `knownCorpusChars` lets a steady-state ingest skip the tier-switch
    * probe: the caller admits every surviving row, so it can maintain the
    * corpus size as a counter instead of paying a per-batch aggregation
    * action (8 bytes/row when an `n_chars` column exists, a full text scan
    * otherwise). The probe runs only when the size is genuinely unknown.
    *
    * `corpusBloom` (a prebuilt [[corpusFingerprintBloom]]) routes tier 1
    * through the Bloom prefilter instead of the fingerprint anti-join —
    * same admitted set, but the exact tier stops shuffling the corpus
    * (the near-dup tiers already never did). A steady-state ingest passes
    * both `knownCorpusChars` and its maintained filter.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, threshold: Double,
                       maxExactCorpusChars: Long = 1L << 30,
                       numHashes: Int = 32, bands: Int = 4,
                       knownCorpusChars: Option[Long] = None,
                       corpusBloom: Option[Array[Byte]] = None,
                       maxBroadcastFps: Long = 4L << 20): DataFrame = {
    val b1 = exactSurvivors(corpus, batch, corpusBloom, maxBroadcastFps)
    val corpusChars = knownCorpusChars.getOrElse(totalChars(corpus))
    val nearDup =
      if (corpusChars > maxExactCorpusChars)
        bandedNearDupIds(b1, corpus, threshold, numHashes, bands,
          corpusBytes = corpusChars * 8L)
      else
        AllPairs.crossPairs(shingleSets(b1), shingleSets(corpus), AllPairs.Jaccard,
          threshold, AllPairs.modeFor(corpus.sparkSession, 8L * totalChars(b1)))
          .select(col("id_a").as("b_id")).distinct()
    b1.join(nearDup, b1("doc_id") === nearDup("b_id"), "left_anti")
      .select(col("doc_id"))
  }

  /** [[incrementalDedup]] with the banded near-dup tier FORCED — the
    * production composition exercised at any scale (the auto-select in
    * incrementalDedup only reaches it past `maxExactCorpusChars`). Every
    * rejection is exact-verified, so the admitted set is a superset of the
    * exact tier's (banding can only miss candidates, never invent them);
    * the rejection recall vs the exact output is spec-pinned.
    */
  def incrementalDedupBanded(corpus: DataFrame, batch: DataFrame, threshold: Double,
                             numHashes: Int = 32, bands: Int = 4,
                             knownCorpusChars: Option[Long] = None,
                             corpusBloom: Option[Array[Byte]] = None,
                             maxBroadcastFps: Long = 4L << 20): DataFrame = {
    val b1 = exactSurvivors(corpus, batch, corpusBloom, maxBroadcastFps)
    val nearDup = bandedNearDupIds(b1, corpus, threshold, numHashes, bands,
      corpusBytes = knownCorpusChars.map(_ * 8L).getOrElse(0L))
    b1.join(nearDup, b1("doc_id") === nearDup("b_id"), "left_anti")
      .select(col("doc_id"))
  }

  /** 64-bit exact-dedup key: xxhash64 of the normalized content. The Bloom
    * tier keys on a LONG — one `mightContainLong` per row inside whole-stage
    * codegen — instead of the 128-bit md5 string fingerprint; both are pure
    * functions of [[TextAnalysis.normalizedText]], so they induce the same
    * duplicate relation (modulo 2⁻⁶⁴ collisions, the budget every
    * hash-dedup layer here already accepts).
    *
    * NULL text must stay NULL: bare `xxhash64` skips null children and
    * would hash every null text to the seed, silently deduping null-text
    * rows against each other — while the md5 anti-join (null keys never
    * join) admits each of them. The explicit null-out keeps the two routes
    * survivor-identical; [[bloomAdmitIds]] then routes null fingerprints
    * straight to "definitely new".
    */
  private def fingerprint64(c: Column): Column =
    when(c.isNotNull, xxhash64(TextAnalysis.normalizedText(c)))

  /** The corpus side's bare fingerprint projection — the one column every
    * Bloom-tier stage (filter build, verification scan) reads.
    */
  private def corpusFps64(corpus: DataFrame): DataFrame =
    corpus.select(fingerprint64(col("text")).as("fp64"))

  /** Serialized Bloom filter over the corpus's 64-bit fingerprints: one
    * columnar scan of the fingerprint projection, per-partition partial
    * filters OR-merged on the driver (`stat.bloomFilter` tree-aggregates) —
    * no shuffle. Driver/broadcast cost is the filter itself, ~1.2 bytes per
    * corpus document at fpp=1% (≈12 GB at 10B docs — past that, shard the
    * filter by fingerprint prefix and route each batch row to its shard's
    * bitmap; the tier's contract doesn't change).
    */
  def corpusFingerprintBloom(corpus: DataFrame, expectedItems: Long,
                             fpp: Double = 0.01): Array[Byte] =
    serializeBloom(corpusFingerprintBloomFilter(corpus, expectedItems, fpp))

  /** [[corpusFingerprintBloom]] as the live object — for callers that keep
    * and mutate the filter (the streaming ingest), avoiding a serialize/
    * deserialize round trip of the whole bitmap at startup.
    */
  def corpusFingerprintBloomFilter(corpus: DataFrame, expectedItems: Long,
                                   fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    fpsBloomFilter(corpusFps64(corpus), expectedItems, fpp)

  /** [[corpusFingerprintBloomFilter]] over an ALREADY-PROJECTED fp64 frame —
    * the rebuild path of the streaming ingest re-sizes its filter from the
    * fingerprint union it maintains (corpus + admitted deltas) without
    * re-fingerprinting any text.
    */
  private[graft] def fpsBloomFilter(fps: DataFrame, expectedItems: Long,
                                    fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    val proj = fps.select(col("fp64")).filter(col("fp64").isNotNull)
    // Spark's stat.bloomFilter NPEs on a zero-row frame (the aggregate
    // yields null and the wrapper calls readFrom(null)). A fresh corpus is
    // a legitimate ingest state, so catch that and build the empty filter —
    // catching beats an isEmpty probe, which would cost a second corpus job
    // on EVERY build just to guard the empty case. But an NPE on a NON-empty
    // corpus must not become an empty filter: that would route every batch
    // row to "definitely new" and silently admit duplicates (the filter only
    // routes, it never decides). The emptiness probe runs only inside the
    // already-exceptional catch branch, so the common path stays one job.
    try proj.stat.bloomFilter("fp64", math.max(expectedItems, 1L), fpp)
    catch {
      case npe: NullPointerException =>
        if (proj.limit(1).isEmpty)
          org.apache.spark.util.sketch.BloomFilter.create(math.max(expectedItems, 1L), fpp)
        else throw npe
    }
  }

  /** The Bloom tier's wire format (what [[bloomAdmitIds]] inlines as a
    * plan literal). One definition — the streaming ingest re-serializes
    * after admissions through this too.
    */
  def serializeBloom(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** `mightContainLong(value)` against a serialized filter, as a codegen'd
    * predicate — Spark's own runtime-filter expression with the filter bytes
    * inlined as a foldable literal (deserialized once per task, not per row).
    */
  private def bloomMightContain(bloomBytes: Array[Byte], value: Column): Column =
    graft.functions.BloomFilterAgg.mightContainCol(bloomBytes, value)

  /** Corpus fingerprints that actually occur in the (small) maybe set — the
    * Bloom tier's verification probe. The maybe set broadcasts into a
    * LeftSemi against the corpus fingerprint projection, so the corpus is
    * SCANNED once but never shuffled; the surviving hit set is at most
    * maybe-sized and broadcasts back out.
    */
  private[graft] def bloomVerifiedHits(corpusFps: DataFrame, maybeFps: DataFrame): DataFrame =
    corpusFps.join(broadcast(maybeFps.select(col("fp64")).distinct()),
      Seq("fp64"), "left_semi").distinct()

  /** Exact incremental dedup, Bloom-prefilter tier: admit the batch rows
    * whose normalized content does not already exist in the corpus, WITHOUT
    * ever shuffling the corpus.
    *
    * The plain exact tier anti-joins batch fingerprints against corpus
    * fingerprints — correct, but it shuffles the full corpus fingerprint set
    * every batch, which at a 100 TB corpus is the dominant per-ingest cost.
    * This tier routes instead of shuffling:
    *
    *  1. build a Bloom filter over corpus fingerprints (one corpus scan, no
    *     shuffle — [[corpusFingerprintBloom]]);
    *  2. batch rows the filter REJECTS are definitely new (a Bloom filter
    *     has no false negatives) — admitted with zero corpus work;
    *  3. the remaining "maybe" rows (true duplicates + ~fpp·batch false
    *     positives) are exact-verified through [[bloomVerifiedHits]]: one
    *     more corpus scan under a broadcast semi-join, still no corpus
    *     shuffle. A degenerate maybe set (> `maxBroadcastFps`, e.g. a batch
    *     that is mostly duplicates) falls back to the classic shuffle
    *     anti-join rather than broadcasting something huge.
    *
    * The result is IDENTICAL to the exact anti-join — the filter only routes
    * rows, never decides them — so the entry keeps the full DuckDB oracle.
    *
    * `knownCorpusRows` mirrors `knownCorpusChars` on [[incrementalDedup]]:
    * a steady-state ingest maintains the corpus cardinality as a counter and
    * skips the sizing probe (the filter itself it must rebuild only when the
    * corpus grows past the expected-items headroom it was sized for).
    */
  def incrementalDedupBloom(corpus: DataFrame, batch: DataFrame,
                            fpp: Double = 0.01,
                            knownCorpusRows: Option[Long] = None,
                            maxBroadcastFps: Long = 4L << 20): DataFrame = {
    val expected = knownCorpusRows.getOrElse(corpus.count())
    incrementalDedupBloom(corpus, batch,
      corpusFingerprintBloom(corpus, expected, fpp), maxBroadcastFps)
  }

  /** [[incrementalDedupBloom]] against a PREBUILT filter — the steady-state
    * ingest form. The filter build is the only corpus-wide pass the tier
    * has besides verification, and nothing about it depends on the batch,
    * so a long-running ingest builds [[corpusFingerprintBloom]] once (sized
    * with headroom), reuses the bytes for every batch, and only rebuilds
    * when the corpus outgrows the expected-items budget the filter was
    * sized for. Admitted docs' fingerprints can even be `put` into a local
    * copy between rebuilds — a Bloom filter unions by OR, so staleness only
    * ever routes a few extra rows into verification, never corrupts the
    * result.
    */
  def incrementalDedupBloom(corpus: DataFrame, batch: DataFrame,
                            bloom: Array[Byte],
                            maxBroadcastFps: Long): DataFrame =
    bloomAdmitIds(corpusFps64(corpus), fingerprint64Of(batch),
      bloom, maxBroadcastFps)
      .select(col("doc_id"))

  /** Route-and-verify core of the Bloom tier, on fingerprints directly:
    * `batchFps` is (doc_id, fp64), `corpusFps` is the fp64 projection of
    * whatever the batch must be new AGAINST (the corpus, plus any
    * fingerprints admitted since the filter was built — the streaming
    * ingest maintains exactly that union). Returns admitted (doc_id, fp64)
    * so callers can fold admissions back into their filter and state.
    */
  private[graft] def bloomAdmitIds(corpusFps: DataFrame, batchFps: DataFrame,
                                   bloom: Array[Byte],
                                   maxBroadcastFps: Long,
                                   onRoute: (Long, Boolean) => Unit = (_, _) => ()): DataFrame = {
    // one batch scan total: fingerprint + route flag, materialized batch-
    // sized (two longs + bool per row) for its three consumers below
    // null fingerprint (null text) → "definitely new": the anti-join form
    // admits every null-key row, and a null routed into `maybe` would be
    // dropped by BOTH filters below (three-valued logic)
    val flagged = batchFps
      .withColumn("maybe",
        coalesce(bloomMightContain(bloom, col("fp64")), lit(false)))
      .localCheckpoint()
    val definite = flagged.filter(!col("maybe"))
    val maybe = flagged.filter(col("maybe"))
    val maybeCount = maybe.count()
    val broadcastRoute = maybeCount <= maxBroadcastFps
    onRoute(maybeCount, broadcastRoute)
    val survivors =
      if (broadcastRoute) {
        maybe.join(broadcast(bloomVerifiedHits(corpusFps, maybe)),
          Seq("fp64"), "left_anti")
      } else {
        maybe.join(corpusFps, Seq("fp64"), "left_anti")
      }
    definite.select(col("doc_id"), col("fp64"))
      .union(survivors.select(col("doc_id"), col("fp64")))
  }

  /** The Bloom tier's 64-bit fingerprint projection of a documents frame —
    * shared with the streaming ingest so both sides key on the same hash.
    */
  private[graft] def fingerprint64Of(d: DataFrame): DataFrame =
    d.select(col("doc_id"), fingerprint64(col("text")).as("fp64"))

  /** Edit-distance near-duplicate pairs: every a<b pair of documents whose
    * normalized texts are within `maxDist` Levenshtein edits.
    *
    * `contentBlocked = true` (default, the 100 TB path): candidates come from
    * MinHash band-key collisions over normalized-text shingles — the same
    * banding as [[minhashLshPairs]] — intersected with the exact length bound
    * (`lev(a,b) ≥ |len(a)−len(b)|`, so |Δlen| ≤ maxDist is a free exact
    * pre-filter inside the band join). Candidate volume is then governed by
    * the corpus Jaccard distribution against the band S-curve — content, not
    * length demographics: r6's length-only blocking produced Σ bucket² ∝
    * N²/#buckets candidates regardless of content — 10,000× the levenshtein
    * work at 100× the data. On a low-baseline web corpus (pairwise jac ~0.1,
    * per-band collision 0.1⁸ ≈ 1e-8) the banded candidate set is linear in
    * true near-dup density; on this synthetic shared-template corpus
    * (baseline jac ≈ 0.65) it is a constant ~0.3% of all pairs at both gate
    * scales — 3× under the length blocker and 7× faster end-to-end at sf0.1
    * (1.27 s vs 9.4 s). Banding is probabilistic (recall < 1 in theory);
    * with 8-row bands a pair at shingle-Jaccard j collides with
    * p = 1−(1−j⁸)⁴, and ed ≤ 16 pairs on non-trivial documents sit at
    * j ≥ ~0.9 → p ≥ 0.99; measured recall vs the exact oracle is 1.0 at
    * sf0.01 and sf0.1 (DedupSpec pins linear candidate growth; the oracle
    * gate re-derives the full exact pair set).
    *
    * `contentBlocked = false` is the EXACT fallback: length buckets of width
    * `maxDist+1`, probe registered under bucket offsets {−1,0,+1}, so every
    * qualifying pair meets exactly once — guaranteed-complete blocking, at
    * quadratic candidate cost; for corpora where missing a rare low-Jaccard
    * pair is unacceptable.
    *
    * Both paths verify with the banded three-argument
    * `levenshtein(l, r, max)` — O(maxDist·n) per pair with early exit —
    * computed ONCE in the projection (Catalyst does not CSE between a join
    * condition and a projection, so the r6 form that filtered `=!= -1` in
    * the join ON-clause ran the scan twice per emitted pair), then filtered.
    */
  def editDistancePairs(d: DataFrame, maxDist: Int = 16,
                        contentBlocked: Boolean = true,
                        numHashes: Int = 32, bands: Int = 4): DataFrame = {
    val base = d.filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.normalizedText(col("text")).as("norm"))
      .withColumn("len", length(col("norm")))
    val verified =
      if (contentBlocked) {
        editDistanceCandidates(base, maxDist, numHashes, bands)
          .join(base.select(col("doc_id").as("id_a"), col("norm").as("na")), Seq("id_a"))
          .join(base.select(col("doc_id").as("id_b"), col("norm").as("nb")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            levenshtein(col("na"), col("nb"), maxDist).cast("long").as("dist"))
      } else {
        val w = maxDist + 1
        val bucketed = base.withColumn("b", floor(col("len") / w))
        val build = bucketed.select(col("doc_id").as("id_a"), col("norm").as("na"),
          col("len").as("la"), col("b").as("ba"))
        val probe = bucketed.select(col("doc_id").as("id_b"), col("norm").as("nb"),
            col("len").as("lb"),
            explode(array(col("b") - 1, col("b"), col("b") + 1)).as("bb"))
        build.join(probe,
            col("ba") === col("bb") && col("id_a") < col("id_b") &&
              abs(col("la") - col("lb")) <= maxDist)
          .select(col("id_a"), col("id_b"),
            levenshtein(col("na"), col("nb"), maxDist).cast("long").as("dist"))
      }
    verified.filter(col("dist") =!= -1L)
  }

  /** Content-blocked candidate pairs for [[editDistancePairs]]: MinHash
    * band-key equality over normalized-text shingles ∩ |Δlen| ≤ maxDist.
    * Exposed so DedupSpec can pin candidate-volume linearity independent of
    * the verify stage. Input must carry (doc_id, norm, len).
    */
  private[graft] def editDistanceCandidates(base: DataFrame, maxDist: Int,
                                            numHashes: Int, bands: Int): DataFrame = {
    val par = graft.Tuning.fanout(base.sparkSession)
    val banded = base.repartition(par)
      .select(col("doc_id"), col("len"),
        posexplode(graft.functions.MinHashBandKeys(
          hashedShingles(col("norm")), numHashes, bands)).as(Seq("bi", "bk")))
    banded.alias("l")
      .join(banded.alias("r"),
        col("l.bi") === col("r.bi") && col("l.bk") === col("r.bk") &&
          col("l.doc_id") < col("r.doc_id") &&
          abs(col("l.len") - col("r.len")) <= maxDist)
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
      .distinct()
  }

  /** Unicode-canonical dedup groups: documents whose RAW texts differ but
    * fold to the same accent/case/encoding-form-insensitive key
    * ([[graft.functions.UnicodeFold]]: NFD → strip marks → lower). These are
    * exactly the duplicates byte-exact dedup CANNOT see — NFC vs NFD
    * spellings, case variants, diacritic-stripped mirrors of the same text —
    * all common across web-scraped corpora. Groups whose members are
    * byte-identical already belong to `dedup_exact_groups`; this operator
    * keeps only `n_raw_forms > 1` groups so the two tiers partition the
    * dup space cleanly.
    *
    * Scale shape: one map-side fold + md5 (both codegen'd), ONE shuffle on
    * the 128-bit key with partial aggregation — the text itself never
    * shuffles beyond the distinct-forms count, which can be dropped (or
    * replaced by approx_count_distinct) at the 100 TB tier if the
    * raw-form histogram isn't needed.
    */
  def unicodeFoldGroups(d: DataFrame, idCol: String, textCol: String): DataFrame =
    d.withColumn("fold_key",
        md5(graft.functions.UnicodeFold.unicodeFold(col(textCol))))
      .groupBy(col("fold_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"),
        countDistinct(col(textCol)).as("n_raw_forms"))
      .filter(col("n_raw_forms") > 1)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // unicode-fold dedup over a planted corpus: accented (NFC), upper-cased,
    // and DECOMPOSED-accent (NFD combining mark) variants of base docs must
    // all merge with their originals under the fold key. Full hash oracle —
    // the fold is engine-portable (see UnicodeFold scaladoc).
    "dedup_unicode_fold" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val accented = base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          translate(col("text"), "aeiou", "àéîöü").as("text"))
      val cased = base.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          upper(col("text")).as("text"))
      val decomposed = base.filter(col("doc_id") % 11 === 6)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          // "e" + U+0301 COMBINING ACUTE — the NFD spelling of é
          regexp_replace(col("text"), "e", "e\u0301").as("text"))
      unicodeFoldGroups(
        base.unionByName(accented).unionByName(cased).unionByName(decomposed),
        "doc_id", "text")
    }),

    // exact dedup: duplicate-content groups with the survivor id
    "dedup_exact_groups" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .select(col("keep_id"), col("n_copies"))
    }),

    // exact dedup survivors via fingerprint + min-per-group (the scalable
    // form: shuffles once on a 128-bit hash with a map-side partial agg,
    // never on the text itself, and never sorts — a row_number window
    // computing the same survivor set costs a full sort per partition
    // (measured 18.1 s vs sub-second at sf0.1). If the survivor's full
    // payload is needed, min_by(struct(...), doc_id) keeps the same shape.
    "dedup_exact_survivors" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
    }),

    // brute-force n-gram Jaccard pairs (oracle baseline for the LSH path):
    // the all-pairs executor, broadcast under its size cap, blocked (no
    // collect, bounded task memory) above it
    "dedup_ngram_jaccard" -> ((s, dir) =>
      jaccardPairs(docs(s, dir), threshold = 0.8)),

    // the same Jaccard-pairs contract via PREFIX FILTERING — exact AND
    // subquadratic in the near-dup-sparse regime (vs the brute baseline
    // above and the approximate LSH tier below). The gate runs a
    // deterministic third of the corpus: THIS corpus's pairwise baseline
    // similarity (~0.65 vs threshold 0.8) keeps ~27% of all pairs as
    // candidates even after the length + positional filters — a density
    // no candidate strategy can prune away — so the full-corpus form
    // prices at 11 s while the 60-k-row brute broadcast kernel does 2 s;
    // on a real (low-overlap) corpus the comparison inverts, and the
    // full-corpus row equality with the brute tier is spec-pinned at
    // three thresholds
    "dedup_jaccard_prefix" -> ((s, dir) =>
      jaccardPrefixPairs(docs(s, dir).filter(col("doc_id") % 3 === 0),
        threshold = 0.8)),

    // asymmetric containment pairs at t = 0.9 over the same sub-corpus —
    // quote/wrapper near-dups Jaccard dilutes away (oracle re-derives the
    // relation quadratically; like its jaccard siblings, gated at sf0.01
    // where the DuckDB side is all-pairs)
    "dedup_containment" -> ((s, dir) =>
      containmentPrefixPairs(docs(s, dir).filter(col("doc_id") % 3 === 0),
        threshold = 0.9)),

    // the banded containment scale twin at the same threshold over the
    // same sub-corpus (no full oracle: prefix membership tie-breaks on the
    // xxhash64 token value; admissions ⊆ exact relation by the shared
    // verify kernel; recall + hygiene oracle-gated by
    // dedup_containment_banded_check)
    "dedup_containment_banded" -> ((s, dir) =>
      containmentBandedPairs(docs(s, dir).filter(col("doc_id") % 3 === 0),
        threshold = 0.9)),

    // the banded-containment semantic gate — strong-pair (containment
    // ≥ 0.98) recall pinned at 100%, subset + hygiene counters designed
    // zero, vs a DuckDB-derived quadratic strong-pair count
    "dedup_containment_banded_check" -> ((s, dir) =>
      containmentBandedInvariants(docs(s, dir))),

    // the banded tier on the LOW-OVERLAP twin corpus (r15 verdict task #4:
    // the scaladoc's ~linear-candidate claim was only measured on the
    // 0.65-baseline synthetic corpus). [[lowOverlapDocs]] derives a corpus
    // whose per-doc shingle vocabularies are md5-disjoint except for the
    // planted base⊂wrapper pairs, so candidate growth is pair-truth-linear
    // by construction and the slope row measures the engine, not the
    // corpus. FULL quadratic DuckDB oracle (the admitted relation is
    // cross-engine derivable: 8-gram slices of the same md5 hex)
    "dedup_containment_lowoverlap" -> ((s, dir) =>
      containmentBandedPairs(lowOverlapDocs(docs(s, dir)), threshold = 0.9,
        shingleN = 8)),

    // its semantic gate on the same corpus — strong-pair recall 100%,
    // subset/hygiene designed zero, n_strong re-derived by DuckDB
    "dedup_containment_lowoverlap_check" -> ((s, dir) =>
      containmentBandedInvariants(lowOverlapDocs(docs(s, dir)),
        shingleN = 8)),

    // edit-distance near-dup pairs (exact length-bucket blocking + banded
    // levenshtein; oracle recomputes the unbanded distance over a<b pairs)
    "dedup_edit_distance" -> ((s, dir) =>
      editDistancePairs(docs(s, dir), maxDist = 16)),

    // MinHash+LSH near-dup pairs — the 100 TB path (no oracle: depends on
    // xxhash64; the rows are verified true-Jaccard ≥ 0.8 pairs; recall
    // floor + pair hygiene oracle-gated by dedup_minhash_lsh_check)
    "dedup_minhash_lsh" -> ((s, dir) =>
      minhashLshPairs(docs(s, dir), threshold = 0.8)),

    // the MinHash-LSH semantic gate — exact-dup recall floor (identical
    // text ⇒ identical signature ⇒ all bands collide ⇒ jac = 1.0 emitted)
    // and violation counters hash-compared against a DuckDB-derived
    // conservation row
    "dedup_minhash_lsh_check" -> ((s, dir) =>
      minhashLshInvariants(docs(s, dir))),

    // SimHash near-dup pairs (no oracle: xxhash64-dependent; recall floor
    // + pair hygiene oracle-gated by dedup_simhash_check)
    "dedup_simhash" -> ((s, dir) => simhashPairs(docs(s, dir))),

    // the SimHash semantic gate — exact-dup recall floor and violation
    // counters hash-compared against a DuckDB-derived conservation row
    "dedup_simhash_check" -> ((s, dir) => simhashInvariants(docs(s, dir))),

    // embedding-cosine near-dup pairs via the all-pairs executor
    "dedup_embedding_cosine" -> ((s, dir) =>
      cosinePairs(emb(s, dir), threshold = 0.4,
        dim = graft.Tables.EmbeddingDim)),

    // embedding near-dup via hyperplane-LSH banding, at its DESIGNED
    // regime (cos ≥ 0.9, 8×8 banding → ~94% recall, ~6% of random pairs as
    // candidates). The raw corpus has no true near-dups (max pairwise cos ≈
    // 0.51 at sf0.01) and would exercise zero collisions, so the entry
    // plants deterministic near-dups (every 50th vector, perturbed copy —
    // column arithmetic, no driver data) and must emit one verified pair
    // per plant; every emitted row carries its exact cosine ≥ 0.9, and the
    // full-recovery pin lives in OperatorsSpec. The BROAD-similarity regime
    // (the 0.4-threshold miner) is deliberately served by the exact
    // all-pairs entry above: banding loose enough to recall cos-0.4 pairs admits
    // ~60% of ALL pairs as candidates and then re-scores them through two
    // vector-fetch joins — measured 10 s vs the exact kernel's 2 s, i.e. an
    // "index" slower than brute force.
    // The planted frame is localCheckpoint'd: its perturbation `transform`
    // lambda is interpreted (outside whole-stage codegen), and the LSH pairer
    // scans its input three times (band pass + two vector-fetch joins) — one
    // eager materialization beats three interpreted re-evaluations (measured
    // 3.9 → 2.4 s warm at sf0.1; the rest of the r4 in-suite 14.2 s was JVM
    // interference from neighboring entries, and the entry's cold time is
    // plan-compile-bound — the corpus is only 2 000 rows at sf0.1).
    "dedup_embedding_lsh" -> ((s, dir) =>
      embeddingCosinePairsLsh(plantEmbeddingNearDups(emb(s, dir)).localCheckpoint(),
        threshold = 0.9, dim = graft.Tables.EmbeddingDim)),

    // the hyperplane-LSH semantic gate — planted-pair recovery floor +
    // verification/banding hygiene vs a DuckDB-derived plant count
    "dedup_embedding_lsh_check" -> ((s, dir) =>
      embeddingLshInvariants(emb(s, dir))),

    // incremental ingest dedup: hash-split 80/20 into corpus/new-batch
    // (Sampling.hashBucket — the same split the oracle reproduces), admit
    // only batch docs with no exact or near (jac ≥ 0.8) corpus duplicate
    "dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val bucket = Sampling.hashBucket(col("doc_id"))
      incrementalDedup(
        corpus = d.filter(bucket < 80),
        batch = d.filter(bucket >= 80),
        threshold = 0.8)
    }),

    // the Bloom-prefilter exact tier on the same 80/20 split — identical
    // admitted set to the fingerprint anti-join (the filter only routes),
    // but the corpus is never shuffled: scanned once into partial Bloom
    // filters, once more under a broadcast semi for the maybe remainder
    "dedup_incremental_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      val bucket = Sampling.hashBucket(col("doc_id"))
      incrementalDedupBloom(
        corpus = d.filter(bucket < 80),
        batch = d.filter(bucket >= 80))
    }),

    // the banded production tier on the same 80/20 split (no oracle:
    // MinHash banding is xxhash64-dependent; admitted ⊇ exact-admitted and
    // rejection recall are spec-pinned vs dedup_incremental's oracle form)
    "dedup_incremental_banded" -> ((s, dir) => {
      val d = docs(s, dir)
      val bucket = Sampling.hashBucket(col("doc_id"))
      incrementalDedupBanded(
        corpus = d.filter(bucket < 80),
        batch = d.filter(bucket >= 80),
        threshold = 0.8)
    }),

    // the banded-tier semantic gate — admitted ⊇ exact-admitted, exact
    // duplicates never admitted, no duplicate admits, vs a DuckDB-derived
    // batch size on the same 80/20 split
    "dedup_incremental_banded_check" -> ((s, dir) =>
      incrementalBandedInvariants(docs(s, dir)))
  )

  def oracles: Map[String, String] = Map(
    // the same planted corpus re-derived; DuckDB's fold recipe
    // lower(strip_accents(nfc_normalize(x))) is semantically identical to
    // UnicodeFold's NFD→strip-Mn→lower on this character range (pinned in
    // UnicodeFoldSpec against a DuckDB-generated fixture). The decomposed
    // variant's replacement is "e" + U+0301 verbatim in the SQL text.
    "dedup_unicode_fold" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, translate(text, 'aeiou', 'àéîöü')
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, upper(text)
        |  FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id + 3000000, replace(text, 'e', 'é')
        |  FROM documents WHERE doc_id % 11 = 6)
        |SELECT md5(lower(strip_accents(nfc_normalize(text)))) AS fold_key,
        |  MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_docs,
        |  COUNT(DISTINCT text) AS n_raw_forms
        |FROM corpus
        |GROUP BY 1 HAVING COUNT(DISTINCT text) > 1""".stripMargin,
    // exact-dup pair count derived independently; the recall-floor and
    // hygiene counters are constants BY DESIGN (see simhashInvariants)
    "dedup_simhash_check" ->
      """WITH e AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON a.text = b.text AND a.doc_id < b.doc_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
        |  CAST(0 AS BIGINT) AS missing_exact_pairs,
        |  CAST(0 AS BIGINT) AS dup_pairs
        |FROM e""".stripMargin,
    // same conservation-row design as dedup_simhash_check; sub-shingle
    // texts excluded on both sides (empty shingle set ⇒ 0/0 Jaccard is
    // undefined, not a missed duplicate)
    "dedup_minhash_lsh_check" ->
      """WITH e AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON a.text = b.text AND a.doc_id < b.doc_id
        |  WHERE length(a.text) >= 3)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
        |  CAST(0 AS BIGINT) AS missing_exact_pairs,
        |  CAST(0 AS BIGINT) AS dup_pairs
        |FROM e""".stripMargin,
    // plant count derived independently (every 50th vector gets a copy);
    // recovery/hygiene counters are constants BY DESIGN (see
    // embeddingLshInvariants)
    "dedup_embedding_lsh_check" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |  CAST(0 AS BIGINT) AS missing_planted_pairs,
        |  CAST(0 AS BIGINT) AS below_threshold_pairs,
        |  CAST(0 AS BIGINT) AS dup_pairs
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,
    "dedup_exact_groups" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text HAVING COUNT(*) > 1""".stripMargin,
    "dedup_exact_survivors" ->
      """SELECT MIN(doc_id) AS doc_id FROM documents
        |GROUP BY MD5(LOWER(regexp_replace(trim(text), '\s+', ' ', 'g')))""".stripMargin,
    "dedup_edit_distance" ->
      """WITH n AS (
        |  SELECT doc_id, LOWER(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.norm, b.norm) AS BIGINT) AS dist
        |FROM n a JOIN n b
        |  ON a.doc_id < b.doc_id
        | AND ABS(LENGTH(a.norm) - LENGTH(b.norm)) <= 16
        | AND levenshtein(a.norm, b.norm) <= 16""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, length(text) - 1), i -> text[i:i+2])) AS g
        |FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
        |        len(list_distinct(a.g || b.g)), 4) AS jac
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
        |      len(list_distinct(a.g || b.g)), 4) >= 0.8""".stripMargin,
    // identical contract to dedup_ngram_jaccard — the prefix-filter tier
    // must reproduce the brute tier's rows exactly (same oracle text; like
    // its siblings, gated at sf0.01 where the DuckDB side is quadratic)
    "dedup_jaccard_prefix" ->
      """WITH sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, length(text) - 1), i -> text[i:i+2])) AS g
        |FROM documents WHERE doc_id % 3 = 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
        |        len(list_distinct(a.g || b.g)), 4) AS jac
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
        |      len(list_distinct(a.g || b.g)), 4) >= 0.8""".stripMargin,
    // ordered pairs, normalized by the CONTAINED side's shingle count
    "dedup_containment" ->
      """WITH sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, length(text) - 1), i -> text[i:i+2])) AS g
        |FROM documents WHERE doc_id % 3 = 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g), 4)
        |    AS containment
        |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |WHERE len(a.g) > 0 AND
        |  ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g), 4)
        |    >= 0.9""".stripMargin,
    // strong-pair count re-derived quadratically (same relation as the
    // dedup_containment oracle at the 0.98 bar); the three contract
    // columns are constants BY DESIGN (see containmentBandedInvariants)
    "dedup_containment_banded_check" ->
      """WITH sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, length(text) - 1), i -> text[i:i+2])) AS g
        |FROM documents WHERE doc_id % 3 = 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_strong,
        |  CAST(0 AS BIGINT) AS banded_not_in_exact,
        |  CAST(0 AS BIGINT) AS strong_missed,
        |  CAST(0 AS BIGINT) AS dup_pairs
        |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |WHERE len(a.g) > 0 AND
        |  ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g), 4)
        |    >= 0.98""".stripMargin,
    // LOW-OVERLAP twin: DuckDB re-derives the SAME md5-hex corpus (base
    // docs = 10 md5 blocks, wrappers = base + 4 pad blocks at the 3·2^40
    // id offset) and the full quadratic containment relation over 8-gram
    // slices — the banded tier's output is hash-comparable here because
    // the corpus has no weak (0.9 ≤ c < 0.98) pairs to approximate away
    "dedup_containment_lowoverlap" ->
      s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |lo AS (
        |  SELECT doc_id, $LowOverlapBaseSql AS text FROM ids
        |  UNION ALL
        |  SELECT doc_id + $LowOverlapWrapperOffset,
        |    $LowOverlapBaseSql || $LowOverlapPadSql AS text
        |  FROM ids WHERE doc_id % 5 = 0),
        |sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, length(text) - 6), i -> text[i:i+7])) AS g
        |FROM lo)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g), 4)
        |    AS containment
        |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |WHERE len(a.g) > 0 AND
        |  ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g), 4)
        |    >= 0.9""".stripMargin,
    // its gate: n_strong re-derived quadratically over the same derived
    // corpus; contract columns designed zero
    "dedup_containment_lowoverlap_check" ->
      s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |lo AS (
        |  SELECT doc_id, $LowOverlapBaseSql AS text FROM ids
        |  UNION ALL
        |  SELECT doc_id + $LowOverlapWrapperOffset,
        |    $LowOverlapBaseSql || $LowOverlapPadSql AS text
        |  FROM ids WHERE doc_id % 5 = 0),
        |sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, length(text) - 6), i -> text[i:i+7])) AS g
        |FROM lo)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_strong,
        |  CAST(0 AS BIGINT) AS banded_not_in_exact,
        |  CAST(0 AS BIGINT) AS strong_missed,
        |  CAST(0 AS BIGINT) AS dup_pairs
        |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |WHERE len(a.g) > 0 AND
        |  ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g), 4)
        |    >= 0.98""".stripMargin,
    "dedup_incremental_bloom" ->
      // NOT EXISTS with plain equality, NOT `NOT IN`: a NULL text anywhere
      // in the corpus would turn every NOT IN into NULL (three-valued
      // logic) and drop all rows, while the engine's anti-join — and this
      // form — admit NULL-key rows
      """WITH b AS (SELECT doc_id, text FROM documents
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 >= 80),
        |c AS (SELECT text FROM documents
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 < 80)
        |SELECT doc_id FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM c
        |  WHERE MD5(LOWER(regexp_replace(trim(c.text), '\s+', ' ', 'g'))) =
        |        MD5(LOWER(regexp_replace(trim(b.text), '\s+', ' ', 'g'))))""".stripMargin,
    // batch-size conservation derived independently (the same md5 split
    // expression as the dedup_incremental oracle); the admission-contract
    // counters are constants BY DESIGN (see incrementalBandedInvariants)
    "dedup_incremental_banded_check" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_batch,
        |  CAST(0 AS BIGINT) AS exact_admits_rejected,
        |  CAST(0 AS BIGINT) AS exact_dup_admitted,
        |  CAST(0 AS BIGINT) AS dup_admits
        |FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 >= 80""".stripMargin,
    "dedup_incremental" ->
      """WITH b AS (SELECT doc_id, text FROM documents
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 >= 80),
        |c AS (SELECT doc_id, text FROM documents
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 < 80),
        |bf AS (SELECT * FROM b
        |  WHERE NOT EXISTS (SELECT 1 FROM c
        |    WHERE MD5(LOWER(regexp_replace(trim(c.text), '\s+', ' ', 'g'))) =
        |          MD5(LOWER(regexp_replace(trim(b.text), '\s+', ' ', 'g'))))),
        |shb AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, length(text) - 1), i -> text[i:i+2])) AS g FROM bf),
        |shc AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, length(text) - 1), i -> text[i:i+2])) AS g FROM c),
        |dup AS (SELECT DISTINCT shb.doc_id FROM shb JOIN shc
        |  ON ROUND(CAST(len(list_intersect(shb.g, shc.g)) AS DOUBLE) /
        |     len(list_distinct(shb.g || shc.g)), 4) >= 0.8)
        |SELECT doc_id FROM bf WHERE doc_id NOT IN (SELECT doc_id FROM dup)""".stripMargin,
    "dedup_embedding_cosine" ->
      """WITH c AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
        |    (SQRT(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) *
        |     SQRT(list_sum(list_transform(range(1, len(b.embedding) + 1),
        |      i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(cos, 4) AS cos FROM c WHERE ROUND(cos, 4) >= 0.4""".stripMargin
  )
}
