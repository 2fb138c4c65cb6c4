package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fn.Ranking

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language identification (stopword-profile
  * heuristic), and document fingerprinting. All are codegen'd column
  * expressions (`split`/`filter`/`regexp_*`/`md5`) — no UDFs — so they run
  * inside whole-stage codegen over any `documents`-shaped table at any scale.
  */
object TextAnalysis {

  /** Whitespace tokenization. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-style pre-tokenization count — the practical "how many tokens will
    * the tokenizer see" estimate. Splits the way GPT-style pre-tokenizers
    * do (letter runs, digit runs, punctuation runs, each with an optional
    * leading space) but restricted to the Java-regex ∩ RE2 subset: the
    * canonical pattern's `(?!\S)` lookahead is dropped, which only changes
    * how runs of trailing whitespace count. `\p{L}`/`\p{N}` keep it
    * Unicode-correct (a CJK span counts per run, an accented word is one
    * token). One codegen'd regexp_count per row — no explode, no shuffle.
    */
  val BpeTokenPattern = " ?\\p{L}+| ?\\p{N}+| ?[^\\p{L}\\p{N}\\s]+"

  def bpeTokenCount(c: Column): Column =
    regexp_count(c, lit(BpeTokenPattern))

  /** Lowercased, whitespace-collapsed text — the canonical content on which
    * exact-dedup equality is defined. Every exact-dedup key (the md5
    * [[fingerprint]], the Bloom tier's xxhash64 key) hashes THIS, so they
    * all agree on which documents are duplicates.
    */
  def normalizedText(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** Normalized-content fingerprint: MD5 over lowercased, space-collapsed
    * text. Equal fingerprints ⇔ equal normalized content — the exact-dedup key.
    */
  def fingerprint(c: Column): Column = md5(normalizedText(c))

  /** Count of tokens drawn from a fixed marker list (codegen'd In predicate). */
  def markerCount(c: Column, markers: Seq[String]): Column =
    size(filter(tokens(c), t => t.isInCollection(markers)))

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")

  /** Stopword ratio — a standard quality signal. */
  def stopwordRatio(c: Column): Column =
    markerCount(c, EnglishStopwords).cast("double") / tokenCount(c)

  /** Composite quality score ∈ [0,1]: length credit (saturating at 50 tokens)
    * discounted by stopword density. Deterministic arithmetic only.
    */
  def qualityScore(c: Column): Column =
    round(least(lit(1.0), tokenCount(c) / lit(50.0)) *
      (lit(1.0) - lit(0.5) * stopwordRatio(c)), 4)

  /** Language-ID marker profiles (n-gram/stopword heuristic). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "les", "une", "est", "dans", "pour"),
    "es" -> Seq("el", "los", "las", "es", "por", "como"))

  /** Stopword-profile language guess with a fixed preference order on ties
    * (en > de > fr > es) so the result is deterministic.
    */
  def langGuess(c: Column): Column = {
    val scores = LangMarkers.map { case (lang, ms) => lang -> markerCount(c, ms) }
    val Seq(en, de, fr, es) = scores.map(_._2)
    when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Top-k TF-IDF terms per document.
    *
    * The idf is the RAW ratio `(N+1)/(df+1)` rather than its log: log is
    * monotone, so the per-document top-k ranking is identical, and the
    * ratio of integers divides to the bit-identical IEEE double on every
    * engine — `ln` implementations differ in the last ulp across libm
    * versions, which a hash-compared oracle cannot tolerate.
    *
    * Scale shape: one explode + two hash aggregations (term-frequency per
    * doc, document-frequency per term) + a vocab-sized join (df table —
    * AQE broadcasts it) + one per-doc window. No driver-side state except
    * the corpus row count (a parquet-metadata `count`).
    */
  def tfidfTopTerms(d: DataFrame, k: Int = 3): DataFrame = {
    val n = d.count()
    val toks = d.select(col("doc_id"),
        explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = toks.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val scored = tf.join(df, Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"),
        ((col("tf") * (n + 1)).cast("double") / (col("df") + 1)).as("score"))
    Ranking.topK(scored, Seq(col("doc_id")), Seq(col("score").desc, col("term")), k, "rnk")
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("score"), 4).as("score"), col("rnk"))
  }

  /** Intra-document repetition signals — the standard "repetitious text"
    * quality filter for web-scale corpora: the fraction of tokens that are
    * repeats of an earlier token, and the same for word bigrams. Machine-
    * generated / boilerplate text scores high on both; the curation gate
    * drops documents above a threshold.
    *
    * Both are pure per-row array expressions (split / array_distinct /
    * size) — no shuffle, no explode; the bigram build is guarded the same
    * way as [[graft.operators.Dedup.shingles]] (`sequence` DESCENDS for
    * sub-2 token counts and would fabricate spurious pairs).
    */
  def dupTokenRatio(c: Column): Column = {
    val toks = tokens(lower(c))
    round(lit(1.0) -
      size(array_distinct(toks)).cast("double") / size(toks), 4)
  }

  /** Word-bigram repetition fraction; 0.0 for documents under 2 tokens.
    *
    * Bigrams come from `zip_with` over two shifted slices of the token
    * array — NOT a `transform(sequence(..), i -> element_at(toks, i))`
    * index loop: a lambda that references `toks` from outside the HOF
    * re-evaluates the whole tokenizing split PER ELEMENT (interpreted, so
    * O(tokens²) string splits per row — measured 6.2 s for the battery
    * entry at sf0.1, vs 0.6 s with the zip, whose input arrays evaluate
    * once per row).
    */
  def dupBigramRatio(c: Column): Column = {
    val toks = tokens(lower(c))
    val n = size(toks)
    val len = greatest(n - 1, lit(0))
    val bigrams = zip_with(slice(toks, lit(1), len), slice(toks, lit(2), len),
      (a, b) => concat_ws(" ", a, b))
    when(n >= 2,
      round(lit(1.0) - size(array_distinct(bigrams)).cast("double") / (n - 1), 4))
      .otherwise(lit(0.0))
  }

  /** Exact global token heavy-hitters: explode → one hash aggregation
    * (map-side partial combine bounds the shuffle at distinct-terms per
    * partition) → TakeOrderedAndProject (per-partition top-k, k rows to the
    * driver — never a global sort). Tie-break (count desc, term asc) is
    * total, so the k-th boundary is deterministic and oracle-gateable.
    */
  def tokenTopK(d: DataFrame, k: Int = 20): DataFrame =
    d.select(explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(k)

  /** Sketch-based heavy hitters for vocabularies too large to hash-aggregate:
    * Spark's `approx_top_k` (a frequent-items sketch) keeps a bounded
    * `maxItemsTracked`-entry summary per partition and merges summaries, so
    * the shuffle carries sketch bytes instead of the full term dictionary —
    * the right shape when tokenizing 100 TB yields billions of distinct
    * (typo/BPE-fragment) terms that all survive an exact groupBy's shuffle
    * only to be discarded by the top-k. Counts are exact whenever no
    * per-partition map evicts (maxItemsTracked ≥ distinct terms per
    * partition); under eviction they are estimates with the sketch's
    * documented error bound. Spec-pinned against [[tokenTopK]]; no DuckDB
    * oracle (sketch merge order is engine-internal).
    */
  def tokenTopKApprox(d: DataFrame, k: Int = 20,
                      maxItemsTracked: Int = 100000): DataFrame =
    d.select(explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .agg(expr(s"approx_top_k(term, $k, $maxItemsTracked)").as("topk"))
      .select(explode(col("topk")).as("e"))
      .select(col("e.item").as("term"), col("e.count").as("n"))

  /** Heavy-hitter-sketch semantic gate (the `_check` pattern): the sketch's
    * merge order is engine-internal, but its heavy-hitter CONTRACT is
    * checkable — any term in the exact top-m (m = 5 « k = 20) has at most
    * m−1 terms with a strictly greater count, so a correct frequent-items
    * sketch must surface it in its top-k (it could only be displaced by
    * ≥ k−m+1 exact ties at its own count — not present in this corpus, and
    * the gate would fail loudly, not silently, if a data change introduced
    * them). Hygiene: no duplicate terms, and exactly min(k, |vocab|) rows.
    * DuckDB independently derives the distinct-vocabulary conservation
    * column with the same tokenizer expression `text_token_stats` proved
    * engine-portable, and pins the violation counters at zero.
    */
  def tokenTopKInvariants(d: DataFrame, k: Int = 20, m: Int = 5,
                          maxItemsTracked: Int = 100000): DataFrame = {
    val exact = d.select(explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val apx = tokenTopKApprox(d, k, maxItemsTracked).localCheckpoint()
    val nDistinct = exact.agg(count(lit(1)).cast("long").as("n_terms_distinct"))
    val missing = exact.orderBy(col("n").desc, col("term").asc).limit(m)
      .join(apx.select(col("term")), Seq("term"), "left_anti")
      .agg(count(lit(1)).cast("long").as("missing_top_m"))
    val hygiene = apx.agg(
      (count(lit(1)) - countDistinct(col("term"))).cast("long").as("dup_terms"),
      count(lit(1)).cast("long").as("k_rows"))
    nDistinct.crossJoin(missing).crossJoin(hygiene)
      .select(col("n_terms_distinct"), col("missing_top_m"), col("dup_terms"),
        when(col("k_rows") =!=
          least(lit(k.toLong), col("n_terms_distinct")), 1L)
          .otherwise(0L).as("row_count_violation"))
  }

  /** Top-k adjacent-token-pair frequencies — one round of BPE-style vocab
    * induction run corpus-wide: the pair a tokenizer trainer would merge
    * next, with its count. Iterating this (merge, re-tokenize, recount) is
    * exactly the BPE training loop; a single round is the distributed
    * primitive and is oracle-gateable.
    *
    * Bigrams use the [[dupBigramRatio]] zip-over-shifted-slices shape
    * (per-row arrays evaluate once — the pinned HOF-capture lesson), then
    * one explode + hash aggregation with map-side combine; the result is
    * TakeOrderedAndProject like [[tokenTopK]] — per-partition top-k, never
    * a global sort.
    */
  def bigramMerges(d: DataFrame, k: Int = 20): DataFrame = {
    val toks = tokens(lower(col("text")))
    val n = size(toks)
    val len = greatest(n - 1, lit(0))
    val bigrams = zip_with(slice(toks, lit(1), len), slice(toks, lit(2), len),
      (a, b) => concat_ws(" ", a, b))
    d.select(explode(bigrams).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** Per-document out-of-vocabulary rate against the corpus' own top-`v`
    * vocabulary — the tokenizer-coverage signal a training pipeline checks
    * before committing to a vocab size (a high OOV tail means the tokenizer
    * will shatter those documents into bytes/unk).
    *
    * Vocabulary selection is sort+limit — TakeOrderedAndProject (per-
    * partition top-v, v rows to the driver), never a global sort — with the
    * total (count desc, token asc) tie-break so the v-th boundary is
    * deterministic and the entry oracle-gateable. The vocab (≤ v rows) is
    * explicitly broadcast back; the per-doc re-aggregation is a map-side-
    * combined hash agg on doc_id. One explode, one broadcast join, two hash
    * aggs — no corpus shuffle beyond the token count itself.
    */
  def oovRate(d: DataFrame, v: Int = 100): DataFrame = {
    val toks = d.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(v)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 4).as("oov_rate"))
  }

  /** Word-bigram language-model quality score — the CCNet-style "perplexity
    * under a corpus LM" filter, self-trained: count bigrams and their
    * first-word contexts over the corpus, smooth add-one over the unigram
    * vocabulary, and score each document by its mean bigram log-probability
    * `ln((C(w1,w2)+1)/(C(w1,·)+V))`. Fluent/repetitive text scores high
    * (toward 0), token soup scores low — rank by `lm_score` and drop the
    * tail.
    *
    * Shapes: bigrams come from the pinned zip-over-shifted-slices build
    * (never an index-loop HOF), exploded once; model counts are two hash
    * aggregations with map-side combine (bounded by the bigram/unigram
    * vocabulary, not the corpus); scoring joins the exploded stream to the
    * model on (w1,w2) then w1 — unhinted equi-joins, so AQE broadcasts the
    * model while it fits and shuffle-joins when a 100 TB vocabulary
    * doesn't — and the per-doc mean is a final hash agg on doc_id. V (a
    * scalar) is the one driver-side value, same as [[tfidfTopTerms]]'s
    * doc count.
    */
  def bigramLmScore(d: DataFrame): DataFrame = {
    val base = d.filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 2)
    val nm1 = size(col("toks")) - 1
    val big = base.select(col("doc_id"),
        explode(zip_with(slice(col("toks"), lit(1), nm1),
          slice(col("toks"), lit(2), nm1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val v = base.select(explode(col("toks")).as("tok")).agg(
      countDistinct(col("tok"))).head().getLong(0)
    val cb = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cu = big.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    big.join(cb, Seq("w1", "w2")).join(cu, Seq("w1"))
      .withColumn("lp",
        log((col("cb") + 1).cast("double") / (col("cu") + lit(v)).cast("double")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("lp")), 4).as("lm_score"))
  }

  /** Collocation mining by exact LIFT (Church & Hanks' PMI, ACL 1989,
    * without the log): lift(w₁w₂) = p(w₁w₂) / (p(w₁)·p(w₂)) =
    * c₁₂·N²u / (N_b·c₁·c₂). PMI = log(lift) is MONOTONE in lift, so
    * ranking by lift IS ranking by PMI — while the statistic stays a pure
    * ratio of exact longs, closed by one shared parenthesized double
    * expression both engines evaluate identically (no transcendental in
    * the gate). The count floor is the classic PMI fix: rare pairs
    * otherwise dominate with huge, meaningless scores.
    *
    * Scale shape: two hash aggregations (unigram + bigram counts over one
    * tokenize pass), two broadcast-joinable frequency lookups, and a
    * top-k; the two corpus totals are single-scalar actions (metadata,
    * never row data).
    */
  def collocations(d: DataFrame, minCount: Int, topK: Int): DataFrame = {
    val base = d.filter(col("text").isNotNull)
      .select(tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 2)
      .localCheckpoint() // reused: bigram + unigram arms and both totals
    val nm1 = size(col("toks")) - 1
    val big = base.select(
        explode(zip_with(slice(col("toks"), lit(1), nm1),
          slice(col("toks"), lit(2), nm1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val uni = base.select(explode(col("toks")).as("tok"))
    val nUni = uni.count().toDouble
    val nBig = big.count().toDouble
    val cu = uni.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
      .join(cu.select(col("tok").as("w1"), col("cu").as("c1")), Seq("w1"))
      .join(cu.select(col("tok").as("w2"), col("cu").as("c2")), Seq("w2"))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(col("n_pair").cast("double") * lit(nUni) * lit(nUni) /
          (lit(nBig) * col("c1").cast("double") * col("c2").cast("double")),
          4).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2")).limit(topK)
  }

  /** Encoding/mojibake signals: the share of characters that are non-ASCII,
    * the Unicode replacement character U+FFFD (the definitive transcoding-
    * damage marker), digits, and uppercase letters. Pure per-row column
    * math over a character-class regex subset valid in BOTH Java regex and
    * RE2 (the [[Curation]] PII precedent) so the oracle re-derives every
    * ratio. A curation gate drops documents above a replacement-char or
    * non-ASCII threshold for an English-only corpus.
    */
  def encodingSignal(c: Column): Column = {
    val nChars = length(c)
    def ratio(stripped: Column) =
      round((nChars - length(stripped)).cast("double") / nChars, 4)
    struct(
      ratio(regexp_replace(c, "[^\\x00-\\x7F]", "")).as("non_ascii_ratio"),
      // \x{FFFD} (not �): the hex-brace class is the one spelling of
      // the replacement char that Java regex and RE2 both accept
      ratio(regexp_replace(c, "\\x{FFFD}", "")).as("replacement_ratio"),
      ratio(regexp_replace(c, "[0-9]", "")).as("digit_ratio"),
      ratio(regexp_replace(c, "[A-Z]", "")).as("upper_ratio"))
  }

  /** Per-source token-distribution drift: KL(source ‖ rest-of-corpus) over
    * add-1-smoothed unigram models — the distribution-shift monitor a
    * pipeline runs when a new crawl snapshot or source lands (a source whose
    * token mix diverges from the corpus is flagged for review before it
    * enters the mixture).
    *
    * Scale shape: the corpus is touched ONCE — the exploded tokens shuffle
    * as (source, token) partial counts with map-side combine, bounded by
    * S×V, never by row count. Everything downstream (token totals, source
    * totals, the S×V smoothing grid) lives at vocabulary scale; the two
    * model scalars (V, total tokens) are the same bounded driver sync as
    * [[bigramLmScore]]'s vocabulary size.
    *
    * Determinism: each KL term is rounded to 9 dp and summed in DECIMAL
    * (exact, order-independent — the [[Mixing.temperatureMix]] contract), so
    * the per-source sum over the whole vocabulary cannot drift with
    * partition order; every double op before the round is a correctly-
    * rounded IEEE primitive evaluated in the same sequence the oracle
    * spells.
    */
  def tokenKlBySource(d: DataFrame): DataFrame = {
    // (source, token) counts — the one corpus-wide pass; V×S-bounded, reused
    // three times below (checkpointed so the explode never re-runs)
    val cst = d.select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_st"))
      .localCheckpoint()
    val ct = cst.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
    val ns = cst.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val vTot: Long = ct.count()
    val nTot: Long = ns.agg(sum(col("n_s"))).head().getLong(0)
    // full V×S grid so unseen (source, token) pairs contribute their
    // smoothed mass; the source frame broadcasts against the vocabulary
    val grid = ct.crossJoin(broadcast(ns))
      .join(cst, Seq("source", "tok"), "left")
      .na.fill(0L, Seq("c_st"))
    val p = (col("c_st") + lit(1L)).cast("double") /
      (col("n_s") + lit(vTot)).cast("double")
    val q = (col("c_t") - col("c_st") + lit(1L)).cast("double") /
      (lit(nTot) - col("n_s") + lit(vTot)).cast("double")
    grid.select(col("source"), col("n_s"),
        round(p * log(p / q), 9).cast("decimal(28,10)").as("contrib"))
      .groupBy(col("source"), col("n_s"))
      .agg(round(sum(col("contrib")).cast("double"), 6).as("kl_nats"))
      .select(col("source"), col("n_s").as("n_tokens"), col("kl_nats"))
  }

  /** Fixed-window overlapping chunking — the RAG/embedding-pipeline
    * splitter: each document becomes `ceil(n_chars / stride)` chunks of up
    * to `window` characters starting every `stride = window − overlap`
    * characters, so consecutive chunks share `overlap` characters of
    * context and every character lands in at least one chunk. A narrow,
    * shuffle-FREE generate+project (sequence → explode → substring, all
    * codegen'd): output volume is `(1 + overlap/stride)× corpus` and rows
    * flow straight to the sink or the embedding stage — at 100 TB this is
    * a map-only pass whose parallelism is the scan's. Deterministic ids
    * (`doc_id`, `chunk_idx`) make downstream dedup/joins and re-chunking
    * idempotent. Empty documents produce no chunks (there is no content to
    * retrieve); boundary-snapped variants (sentence/token-aware) are a
    * different window FUNCTION over the same generate+substring shape.
    */
  def chunkDocuments(d: DataFrame, window: Int, overlap: Int): DataFrame = {
    require(window > 0 && overlap >= 0 && overlap < window,
      s"need 0 <= overlap < window, got window=$window overlap=$overlap")
    val stride = window - overlap
    d.filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          floor((length(col("text")) - 1) / stride).cast("int"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx").cast("long") * stride).as("chunk_start"),
        expr(s"substring(text, chunk_idx * $stride + 1, $window)").as("chunk_text"))
      .withColumn("chunk_chars", length(col("chunk_text")).cast("long"))
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "documents")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // token counting + surface statistics (whitespace AND BPE-ish counts)
    "text_token_stats" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        length(col("text")).as("n_chars"),
        round(length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
          tokenCount(col("text")), 4).as("avg_token_len"))
    }),

    // quality scoring (length/stopword signals)
    "text_quality_score" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        round(stopwordRatio(col("text")), 4).as("stop_ratio"),
        qualityScore(col("text")).as("quality"))
    }),

    // language identification (stopword-profile heuristic)
    "text_langid" -> ((s, dir) => {
      val d = docs(s, dir)
      val scoreCols = TextAnalysis.LangMarkers.map { case (lang, ms) =>
        markerCount(col("text"), ms).as(s"score_$lang")
      }
      d.select((col("doc_id") +: scoreCols :+ langGuess(col("text")).as("lang_guess")): _*)
    }),

    // document fingerprinting (normalized content hash)
    "text_fingerprint" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), fingerprint(col("text")).as("fp"))
    }),

    // top-3 TF-IDF terms per document (ratio idf — see tfidfTopTerms)
    "text_tfidf_topk" -> ((s, dir) => tfidfTopTerms(docs(s, dir), k = 3)),

    // corpus-level token heavy-hitters, exact (oracle) and sketch-based
    // (rows-only; equality-to-exact is spec-pinned at no-eviction scale)
    "text_token_topk" -> ((s, dir) => tokenTopK(docs(s, dir), k = 20)),
    "text_token_topk_approx" -> ((s, dir) => tokenTopKApprox(docs(s, dir), k = 20)),

    // the heavy-hitter-sketch semantic gate — exact top-5 recall, result
    // hygiene, and row-count conservation vs a DuckDB-derived vocabulary
    // size
    "text_token_topk_check" -> ((s, dir) =>
      tokenTopKInvariants(docs(s, dir), k = 20)),

    // intra-document repetition (Gopher-style repetitious-text signals)
    // with the curation keep/drop decision at a 0.6 dup-token threshold
    "text_repetition" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        dupTokenRatio(col("text")).as("dup_tok"),
        dupBigramRatio(col("text")).as("dup_bigram"))
        .withColumn("keep", col("dup_tok") <= 0.6)),

    // one BPE vocab-induction round: corpus-wide top merge candidates
    "text_bigram_merges" -> ((s, dir) => bigramMerges(docs(s, dir), k = 20)),

    // tokenizer-coverage: per-doc OOV rate vs the corpus top-100 vocab
    "text_oov_rate" -> ((s, dir) => oovRate(docs(s, dir), v = 100)),

    // CCNet-style LM quality score: mean bigram log-prob under the
    // corpus' own add-one-smoothed bigram model
    "text_bigram_lm_score" -> ((s, dir) => bigramLmScore(docs(s, dir))),

    // top-50 collocations by exact lift (count floor 5) — PMI ranking
    // without PMI's transcendental (oracle-gated)
    "text_collocations" -> ((s, dir) =>
      collocations(docs(s, dir), minCount = 5, topK = 50)),

    // encoding damage / character-class signals with an English-corpus gate
    "text_encoding_signal" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), encodingSignal(col("text")).as("e"))
        .select(col("doc_id"), col("e.non_ascii_ratio"),
          col("e.replacement_ratio"), col("e.digit_ratio"),
          col("e.upper_ratio"))
        .withColumn("keep",
          col("replacement_ratio") === 0.0 && col("non_ascii_ratio") <= 0.2)),

    // per-source unigram KL drift vs the rest of the corpus (add-1
    // smoothing; decimal-summed terms so the oracle agrees bit-for-bit)
    "drift_token_kl" -> ((s, dir) => tokenKlBySource(docs(s, dir))),

    // RAG chunking: 80-char windows overlapping by 20 (stride 60) — a
    // shuffle-free generate+substring pass, row-level oracle
    "text_chunk_windows" -> ((s, dir) =>
      chunkDocuments(docs(s, dir), window = 80, overlap = 20))
  )

  private val markerListSql: Map[String, String] =
    (LangMarkers :+ ("stop" -> EnglishStopwords)).map { case (k, ms) =>
      k -> ms.map(m => s"'$m'").mkString("[", ", ", "]")
    }.toMap

  def oracles: Map[String, String] = Map(
    // vocabulary-size conservation derived independently (the same
    // tokenizer expression as text_token_stats; unnest of a NULL list is
    // zero rows in both engines); recall/hygiene counters are constants BY
    // DESIGN (see tokenTopKInvariants)
    "text_token_topk_check" ->
      """WITH t AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents)
        |SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms_distinct,
        |  CAST(0 AS BIGINT) AS missing_top_m,
        |  CAST(0 AS BIGINT) AS dup_terms,
        |  CAST(0 AS BIGINT) AS row_count_violation
        |FROM t WHERE term <> ''""".stripMargin,
    "text_token_stats" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^\p{L}\p{N}\s]+')) AS n_bpe_tokens,
        |  LENGTH(text) AS n_chars,
        |  ROUND(CAST(LENGTH(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
        |    len(string_split_regex(trim(text), '\s+')), 4) AS avg_token_len
        |FROM documents""".stripMargin,
    "text_quality_score" ->
      s"""WITH t AS (SELECT doc_id,
         |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         |  len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      x -> list_contains(${markerListSql("stop")}, x))) AS n_stop
         |FROM documents)
         |SELECT doc_id,
         |  ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stop_ratio,
         |  ROUND(LEAST(1.0, n_tokens / 50.0) *
         |        (1.0 - 0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)), 4) AS quality
         |FROM t""".stripMargin,
    "text_langid" ->
      s"""WITH t AS (SELECT doc_id,
         |  len(list_filter(string_split_regex(trim(text), '\\s+'), x -> list_contains(${markerListSql("en")}, x))) AS score_en,
         |  len(list_filter(string_split_regex(trim(text), '\\s+'), x -> list_contains(${markerListSql("de")}, x))) AS score_de,
         |  len(list_filter(string_split_regex(trim(text), '\\s+'), x -> list_contains(${markerListSql("fr")}, x))) AS score_fr,
         |  len(list_filter(string_split_regex(trim(text), '\\s+'), x -> list_contains(${markerListSql("es")}, x))) AS score_es
         |FROM documents)
         |SELECT doc_id, score_en, score_de, score_fr, score_es,
         |  CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
         |       WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
         |       WHEN score_fr >= score_es THEN 'fr'
         |       ELSE 'es' END AS lang_guess
         |FROM t""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  MD5(LOWER(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "text_repetition" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks
        |FROM documents),
        |r AS (SELECT doc_id,
        |  ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS dup_tok,
        |  CASE WHEN len(toks) >= 2 THEN
        |    ROUND(1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE) / (len(toks) - 1), 4)
        |  ELSE 0.0 END AS dup_bigram
        |FROM t)
        |SELECT doc_id, dup_tok, dup_bigram, dup_tok <= 0.6 AS keep FROM r""".stripMargin,
    "text_token_topk" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents)
        |SELECT term, COUNT(*) AS n FROM toks WHERE term <> ''
        |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin,
    "text_bigram_merges" ->
      """WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
        |FROM documents),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS pair
        |  FROM t WHERE len(toks) >= 2)
        |SELECT pair, COUNT(*) AS n FROM pairs
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "text_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE tok <> ''),
        |vocab AS (
        |  SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
        |  ORDER BY cnt DESC, tok LIMIT 100)
        |SELECT toks.doc_id, COUNT(*) AS n_tokens,
        |  COUNT(*) FILTER (WHERE vocab.tok IS NULL) AS n_oov,
        |  ROUND(CAST(COUNT(*) FILTER (WHERE vocab.tok IS NULL) AS DOUBLE) / COUNT(*), 4) AS oov_rate
        |FROM toks LEFT JOIN vocab ON toks.tok = vocab.tok
        |GROUP BY toks.doc_id""".stripMargin,
    "text_bigram_lm_score" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents
        |  WHERE text IS NOT NULL
        |    AND len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        |big AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
        |    unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
        |  FROM base),
        |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY w1, w2),
        |cu AS (SELECT w1, COUNT(*) AS cu FROM big GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT tok) AS v FROM
        |  (SELECT unnest(toks) AS tok FROM base))
        |SELECT big.doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(AVG(LN(CAST(cb.cb + 1 AS DOUBLE) / CAST(cu.cu + v.v AS DOUBLE))), 4) AS lm_score
        |FROM big JOIN cb ON big.w1 = cb.w1 AND big.w2 = cb.w2
        |     JOIN cu ON big.w1 = cu.w1
        |     CROSS JOIN v
        |GROUP BY big.doc_id""".stripMargin,
    // the same bigram derivation as the LM oracle; ONE shared double
    // expression (identical association order) closes the lift
    "text_collocations" ->
      """WITH base AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents
        |  WHERE text IS NOT NULL
        |    AND len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        |big AS (
        |  SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
        |         unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
        |  FROM base),
        |uni AS (SELECT unnest(toks) AS tok FROM base),
        |nu AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nu FROM uni),
        |nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nb FROM big),
        |cu AS (SELECT tok, COUNT(*) AS cu FROM uni GROUP BY tok),
        |cb AS (SELECT w1, w2, COUNT(*) AS n_pair FROM big
        |       GROUP BY w1, w2 HAVING COUNT(*) >= 5)
        |SELECT cb.w1, cb.w2, cb.n_pair,
        |  ROUND(CAST(cb.n_pair AS DOUBLE) * nu.nu * nu.nu /
        |        (nb.nb * CAST(c1.cu AS DOUBLE) * CAST(c2.cu AS DOUBLE)), 4) AS lift
        |FROM cb JOIN cu c1 ON c1.tok = cb.w1
        |        JOIN cu c2 ON c2.tok = cb.w2
        |CROSS JOIN nu CROSS JOIN nb
        |ORDER BY lift DESC, cb.w1, cb.w2 LIMIT 50""".stripMargin,
    "text_encoding_signal" ->
      """WITH t AS (SELECT doc_id, text, LENGTH(text) AS n FROM documents),
        |r AS (SELECT doc_id,
        |  ROUND(CAST(n - LENGTH(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) AS DOUBLE) / n, 4) AS non_ascii_ratio,
        |  ROUND(CAST(n - LENGTH(regexp_replace(text, '\x{FFFD}', '', 'g')) AS DOUBLE) / n, 4) AS replacement_ratio,
        |  ROUND(CAST(n - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / n, 4) AS digit_ratio,
        |  ROUND(CAST(n - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / n, 4) AS upper_ratio
        |FROM t)
        |SELECT doc_id, non_ascii_ratio, replacement_ratio, digit_ratio, upper_ratio,
        |  (replacement_ratio = 0.0 AND non_ascii_ratio <= 0.2) AS keep
        |FROM r""".stripMargin,
    "text_tfidf_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |t2 AS (SELECT * FROM toks WHERE term <> ''),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t2 GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t2 GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    CAST(tf.tf * (n.n + 1) AS DOUBLE) / (df.df + 1) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, ROUND(score, 4) AS score, rnk FROM (
        |  SELECT doc_id, term, tf, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
        |  FROM scored) WHERE rnk <= 3""".stripMargin,
    "drift_token_kl" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |cst AS (SELECT source, tok, COUNT(*) AS c_st FROM tok GROUP BY source, tok),
        |ct AS (SELECT tok, SUM(c_st) AS c_t FROM cst GROUP BY tok),
        |ns AS (SELECT source, SUM(c_st) AS n_s FROM cst GROUP BY source),
        |tot AS (SELECT SUM(c_t) AS n_tot, COUNT(*) AS v FROM ct),
        |grid AS (
        |  SELECT ns.source, ns.n_s, ct.c_t, COALESCE(cst.c_st, 0) AS c_st,
        |    tot.n_tot, tot.v
        |  FROM ct CROSS JOIN ns CROSS JOIN tot
        |  LEFT JOIN cst ON cst.source = ns.source AND cst.tok = ct.tok),
        |terms AS (
        |  SELECT source, n_s,
        |    CAST(ROUND(
        |      (CAST(c_st + 1 AS DOUBLE) / CAST(n_s + v AS DOUBLE)) *
        |      LN((CAST(c_st + 1 AS DOUBLE) / CAST(n_s + v AS DOUBLE)) /
        |         (CAST(c_t - c_st + 1 AS DOUBLE) / CAST(n_tot - n_s + v AS DOUBLE))), 9)
        |      AS DECIMAL(28,10)) AS contrib
        |  FROM grid)
        |SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
        |  ROUND(CAST(SUM(contrib) AS DOUBLE), 6) AS kl_nats
        |FROM terms GROUP BY source, n_s""".stripMargin,
    // same window arithmetic re-derived: chunk i covers characters
    // [i*60, i*60+80) 1-based-substr'd in both engines; empty docs chunkless
    "text_chunk_windows" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    UNNEST(generate_series(0, CAST((length(text) - 1) // 60 AS INT))) AS i
        |  FROM documents WHERE length(text) > 0)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  CAST(i * 60 AS BIGINT) AS chunk_start,
        |  substr(text, CAST(i * 60 + 1 AS INT), 80) AS chunk_text,
        |  CAST(length(substr(text, CAST(i * 60 + 1 AS INT), 80)) AS BIGINT)
        |    AS chunk_chars
        |FROM c""".stripMargin
  )
}
