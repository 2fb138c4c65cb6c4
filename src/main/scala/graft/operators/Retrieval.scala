package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.fn.Ranking
import graft.functions.VectorFns

/** Corpus retrieval — the search half of a training-data/RAG pipeline: sparse
  * lexical ranking (BM25), dense ranking (cosine, via [[Similarity]]'s exact
  * kernel shape), and reciprocal-rank fusion of multiple rankers. The
  * reference serves canned lookups (`Frontend/app.py:526-544` SELECT + LIMIT);
  * a corpus engine needs actual relevance ranking — implemented here
  * Spark-first with the same discipline as the rest of the library: the
  * per-document work is map-side over a broadcast query set, and the only
  * reductions are vocabulary- or query-bounded.
  *
  * 100 TB shape (BM25): the corpus is NEVER shuffled on a token key. Term
  * frequencies for the (tiny, broadcast) query vocabulary are computed
  * per-document with a codegen'd array `filter`+`size` over the token array —
  * a map-side pass; document frequency reduces that to |vocabulary| rows;
  * N/avgdl reduce to ONE row. Scoring is then a second map-side pass joining
  * only broadcast sides, and the final top-k is a per-query
  * WindowGroupLimit (partial top-k per partition before the single
  * query-partitioned exchange). A general inverted index (all terms, not a
  * query vocabulary) would instead explode to (token, doc) pairs — that shape
  * is [[TextAnalysis.tokenTopK]]'s; here the query set bounds the work.
  */
object Retrieval {

  /** Fixed benchmark queries over the `documents` table's vocabulary:
    * q1 carries the corpus's one rare term ("dup", df≈5% — high idf), q2/q3
    * are common-term conjunctions where ranking is tf- and length-driven.
    */
  val DefaultQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("dup", "merge"),
    2 -> Seq("join", "hash", "scan"),
    3 -> Seq("spark", "window", "slow"))

  /** Whitespace tokens of `text`, lowercased, empties dropped — the same
    * split the DuckDB oracle applies (`regexp_split_to_array('\s+')`).
    */
  private def toks(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Okapi BM25 top-k per query (Robertson & Walker, SIGIR 1994; the
    * k1/b=1.2/0.75 defaults every production engine ships).
    *
    * idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))  (the "+1" form — never
    * negative for df close to N, which this corpus's 30-word vocabulary
    * would otherwise hit constantly).
    *
    * Determinism for the hash gate: the per-(query,doc) score sums ≤3 term
    * weights; both engines evaluate the same double expression tree, the sum
    * is rounded to 6 decimals BEFORE ranking, and ties break on doc_id.
    */
  def bm25TopK(docs: DataFrame,
               queries: Seq[(Int, Seq[String])] = DefaultQueries,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val d = docs.select(col("doc_id"), toks(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    // one-row global stats; broadcast as a literal-free cross join
    val g = d.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val qterms = queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val vocab = qterms.select(col("term")).distinct()
    // per-doc tf for the query vocabulary only: map-side array scan, no
    // corpus shuffle (codegen'd filter+size over the token array)
    val tf = d.crossJoin(broadcast(vocab))
      .withColumn("tf",
        size(filter(col("toks"), t => t === col("term"))).cast("double"))
      .filter(col("tf") > 0)
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    bm25ScoreRank(tf, g, qterms, k, k1, b)
  }

  /** The scoring/ranking half shared by [[bm25TopK]] and
    * [[bm25SearchTextIndex]] — sharing the EXPRESSION TREE is what makes
    * the index-backed ranks bit-identical to the per-call ranks (the same
    * doubles flow through the same ops). Inputs: `tf(doc_id, dl, term,
    * tf)`, one-row `g(n_docs, avgdl)`, `qterms(query_id, term)`.
    */
  private def bm25ScoreRank(tf: DataFrame, g: DataFrame, qterms: DataFrame,
                            k: Int, k1: Double, b: Double): DataFrame = {
    // document frequency: vocabulary-bounded reduction (≤ |vocab| rows out)
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val w = idf * (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(g))
      .join(broadcast(qterms), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(w), 6).as("score"))
    Ranking.topK(scored, Seq(col("query_id")), Seq(col("score").desc, col("doc_id")), k)
      .select(col("query_id"), col("doc_id"), col("rank").cast("long").as("rank"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) of two
    * dense rankers over the embedding corpus: cosine similarity and L2
    * distance. Each arm contributes 1/(c + rank) for its top-`armK`; the
    * fused top-`k` is returned per query. RRF is the standard hybrid-search
    * combiner precisely because it consumes only integer RANKS — no score
    * calibration across arms — which also makes it exactly reproducible in
    * any engine, hence oracle-gateable where raw-score fusion would not be.
    *
    * Plan shape: ONE broadcast-query × corpus pass computes dot, |q|², |e|²;
    * both arms' ranks derive from that pass (cosine from the quotient, L2
    * from |q|²+|e|²−2·dot — monotone in the true distance, so ranks are
    * identical and no sqrt enters the compare). Both rank windows share the
    * q_id partitioning, so the expensive scoring pass and its exchange run
    * ONCE and the two windows are back-to-back sorts of the same partitions
    * (a per-arm branch-and-join spelling recomputed the scored pairs twice —
    * measured 4.3 s → 1.8 s at sf0.1).
    */
  def rrfFuseTopK(e: DataFrame, k: Int = 10, armK: Int = 20,
                  c: Int = 60, dim: Int = graft.Tables.EmbeddingDim): DataFrame = {
    val par = graft.Tuning.fanout(e.sparkSession)
    val base = e.select(col("vec_id"), col("embedding"))
    val corpus = if (base.rdd.getNumPartitions < par) base.repartition(par) else base
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val dot = VectorFns.dotN(col("q_emb"), col("embedding"), dim)
    val qq = VectorFns.l2normN(col("q_emb"), dim)
    val ee = VectorFns.l2normN(col("embedding"), dim)
    val pairs = corpus.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot / (qq * ee)).as("cos"),
        (qq * qq + ee * ee - lit(2.0) * dot).as("l2sq"))
    val wCos = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val wL2 = Window.partitionBy(col("q_id")).orderBy(col("l2sq").asc, col("vec_id"))
    val fused = pairs
      .withColumn("r_cos", row_number().over(wCos))
      .withColumn("r_l2", row_number().over(wL2))
      .filter(col("r_cos") <= armK || col("r_l2") <= armK)
      .withColumn("rrf",
        when(col("r_cos") <= armK, lit(1.0) / (lit(c.toDouble) + col("r_cos")))
          .otherwise(lit(0.0)) +
          when(col("r_l2") <= armK, lit(1.0) / (lit(c.toDouble) + col("r_l2")))
            .otherwise(lit(0.0)))
    Ranking.topK(fused, Seq(col("q_id")), Seq(col("rrf").desc, col("vec_id")), k, "fused_rank")
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("fused_rank").cast("long").as("fused_rank"))
  }

  /** Hybrid lexical×quality ranking: BM25 relevance fused (RRF) with the
    * corpus-wide document quality ordering ([[TextAnalysis.qualityScore]]) —
    * the practical "retrieve relevant BUT well-formed" ranking a RAG corpus
    * serves. Fusing a per-query ranker with a global prior is the textbook
    * RRF use beyond two-retriever fusion.
    *
    * The quality arm needs each CANDIDATE's global quality rank — but never
    * a global sort: candidates are ≤ armK×|queries| rows, so their ranks are
    * counted with one broadcast-candidate map-side pass over the corpus
    * (rank(d) = #docs ordered at-or-before d), with the reduction bounded by
    * the candidate count. A `Window.orderBy` with no partition key — the
    * "obvious" spelling — would funnel the whole corpus through one
    * partition; the counting form is the 100 TB spelling of ROW_NUMBER
    * restricted to a small candidate set.
    */
  def bm25QualityHybrid(docs: DataFrame,
                        queries: Seq[(Int, Seq[String])] = DefaultQueries,
                        k: Int = 10, armK: Int = 20, c: Int = 60): DataFrame = {
    // the relevance arm is ≤ armK×|queries| rows but its SUBTREE is two
    // corpus passes — materialize it once, since it feeds both the
    // candidate broadcast and the final fuse join (stops the BM25 plan
    // executing twice)
    val bm = bm25TopK(docs, queries, k = armK)
      .withColumnRenamed("rank", "r_rel")
      .localCheckpoint()
    // candidate quality from a CANDIDATE-ONLY pass (broadcast-semi-join the
    // ≤ armK×|queries| ids first, tokenize after — only candidate rows pay
    // qualityScore), so the FULL corpus is tokenized exactly once below in
    // the rank-count pass rather than twice (r9 measured the duplicate pass
    // at ~1 s of the entry's 3.3 s)
    val cand = docs
      .join(broadcast(bm.select(col("doc_id")).distinct()), "doc_id")
      .select(col("doc_id").as("c_doc"),
        graft.operators.TextAnalysis.qualityScore(col("text")).as("cq"))
    val qual = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.qualityScore(col("text")).as("q"))
    // global quality rank of each candidate, as a count — ordering is
    // (quality DESC, doc_id ASC), so rank = #docs strictly better + #ties
    // at-or-before (including self)
    val rq = qual.join(broadcast(cand),
        col("q") > col("cq") ||
          (col("q") === col("cq") && col("doc_id") <= col("c_doc")))
      .groupBy(col("c_doc").as("doc_id")).agg(count(lit(1)).as("r_q"))
    val fused = bm.join(rq, "doc_id")
      .withColumn("rrf",
        lit(1.0) / (lit(c.toDouble) + col("r_rel")) +
          lit(1.0) / (lit(c.toDouble) + col("r_q")))
    Ranking.topK(fused, Seq(col("query_id")), Seq(col("rrf").desc, col("doc_id")), k,
        "fused_rank")
      .select(col("query_id"), col("doc_id"), col("fused_rank").cast("long").as("fused_rank"))
  }

  /** Exact phrase matching through a POSITIONAL posting list (r13) — the
    * retrieval primitive BM25's bag-of-words scoring cannot express:
    * "these tokens, CONSECUTIVE, in this order". Each phrase term's
    * postings are projected to `(doc_id, anchor = pos − i)` — an
    * occurrence of the whole phrase is exactly one anchor shared by every
    * term — so the phrase becomes a chain of EQUI-joins on
    * `(doc_id, anchor)` and the output is per-doc occurrence counts plus
    * the first match position (0-based). No post-join window, no regex
    * over raw text.
    *
    * Scale shape: the corpus is tokenized in ONE pass and immediately
    * thinned to the phrase's own tokens (`isin` + localCheckpoint — the
    * surviving postings are term-document-frequency-sized, the thing a
    * persisted inverted index would serve directly), so every join
    * shuffles posting lists, never documents; the closing aggregate is
    * match-bounded. A LIKE/regex scan instead re-reads every document
    * byte per query and can't use an index at all.
    */
  def phraseMatches(d: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val post = tokenPostings(d)
      .filter(col("tok").isin(phrase.distinct: _*))
      .localCheckpoint() // df-bounded; referenced once per phrase term
    phraseAssemble(post, phrase)
  }

  /** One tokenization pass → the positional posting relation
    * `(doc_id, dl, pos, tok)` — the shape both the per-call matcher and
    * the persisted index store. `dl` (the doc's token count) rides every
    * posting row so an index-backed BM25 can score candidates without a
    * second per-doc length store: it RLE-compresses to almost nothing in
    * parquet (constant within a doc's run of rows), which is why storing
    * it denormalized beats a separate doclens table that would need its
    * own delta/compaction lifecycle.
    */
  private def tokenPostings(d: DataFrame): DataFrame =
    d.filter(col("text").isNotNull)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).as("dl"),
        posexplode(col("t")).as(Seq("pos", "tok")))

  /** The anchor-alignment half shared by [[phraseMatches]] and
    * [[searchTextIndex]] (sharing the code is what makes the index-backed
    * search hash-match the per-call matcher BY CONSTRUCTION): term i's
    * postings project to `(doc_id, anchor = pos − i)`, a whole-phrase
    * occurrence is one anchor shared by every term, and the output is
    * per-doc occurrence counts plus the first match position.
    */
  private def phraseAssemble(post: DataFrame, phrase: Seq[String]): DataFrame =
    phrase.zipWithIndex.map { case (t, i) =>
        post.filter(col("tok") === t)
          .select(col("doc_id"), (col("pos") - i).as("anchor"))
      }
      .reduce((a, b) => a.join(b, Seq("doc_id", "anchor")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("anchor")).cast("long").as("first_pos"))

  /** Proximity (NEAR/w) matching through the positional posting list —
    * the second query type a positional index exists to serve (phrase =
    * adjacency; proximity = co-occurrence within a window, the classic
    * `a NEAR/w b` operator): a document matches when SOME occurrence of
    * the first term (the "anchor") has every other term within ±`window`
    * positions. Output: per-doc count of satisfying anchors + the first
    * one.
    *
    * Scale shape — the band trick that keeps this an EQUI-join: positions
    * within distance w of anchor p can only live in p's own
    * `⌊pos/(w+1)⌋` band or its two neighbors, so each term's check is a
    * join on `(doc_id, band)` (anchor side exploded to its 3 candidate
    * bands) followed by the exact |Δ| ≤ w filter — never a per-doc
    * position cross product and never a non-equi range join. Satisfied
    * anchor sets then intersect via `(doc_id, apos)` equi-joins, exactly
    * like [[phraseAssemble]]'s anchor chain. Everything downstream of the
    * postings thin-out is term-frequency-sized.
    */
  def proximityMatches(d: DataFrame, terms: Seq[String],
                       window: Int): DataFrame = {
    require(terms.length >= 2, "proximity needs at least two terms")
    val post = tokenPostings(d)
      .filter(col("tok").isin(terms.distinct: _*))
      .localCheckpoint() // df-bounded; referenced once per term
    proximityAssemble(post, terms, window)
  }

  /** The banded-join half shared by [[proximityMatches]] and
    * [[searchTextIndexProximity]] (shared code = index-backed results
    * hash-match the per-call matcher by construction).
    */
  private def proximityAssemble(post: DataFrame, terms: Seq[String],
                                window: Int): DataFrame = {
    require(window >= 1, s"window must be ≥ 1, got $window")
    require(terms.distinct.length == terms.length,
      "proximity terms must be distinct (duplicate terms make the anchor " +
        "trivially satisfy its own window)")
    val bw = window + 1
    val anchors = post.filter(col("tok") === terms.head)
      .select(col("doc_id"), col("pos").as("apos"))
    val banded = anchors.withColumn("band",
      explode(array(floor(col("apos") / bw) - 1, floor(col("apos") / bw),
        floor(col("apos") / bw) + 1)))
    terms.tail.map { t =>
        banded.join(
          post.filter(col("tok") === t)
            .select(col("doc_id"), floor(col("pos") / bw).as("band"),
              col("pos")),
          Seq("doc_id", "band"))
          .filter(abs(col("pos") - col("apos")) <= window)
          .select(col("doc_id"), col("apos")).distinct()
      }
      .reduce((a, b) => a.join(b, Seq("doc_id", "apos")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_anchors"),
        min(col("apos")).cast("long").as("first_anchor"))
  }

  // ── Persisted positional inverted index (r14) ────────────────────────────
  //
  // The 100 TB spelling of [[phraseMatches]]: per-call tokenization re-reads
  // every document byte per query, so a deployed engine persists the
  // positional posting relation ONCE and serves every later phrase query
  // from the index — the same build/append/search lifecycle (and the same
  // staged-rename publication, [[graft.io.AtomicPublish]]) as the ANN tier's
  // persisted IVF index.

  /** Token-hash bucket count for a persisted postings store: postings are
    * hive-partitioned by `tokb = xxhash64(tok) mod buckets`, so a phrase
    * search partition-prunes to its terms' buckets and reads
    * ~|phrase|/buckets of the store. Auto-sized (buckets = 0) to hold
    * ~1M postings (≈ tens of MB of parquet) per bucket, clamped to
    * [4, 65536] — the same constant-bucket-size reasoning as
    * [[graft.operators.Similarity.autoCells]]: a FIXED bucket count would
    * make every bucket O(corpus) and pruning vacuous at 100 TB.
    */
  def autoPostingBuckets(nPostings: Long): Int =
    math.min(65536L, math.max(4L,
      math.ceil(nPostings.toDouble / (1L << 20)).toLong)).toInt

  /** Builds and PERSISTS the positional inverted index: one tokenization
    * pass over the corpus, bucketed by token hash, written as
    * `tokb`-partitioned parquet next to a one-row `meta` table (bucket
    * count + postings count — search must bucket queries with the SAME
    * modulus the writer used). Staged-rename publication; returns the
    * per-bucket postings summary.
    */
  def buildTextIndex(d: DataFrame, indexDir: String,
                     buckets: Int = 0): DataFrame = {
    val s = d.sparkSession
    import graft.io.AtomicPublish
    val post = tokenPostings(d).localCheckpoint()
    val n = post.count()
    val b = if (buckets > 0) buckets else autoPostingBuckets(n)
    // corpus-level BM25 stats ride the store as a side file (see
    // [[Bm25Stats]]): n_docs counts EVERY ingested row (null-text docs
    // included — the per-call scorer's N does), n_dl_docs counts the docs
    // that contribute a length to avgdl, sum_dl = total postings (one row
    // per token occurrence, so the count above IS the length sum)
    val docCounts = d.agg(count(lit(1)),
      count(when(col("text").isNotNull, lit(1)))).head
    val stats = Bm25Stats(docCounts.getLong(0), docCounts.getLong(1), n)
    val fs = AtomicPublish.fsFor(s, indexDir)
    val staging = s"$indexDir/build-staging"
    AtomicPublish.scrubStaging(fs, staging)
    import s.implicits._
    Seq((b, n)).toDF("buckets", "n_postings")
      .write.mode("overwrite").parquet(s"$staging/meta")
    post.withColumn("tokb", pmod(xxhash64(col("tok")), lit(b)).cast("int"))
      .repartition(graft.Tuning.fanout(s), col("tokb")) // one file per bucket, not tasks×buckets
      .write.mode("overwrite").partitionBy("tokb")
      .parquet(s"$staging/postings")
    writeBm25Stats(fs, s"$staging/postings", stats)
    AtomicPublish.publish(fs, indexDir, staging, Seq("meta", "postings"))
    s.read.parquet(s"$indexDir/postings")
      .groupBy(col("tokb")).agg(count(lit(1)).as("n_postings"))
      .orderBy(col("tokb"))
  }

  /** Corpus-level stats an index-backed BM25 needs beyond the postings:
    * `nDocs` = every ingested doc (the scorer's N — null-text docs count),
    * `nDlDocs` = docs contributing a length to avgdl (non-null text),
    * `sumDl` = total token occurrences. Stored as a `_BM25_STATS` side
    * file INSIDE each segment dir (underscore-prefixed — the parquet
    * reader skips it, like `_SUCCESS`), so stats always ride exactly the
    * segments they describe: the base's file is written into the staging
    * tree and lands via the atomic publish; each delta carries its own;
    * compaction merges them into the folded base through
    * [[graft.io.DeltaStore.compactDeltas]]'s preCommit hook — crash-safe
    * at every point because the merged file is part of the atomically
    * committed stage.
    */
  final case class Bm25Stats(nDocs: Long, nDlDocs: Long, sumDl: Long) {
    def +(o: Bm25Stats): Bm25Stats =
      Bm25Stats(nDocs + o.nDocs, nDlDocs + o.nDlDocs, sumDl + o.sumDl)
  }

  private val Bm25StatsFile = "_BM25_STATS"

  private def writeBm25Stats(fs: org.apache.hadoop.fs.FileSystem,
                             segmentDir: String, st: Bm25Stats): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$segmentDir/$Bm25StatsFile"), true)
    try out.write(s"${st.nDocs} ${st.nDlDocs} ${st.sumDl}".getBytes("UTF-8"))
    finally out.close()
  }

  private def readBm25Stats(fs: org.apache.hadoop.fs.FileSystem,
                            segmentDir: String): Bm25Stats = {
    val p = new org.apache.hadoop.fs.Path(s"$segmentDir/$Bm25StatsFile")
    require(fs.exists(p),
      s"segment $segmentDir carries no $Bm25StatsFile — BM25 stats must " +
        "ride every segment (a crash between a delta's parquet write and " +
        "its stats write leaves the segment unusable for scoring; re-append it)")
    val in = fs.open(p)
    val line = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
    val Array(a, b, c) = line.split("\\s+")
    Bm25Stats(a.toLong, b.toLong, c.toLong)
  }

  /** Ingest-side of the text-index lifecycle: tokenizes ONLY the new batch
    * and overwrites the index's `delta` segment, bucketed with the STORED
    * modulus — no pass over the base corpus (same overwrite-for-idempotence
    * convention as `Similarity.appendToIvfIndex`; a real deployment writes
    * a date-stamped `delta_*` dir per ingest cycle). Returns the delta's
    * per-bucket summary.
    */
  def appendToTextIndex(batch: DataFrame, indexDir: String,
                        segment: String = "delta"): DataFrame = {
    require(segment.startsWith("delta"),
      s"delta segments must be named delta* so searches discover them, got '$segment'")
    val s = batch.sparkSession
    // crashed-compaction manifest hygiene — shared DeltaStore protocol
    graft.io.DeltaStore.scrubFoldedDelta(s, indexDir, "postings", segment)
    val b = s.read.parquet(s"$indexDir/meta").head.getAs[Int]("buckets")
    val post = tokenPostings(batch)
      .withColumn("tokb", pmod(xxhash64(col("tok")), lit(b)).cast("int"))
      .localCheckpoint()
    post.repartition(graft.Tuning.fanout(s), col("tokb"))
      .write.mode("overwrite").partitionBy("tokb")
      .parquet(s"$indexDir/$segment")
    val docCounts = batch.agg(count(lit(1)),
      count(when(col("text").isNotNull, lit(1)))).head
    writeBm25Stats(graft.io.AtomicPublish.fsFor(s, indexDir),
      s"$indexDir/$segment",
      Bm25Stats(docCounts.getLong(0), docCounts.getLong(1), post.count()))
    s.read.parquet(s"$indexDir/$segment")
      .groupBy(col("tokb")).agg(count(lit(1)).as("n_postings"))
      .orderBy(col("tokb"))
  }

  /** Query-side over base + delta segments: reads the stored postings with
    * partition pruning to the phrase terms' buckets (the scan lists only
    * `tokb=…` directories the phrase hashes to — at 100 TB that is
    * |phrase terms|/buckets of the store, zero document bytes), then runs
    * the SAME anchor-alignment assembly as [[phraseMatches]] — results are
    * hash-identical by construction (oracle-gated: the battery entry
    * shares `retrieval_phrase_match`'s DuckDB SQL verbatim).
    */
  def searchTextIndex(s: SparkSession, indexDir: String,
                      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val b = s.read.parquet(s"$indexDir/meta").head.getAs[Int]("buckets")
    import s.implicits._
    // the terms' bucket ids, computed with the engine's own xxhash64 so
    // writer and reader can never disagree on the hash
    val bucketIds = phrase.distinct.toDF("tok")
      .select(pmod(xxhash64(col("tok")), lit(b)).cast("int")).as[Int]
      .collect().toSeq.distinct
    // the consistent (postings ++ live-delta) view, even mid-compaction —
    // same [[graft.io.DeltaStore]] protocol as the ANN index's segments
    val segDirs = graft.io.DeltaStore.resolveDirs(s, indexDir, "postings")
    val post = segDirs.map(p => s.read.parquet(p)).reduce(_ unionByName _)
      .filter(col("tokb").isin(bucketIds: _*) &&
        col("tok").isin(phrase.distinct: _*))
    phraseAssemble(post, phrase)
  }

  /** Proximity search served from the persisted index — same bucket-pruned
    * postings read as [[searchTextIndex]] (the scan lists only the terms'
    * `tokb=…` directories, zero document bytes), same
    * [[proximityAssemble]] as the per-call matcher, so results are
    * hash-identical by construction (the battery entry shares
    * `retrieval_proximity_match`'s DuckDB SQL verbatim).
    */
  def searchTextIndexProximity(s: SparkSession, indexDir: String,
                               terms: Seq[String], window: Int): DataFrame = {
    require(terms.length >= 2, "proximity needs at least two terms")
    val b = s.read.parquet(s"$indexDir/meta").head.getAs[Int]("buckets")
    import s.implicits._
    val bucketIds = terms.distinct.toDF("tok")
      .select(pmod(xxhash64(col("tok")), lit(b)).cast("int")).as[Int]
      .collect().toSeq.distinct
    val segDirs = graft.io.DeltaStore.resolveDirs(s, indexDir, "postings")
    val post = segDirs.map(p => s.read.parquet(p)).reduce(_ unionByName _)
      .filter(col("tokb").isin(bucketIds: _*) &&
        col("tok").isin(terms.distinct: _*))
    proximityAssemble(post, terms, window)
  }

  /** Fold every live `delta*` postings segment into the base `postings`
    * store — the periodic maintenance a streaming-ingested text index runs
    * to bound file-listing overhead. Postings compose associatively (each
    * row is one token occurrence), so compaction is a pure rewrite:
    * searches return identical results before and after (spec-pinned —
    * phrase AND BM25). Crash-safe manifest-swap protocol shared verbatim
    * with the ANN index ([[graft.io.DeltaStore.compactDeltas]]); the
    * preCommit hook merges the per-segment [[Bm25Stats]] into the folded
    * base's side file while old base + deltas are still intact, so the
    * merged stats land with the atomic commit.
    */
  def compactTextIndex(spark: SparkSession, indexDir: String): Unit = {
    graft.io.DeltaStore.compactDeltas(spark, indexDir, "postings", "tokb",
      preCommit = bm25StatsPreCommit(spark, indexDir))
  }

  /** The BM25-stats merge that must travel with any text-index fold: the
    * staged base's side file is the sum of the old base's and the folded
    * deltas' (shared by [[compactTextIndex]] and [[maybeCompactTextIndex]]).
    */
  private def bm25StatsPreCommit(spark: SparkSession, indexDir: String)
      : (String, Seq[String]) => Unit = {
    val fs = graft.io.AtomicPublish.fsFor(spark, indexDir)
    (stageDir, deltaDirs) => writeBm25Stats(fs, stageDir,
      (s"$indexDir/postings" +: deltaDirs).map(readBm25Stats(fs, _))
        .reduce(_ + _))
  }

  /** Auto-compaction for the text index: fold when live-delta bytes exceed
    * `maxRatio` × base bytes ([[graft.io.DeltaStore.maybeCompact]] — the
    * same trigger the vector stores run), with the BM25-stats merge riding
    * the fold's preCommit hook. Returns whether a fold ran; a streaming
    * ingest calls this after every micro-batch (the check is a directory
    * walk, never a Spark job).
    */
  def maybeCompactTextIndex(spark: SparkSession, indexDir: String,
                            maxRatio: Double = 0.2): Boolean =
    graft.io.DeltaStore.maybeCompact(spark, indexDir, "postings", "tokb",
      maxRatio, preCommit = bm25StatsPreCommit(spark, indexDir))

  /** BM25 served ENTIRELY from the persisted index — the classic
    * search-engine read path, and the reason inverted indexes exist: the
    * per-call [[bm25TopK]] re-tokenizes every document byte per query
    * batch, while this touches (a) the one-row stats side files, (b) the
    * postings of the QUERY VOCABULARY's hash buckets only (partition-
    * pruned directory listing, ~\|vocab\|/buckets of the store, zero
    * document bytes), and (c) nothing else. tf = posting count per
    * (term, doc); dl rides each posting row; df is a vocabulary-bounded
    * reduction of the pruned scan; N/avgdl come from the [[Bm25Stats]]
    * side files of exactly the segments the scan reads (DeltaStore view,
    * so base + live deltas stay consistent mid-compaction).
    *
    * Ranks are BIT-IDENTICAL to [[bm25TopK]] by construction: the posting
    * count equals the array-filter tf, the stored dl equals `size(toks)`,
    * the stats reproduce `count(*)`/`avg(dl)` exactly (integer-valued
    * doubles sum exactly in any order), and the scoring/ranking stage IS
    * the shared [[bm25ScoreRank]] expression tree — which is why the
    * battery entry can share `retrieval_bm25_topk`'s DuckDB oracle
    * verbatim.
    */
  def bm25SearchTextIndex(s: SparkSession, indexDir: String,
                          queries: Seq[(Int, Seq[String])] = DefaultQueries,
                          k: Int = 10, k1: Double = 1.2,
                          b: Double = 0.75): DataFrame = {
    import s.implicits._
    val fs = graft.io.AtomicPublish.fsFor(s, indexDir)
    val bkts = s.read.parquet(s"$indexDir/meta").head.getAs[Int]("buckets")
    val segDirs = graft.io.DeltaStore.resolveDirs(s, indexDir, "postings")
    val stats = segDirs.map(readBm25Stats(fs, _)).reduce(_ + _)
    val g = Seq((stats.nDocs.toDouble,
        stats.sumDl.toDouble / stats.nDlDocs.toDouble))
      .toDF("n_docs", "avgdl")
    val qterms = queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val vocab = queries.flatMap(_._2).distinct
    val bucketIds = vocab.toDF("tok")
      .select(pmod(xxhash64(col("tok")), lit(bkts)).cast("int")).as[Int]
      .collect().toSeq.distinct
    val tf = segDirs.map(p => s.read.parquet(p)).reduce(_ unionByName _)
      .filter(col("tokb").isin(bucketIds: _*) && col("tok").isin(vocab: _*))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).cast("double").as("tf"),
        first(col("dl")).cast("double").as("dl"))
      .select(col("doc_id"), col("dl"), col("tok").as("term"), col("tf"))
    bm25ScoreRank(tf, g, qterms, k, k1, b)
  }

  /** Text-index lifecycle gate (the `_check` pattern, Layout/Bloom style):
    * build on the 90% doc slice, append the 10% delta, then pin — against
    * DuckDB-derivable ground truth — that
    *
    *  - `n_postings`: the conservation column (DuckDB re-derives the total
    *    token count from raw documents with the proven-portable split);
    *  - `conservation_mismatch`: base + delta segments together hold
    *    exactly one posting row per corpus token occurrence — the counter
    *    a lost/duplicated segment write flips;
    *  - `append_search_diffs`: the index-backed search over base+delta is
    *    row-identical to the per-call [[phraseMatches]] over the full
    *    corpus (symmetric-difference count) — an append that mis-bucketed
    *    or dropped postings surfaces here, and rebuild-equivalence is
    *    covered by the search entry's own full hash oracle.
    */
  def textIndexInvariants(d: DataFrame, indexDir: String,
                          phrase: Seq[String]): DataFrame = {
    val s = d.sparkSession
    import graft.operators.Similarity.indexPathExists
    val base = d.filter(col("doc_id") % 10 =!= 0)
    val batch = d.filter(col("doc_id") % 10 === 0)
    if (!indexPathExists(s, s"$indexDir/postings/_SUCCESS"))
      buildTextIndex(base, indexDir).count()
    if (!indexPathExists(s, s"$indexDir/delta/_SUCCESS"))
      appendToTextIndex(batch, indexDir).count()
    val segRows = s.read.parquet(s"$indexDir/postings").count() +
      s.read.parquet(s"$indexDir/delta").count()
    val nPost = tokenPostings(d).count()
    val fromIndex = searchTextIndex(s, indexDir, phrase)
    val direct = phraseMatches(d, phrase)
    val diffs = fromIndex.exceptAll(direct).unionAll(direct.exceptAll(fromIndex))
      .agg(count(lit(1)).cast("long").as("append_search_diffs"))
    import s.implicits._
    Seq((nPost, if (segRows == nPost) 0L else 1L))
      .toDF("n_postings", "conservation_mismatch")
      .crossJoin(diffs)
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "embeddings")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Okapi BM25 top-10 for the 3 fixed queries (oracle-gated)
    "retrieval_bm25_topk" -> ((s, dir) => bm25TopK(docs(s, dir))),
    // RRF fusion of cosine + L2 dense arms (oracle-gated — rank-only math)
    "retrieval_rrf_fuse" -> ((s, dir) => rrfFuseTopK(emb(s, dir))),
    // BM25 relevance × global quality prior (oracle-gated)
    "retrieval_hybrid_quality" -> ((s, dir) => bm25QualityHybrid(docs(s, dir))),
    // positional-index phrase search: per-doc occurrence counts + first
    // position of the consecutive pair "fast table" (oracle-gated — the
    // oracle re-derives the posting lists with the proven-portable
    // tokenizer and replays the same anchor-alignment join in SQL)
    "retrieval_phrase_match" -> ((s, dir) =>
      phraseMatches(docs(s, dir), Seq("fast", "table"))),
    // one-time positional-index build: tokenize once, bucket by token
    // hash, persist partitioned postings + meta (rows-only — per-bucket
    // summary; the search entry below carries the full hash oracle)
    "retrieval_phrase_index_build" -> ((s, dir) =>
      buildTextIndex(docs(s, dir), textIndexDirFor(dir))),
    // the recurring phrase-query cost a deployed engine pays: bucket-pruned
    // postings scan + anchor joins, ZERO document bytes. Full hash oracle —
    // shares retrieval_phrase_match's SQL verbatim, so index-backed and
    // per-call results can never drift
    "retrieval_phrase_index_search" -> ((s, dir) => {
      val idx = textIndexDirFor(dir)
      if (!graft.operators.Similarity.indexPathExists(s, s"$idx/postings/_SUCCESS"))
        buildTextIndex(docs(s, dir), idx).count()
      searchTextIndex(s, idx, Seq("fast", "table"))
    }),
    // proximity (NEAR/w) matching: anchors of "merge" with both "window"
    // and "scan" within ±4 positions — banded equi-joins, never a per-doc
    // position cross product (oracle-gated: the oracle replays the same
    // anchor/window semantics with correlated distance predicates)
    "retrieval_proximity_match" -> ((s, dir) =>
      proximityMatches(docs(s, dir), Seq("merge", "window", "scan"),
        window = 4)),
    // the same NEAR query served from the persisted index: bucket-pruned
    // postings scan, zero document bytes. Shares the per-call entry's
    // oracle SQL verbatim, so index-backed and per-call can never drift
    "retrieval_proximity_index_search" -> ((s, dir) => {
      val idx = textIndexDirFor(dir)
      if (!graft.operators.Similarity.indexPathExists(s, s"$idx/postings/_SUCCESS"))
        buildTextIndex(docs(s, dir), idx).count()
      searchTextIndexProximity(s, idx, Seq("merge", "window", "scan"),
        window = 4)
    }),
    // the lifecycle gate: postings conservation + append-search equivalence,
    // counters oracle-pinned against DuckDB-derived token totals
    "retrieval_phrase_index_check" -> ((s, dir) =>
      textIndexInvariants(docs(s, dir), textIndexDirFor(dir) + "-append",
        Seq("fast", "table"))),
    // BM25 served entirely from the persisted index: bucket-pruned postings
    // scan + stats side files, zero document bytes. Full hash oracle —
    // shares retrieval_bm25_topk's SQL verbatim (ranks bit-identical to the
    // per-call scorer by construction: shared scoring expression tree)
    "retrieval_bm25_index_search" -> ((s, dir) => {
      val idx = textIndexDirFor(dir)
      if (!graft.operators.Similarity.indexPathExists(s, s"$idx/postings/_SUCCESS"))
        buildTextIndex(docs(s, dir), idx).count()
      bm25SearchTextIndex(s, idx)
    })
  )

  /** Deterministic scratch location for the persisted text-index battery
    * entries, keyed by the data directory (same convention as the ANN
    * index's `indexDirFor`).
    */
  private def textIndexDirFor(dir: String): String =
    graft.Tuning.scratchDirFor("graft-text-index", dir)

  /** Shared BM25 scoring CTE chain (→ `sc(query_id, doc_id, score)`) —
    * interpolated into every oracle that ranks by BM25, so the scoring math
    * can never drift between entries.
    */
  private val bm25ScoredSql: String =
    """d AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |dd AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d),
      |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dd),
      |q(query_id, term) AS (VALUES
      |  (1,'dup'),(1,'merge'),
      |  (2,'join'),(2,'hash'),(2,'scan'),
      |  (3,'spark'),(3,'window'),(3,'slow')),
      |v AS (SELECT DISTINCT term FROM q),
      |tf AS (
      |  SELECT dd.doc_id, dd.dl, v.term,
      |    CAST(len(list_filter(dd.toks, x -> x = v.term)) AS DOUBLE) AS tf
      |  FROM dd CROSS JOIN v),
      |tfnz AS (SELECT * FROM tf WHERE tf > 0),
      |dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tfnz GROUP BY term),
      |sc AS (
      |  SELECT q.query_id, tfnz.doc_id,
      |    ROUND(SUM(
      |      ln(1.0 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
      |      (tfnz.tf * 2.2) /
      |      (tfnz.tf + 1.2 * (1.0 - 0.75 + 0.75 * tfnz.dl / g.avgdl))), 6) AS score
      |  FROM tfnz JOIN dfreq USING (term) JOIN q USING (term) CROSS JOIN g
      |  GROUP BY q.query_id, tfnz.doc_id)""".stripMargin

  def oracles: Map[String, String] = Map(
    "retrieval_bm25_topk" -> bm25TopKSql,
    // the index-backed scorer must rank identically to the per-call one:
    // SAME oracle SQL, verbatim
    "retrieval_bm25_index_search" -> bm25TopKSql,
    "retrieval_rrf_fuse" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id % 100 = 0),
        |p AS (
        |  SELECT q.q_id, e.vec_id,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS dot,
        |    SQRT(list_sum(list_transform(range(1, len(q.q_emb) + 1),
        |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))) AS qq,
        |    SQRT(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS ee
        |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
        |m AS (SELECT q_id, vec_id, dot / (qq * ee) AS cos,
        |        qq * qq + ee * ee - 2.0 * dot AS l2sq FROM p),
        |a AS (SELECT q_id, vec_id,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS r_cos
        |      FROM m QUALIFY r_cos <= 20),
        |b AS (SELECT q_id, vec_id,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY l2sq ASC, vec_id) AS r_l2
        |      FROM m QUALIFY r_l2 <= 20),
        |f AS (
        |  SELECT COALESCE(a.q_id, b.q_id) AS q_id,
        |         COALESCE(a.vec_id, b.vec_id) AS vec_id,
        |         COALESCE(1.0 / (60.0 + a.r_cos), 0.0) +
        |         COALESCE(1.0 / (60.0 + b.r_l2), 0.0) AS rrf
        |  FROM a FULL OUTER JOIN b ON a.q_id = b.q_id AND a.vec_id = b.vec_id)
        |SELECT q_id, vec_id AS neighbor_id, fused_rank FROM (
        |  SELECT q_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf DESC, vec_id) AS fused_rank
        |  FROM f) WHERE fused_rank <= 10""".stripMargin,
    "retrieval_hybrid_quality" ->
      raw"""WITH $bm25ScoredSql,
         |rel AS (
        |  SELECT query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r_rel
        |  FROM sc QUALIFY r_rel <= 20),
        |qual AS (
        |  SELECT doc_id,
        |    ROUND(LEAST(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) *
        |      (1.0 - 0.5 * (CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x)))
        |        AS DOUBLE) / len(string_split_regex(trim(text), '\s+')))), 4) AS quality
        |  FROM documents),
        |qr AS (SELECT doc_id,
        |         ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS r_q FROM qual),
        |f AS (
        |  SELECT rel.query_id, rel.doc_id,
        |    1.0 / (60.0 + rel.r_rel) + 1.0 / (60.0 + qr.r_q) AS rrf
        |  FROM rel JOIN qr USING (doc_id))
        |SELECT query_id, doc_id, fused_rank FROM (
        |  SELECT query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS fused_rank
        |  FROM f) WHERE fused_rank <= 10""".stripMargin,
    // positional postings re-derived with the same tokenizer; anchors
    // 0-based on both sides (DuckDB's generate_subscripts is 1-based,
    // hence the −1)
    "retrieval_phrase_match" -> phraseMatchSql,
    // the index-backed search must be row-identical to the per-call
    // matcher: SAME oracle SQL, verbatim
    "retrieval_phrase_index_search" -> phraseMatchSql,
    // proximity: positional postings re-derived with the same tokenizer;
    // per-term satisfaction via correlated |Δ| ≤ w joins, anchors
    // intersected — the declarative restatement of the banded equi-join
    "retrieval_proximity_match" -> proximityMatchSql,
    // index-backed NEAR must be row-identical: SAME oracle SQL, verbatim
    "retrieval_proximity_index_search" -> proximityMatchSql,
    // lifecycle gate: DuckDB re-derives the corpus's total token count
    // (the conservation column) and pins the violation counters at zero
    "retrieval_phrase_index_check" ->
      raw"""SELECT CAST(SUM(len(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)))
        |    AS BIGINT) AS n_postings,
        |  CAST(0 AS BIGINT) AS conservation_mismatch,
        |  CAST(0 AS BIGINT) AS append_search_diffs
        |FROM documents WHERE text IS NOT NULL""".stripMargin
  )

  /** BM25 top-10 oracle over the shared scoring CTE — one string, shared
    * verbatim by the per-call and index-backed entries.
    */
  private val bm25TopKSql: String =
    s"""WITH $bm25ScoredSql
       |SELECT query_id, doc_id, rank FROM (
       |  SELECT query_id, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |  FROM sc) WHERE rank <= 10""".stripMargin

  /** Positional postings re-derived with the same tokenizer; anchors
    * 0-based on both sides (DuckDB's generate_subscripts is 1-based, hence
    * the −1). Shared verbatim by the per-call and index-backed entries.
    */
  private val phraseMatchSql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, UNNEST(t.l) AS tok, generate_subscripts(t.l, 1) - 1 AS pos
      |  FROM documents,
      |  LATERAL (SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                              x -> len(x) > 0) AS l) t
      |  WHERE text IS NOT NULL),
      |t0 AS (SELECT doc_id, pos AS anchor FROM toks WHERE tok = 'fast'),
      |t1 AS (SELECT doc_id, pos - 1 AS anchor FROM toks WHERE tok = 'table')
      |SELECT doc_id, COUNT(*) AS n_occurrences,
      |  CAST(MIN(anchor) AS BIGINT) AS first_pos
      |FROM t0 JOIN t1 USING (doc_id, anchor)
      |GROUP BY doc_id""".stripMargin

  /** NEAR/4 oracle — one string, shared verbatim by the per-call and
    * index-backed entries (anchor = "merge", satellites "window"/"scan").
    */
  private val proximityMatchSql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, UNNEST(t.l) AS tok, generate_subscripts(t.l, 1) - 1 AS pos
      |  FROM documents,
      |  LATERAL (SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                              x -> len(x) > 0) AS l) t
      |  WHERE text IS NOT NULL),
      |a AS (SELECT doc_id, pos AS apos FROM toks WHERE tok = 'merge'),
      |s1 AS (SELECT DISTINCT a.doc_id, a.apos FROM a JOIN toks t
      |       ON t.doc_id = a.doc_id AND t.tok = 'window'
      |       AND ABS(t.pos - a.apos) <= 4),
      |s2 AS (SELECT DISTINCT a.doc_id, a.apos FROM a JOIN toks t
      |       ON t.doc_id = a.doc_id AND t.tok = 'scan'
      |       AND ABS(t.pos - a.apos) <= 4)
      |SELECT doc_id, COUNT(*) AS n_anchors,
      |  CAST(MIN(apos) AS BIGINT) AS first_anchor
      |FROM s1 JOIN s2 USING (doc_id, apos)
      |GROUP BY doc_id""".stripMargin
}
