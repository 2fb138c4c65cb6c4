package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Benchmark decontamination + inter-document n-gram repetition — the two
  * corpus-level shingle signals a training-data pipeline runs before a model
  * ever sees the data: drop documents that overlap the evaluation suite
  * (decontamination à la GPT-3 appendix C / Dolma), and measure what fraction
  * of each document's n-grams also occur elsewhere in the corpus (the
  * FineWeb/Gopher "duplicated n-gram fraction" filter — the INTER-document
  * complement of [[TextAnalysis.dupTokenRatio]]'s intra-document signals).
  *
  * Shingles here are MD5 of the space-joined token window — deliberately NOT
  * the xxhash64 kernel of [[Dedup.hashedShingles]], because these two
  * operators are row-level corpus gates and the digest must be reproducible
  * in any engine (the DuckDB oracle re-derives every shingle bit-for-bit;
  * same portability argument as [[Sampling.hashBucket]]). The Jaccard kernels
  * keep xxhash64: they only need collision-freedom, not portability, and
  * xxhash64 is codegen'd.
  *
  * Shape note: shingles are built with posexplode + lead windows, NOT
  * `transform(sequence(..), i -> slice(toks, i+1, n))` — a lambda referencing
  * the token array from outside the HOF re-evaluates the split per element
  * after CollapseProject inlines it (the r5 `text_repetition` O(tokens²)
  * lesson, pinned in COVERAGE.md). The window form shuffles each token once,
  * which is also the honest 100 TB cost of corpus-wide n-gram analysis: every
  * large-scale n-gram dedup (suffix-array and Bloom variants included) pays
  * at least one pass over the token stream.
  */
object Decontam {

  /** Distinct (doc_id, shingle) pairs: every n-token window of `textCol`,
    * space-joined, MD5-hashed. One shuffle (tokens partitioned by doc for
    * the lead window), then distinct — which AQE coalesces into the same
    * exchange when the window partitioning already matches.
    */
  def shingles(d: DataFrame, n: Int = ShingleN, textCol: String = "text"): DataFrame = {
    require(n >= 2, s"shingle width must be >= 2, got $n")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = d.select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    // lead(n-1) null ⇒ the window runs off the end of the document: drop it
    // rather than emit a short gram (concat_ws silently skips nulls).
    val parts = col("tok") +: (1 until n).map(i => lead(col("tok"), i).over(w))
    toks
      .select(col("doc_id"), concat_ws(" ", parts: _*).as("gram"),
        parts.last.isNotNull.as("full"))
      .filter(col("full"))
      .select(col("doc_id"), md5(col("gram")).as("shingle"))
      .distinct()
  }

  /** Default shingle width. 5 tokens is wide enough that random text never
    * collides (the classic decontamination sweep uses 8–13; the synthetic
    * corpus' documents are ~40 tokens, so 5 keeps several windows per doc at
    * every SF) and every width ≥ 2 flows through the same plan.
    */
  val ShingleN = 5

  /** Documents sharing at least one n-gram with a benchmark/eval set, with
    * the count of distinct shared shingles — the "contaminated" report a
    * pipeline either drops or quarantines.
    *
    * Scale shape: the benchmark side is an evaluation suite — bounded and
    * tiny next to a 100 TB corpus — so its distinct-shingle set is built
    * first and BROADCAST; the corpus side streams through one shuffle-free
    * hash-semi probe per shingle. Nothing corpus-sized ever shuffles on the
    * shingle key.
    */
  def contaminated(corpus: DataFrame, bench: DataFrame, n: Int = ShingleN): DataFrame = {
    val benchSh = shingles(bench, n).select(col("shingle")).distinct()
    shingles(corpus, n)
      .join(broadcast(benchSh), Seq("shingle"))
      // input is distinct per (doc_id, shingle) ⇒ count(*) = distinct hits
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Per-document duplicated-n-gram fraction: of the document's distinct
    * shingles, the share that also occur in at least one OTHER document.
    * Documents shorter than `n` tokens have no shingles and are absent —
    * they carry no inter-document evidence either way.
    *
    * Two shuffles — shingle-count aggregation, then the per-doc re-group —
    * both over (doc_id, 16-byte digest) pairs, never over text. This is the
    * canonical corpus-frequency join; the Bloom-filter shortcut used by
    * single-node dedupers trades exactness for one pass, and the exact form
    * is what the row-level oracle can gate.
    */
  def dupNgramCoverage(d: DataFrame, n: Int = ShingleN): DataFrame = {
    val sh = shingles(d, n)
    val freq = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
    sh.join(freq, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_shingles"), 4))
  }

  /** Train/test leakage audit: held-out documents whose n-grams also occur
    * in the training split — the check a pipeline runs AFTER splitting,
    * since a near-duplicate pair straddling the split inflates eval scores.
    * Splits come from [[Sampling.hashSplit]] on the same key the pipeline
    * used, so the audit re-derives membership instead of shipping it.
    *
    * Same probe as [[contaminated]] but the broadcast flips: train is the
    * 80% side (way too big to broadcast at corpus scale), so the HELD-OUT
    * side's (doc_id, shingle) pairs — bounded by the eval-split size —
    * broadcast, and train streams through the probe. The aggregation key is
    * the held-out doc, which rides along in the broadcast row.
    */
  def splitLeakage(d: DataFrame, keyCol: String = "doc_id",
                   heldOut: String = "test", n: Int = ShingleN): DataFrame = {
    val split = Sampling.hashSplit(col(keyCol))
    val trainSh = shingles(d.filter(split === "train"), n)
    val testSh = shingles(d.filter(split === heldOut), n)
      .withColumnRenamed("doc_id", "held_id")
    trainSh.join(broadcast(testSh), Seq("shingle"))
      .groupBy(col("held_id"))
      .agg(
        countDistinct(col("shingle")).as("n_shingles_leaked"),
        countDistinct(col("doc_id")).as("n_train_docs"))
      .withColumnRenamed("held_id", "doc_id")
  }

  /** The deterministic stand-in benchmark: every 7th document (dense enough
    * that the gate sees real hits at sf0.01 — 12 contaminated docs). A real
    * pipeline would read the eval suite from its own source; the modulus
    * keeps the oracle able to re-derive the same set.
    */
  private val BenchMod = 7

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "decontaminate" -> ((s, dir) => {
      val d = graft.Tables(s, dir, "documents")
      contaminated(
        corpus = d.filter(col("doc_id") % BenchMod =!= 0),
        bench = d.filter(col("doc_id") % BenchMod === 0))
    }),
    "dup_ngram_coverage" -> ((s, dir) =>
      dupNgramCoverage(graft.Tables(s, dir, "documents"))),
    "split_leakage" -> ((s, dir) =>
      splitLeakage(graft.Tables(s, dir, "documents")))
  )

  /** DuckDB re-derivation: list-comprehension shingles (1-based inclusive
    * slices) instead of the lead window — same token split, same
    * space-join, same MD5, so the digests agree bit-for-bit.
    */
  private val ShinglesCte =
    s"""sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      unnest([md5(array_to_string(toks[i:i+${ShingleN - 1}], ' '))
       |              for i in range(1, len(toks) - ${ShingleN - 2})]) AS shingle
       |    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |          FROM documents)))""".stripMargin

  def oracles: Map[String, String] = Map(
    "decontaminate" ->
      s"""WITH $ShinglesCte,
         |bench AS (
         |  SELECT DISTINCT shingle FROM sh WHERE doc_id % $BenchMod = 0)
         |SELECT doc_id, COUNT(*) AS n_hits
         |FROM sh JOIN bench USING (shingle)
         |WHERE doc_id % $BenchMod <> 0
         |GROUP BY doc_id""".stripMargin,
    "dup_ngram_coverage" ->
      s"""WITH $ShinglesCte,
         |freq AS (
         |  SELECT shingle, COUNT(*) AS n_docs FROM sh GROUP BY shingle)
         |SELECT doc_id, COUNT(*) AS n_shingles,
         |  CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  ROUND(CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS dup_frac
         |FROM sh JOIN freq USING (shingle)
         |GROUP BY doc_id""".stripMargin,
    "split_leakage" ->
      s"""WITH $ShinglesCte,
         |spl AS (
         |  SELECT doc_id,
         |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 < 80 THEN 'train'
         |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |tr AS (SELECT sh.doc_id, shingle FROM sh JOIN spl USING (doc_id) WHERE split = 'train'),
         |te AS (SELECT sh.doc_id AS held_id, shingle FROM sh JOIN spl USING (doc_id) WHERE split = 'test')
         |SELECT held_id AS doc_id,
         |  COUNT(DISTINCT shingle) AS n_shingles_leaked,
         |  COUNT(DISTINCT tr.doc_id) AS n_train_docs
         |FROM te JOIN tr USING (shingle)
         |GROUP BY held_id""".stripMargin
  )
}
