package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Character-level byte-pair encoding (Sennrich et al. 2016,
  * arXiv:1508.07909) — the subword tokenizer a training-data pipeline runs
  * over every document it ships: vocabulary induction (merge learning) and
  * corpus encoding, both shaped for 100 TB.
  *
  * Scale design — training never re-scans the corpus per merge:
  *   - Spark reduces the corpus to its WORD-FREQUENCY table in one
  *     vocabulary-bounded shuffle ([[wordFreqs]]); at web scale the distinct
  *     vocabulary is millions of rows where the corpus is trillions of
  *     tokens, so this is the only corpus-wide pass;
  *   - the classic greedy merge loop ([[learnMerges]]) runs over those
  *     counts with vocabulary-sized state — the same single-node training
  *     shape sentencepiece/fastText use; each iteration is O(vocab) pair
  *     recount, trivially affordable off-cluster;
  *   - encoding ([[encode]]) broadcasts the rank table (merge list — KBs to
  *     low MBs) and applies per row in one map-side pass: no shuffle, no
  *     corpus-wide state. The per-word merge loop is genuinely iterative
  *     data-dependent logic no builtin expresses — the documented UDF
  *     exception (vs. the engine's otherwise builtin/codegen-expression
  *     discipline);
  *   - the trained merge table is a persistable artifact with the same
  *     build/apply lifecycle split as the IVF index ([[trainBpe]] writes it
  *     once, [[encodeWithTable]] reads + broadcasts it) — a deployed
  *     pipeline encodes against a FROZEN tokenizer and must not retrain per
  *     run.
  */
object Bpe {

  /** End-of-word sentinel appended to each word's final symbol, so merges
    * distinguish word-internal from word-final pairs ("es" vs "es</w>").
    */
  val EndOfWord = "</w>"

  /** Corpus word-frequency table: (word, n), lower-cased whitespace words —
    * the ONLY corpus-wide pass in BPE training.
    */
  def wordFreqs(d: DataFrame): DataFrame =
    d.filter(col("text").isNotNull)
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** A word as its initial symbol sequence: characters, with [[EndOfWord]]
    * glued to the final one.
    */
  private def initialSymbols(word: String): Vector[String] = {
    val cs = word.map(_.toString).toVector
    cs.init :+ (cs.last + EndOfWord)
  }

  /** Greedy merge learning over a word-frequency table: `numMerges` rounds
    * of "count all adjacent symbol pairs weighted by word frequency, merge
    * the most frequent" (ties broken lexicographically so the result is
    * deterministic across runs and partitionings). Stops early when no pair
    * occurs twice.
    */
  def learnMerges(wordCounts: Seq[(String, Long)],
                  numMerges: Int): Seq[(String, String)] = {
    var vocab = wordCounts.filter(_._1.nonEmpty)
      .map { case (w, n) => initialSymbols(w) -> n }
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + n
          i += 1
        }
      }
      val best = pairCounts.toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }.headOption
      best match {
        case Some((pair, n)) if n >= 2 =>
          merges += pair
          vocab = vocab.map { case (syms, cnt) => mergePair(syms, pair) -> cnt }
        case _ => done = true
      }
      round += 1
    }
    merges.result()
  }

  /** One left-to-right pass replacing every non-overlapping occurrence of
    * `pair` with its concatenation.
    */
  private def mergePair(syms: Vector[String],
                        pair: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Encode one word under a rank table (merge → training round): repeatedly
    * apply the LOWEST-ranked applicable merge — the standard BPE inference
    * order, which reproduces training segmentation on training words.
    */
  def encodeWord(word: String,
                 ranks: Map[(String, String), Int]): Vector[String] = {
    if (word.isEmpty) return Vector.empty
    var syms = initialSymbols(word)
    var continue = true
    while (continue && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestPair: (String, String) = null
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestPair = (syms(i), syms(i + 1)) }
        i += 1
      }
      if (bestPair == null) continue = false
      else syms = mergePair(syms, bestPair)
    }
    syms
  }

  /** Corpus encoding: per-doc subword tokens under the broadcast rank
    * table. Output: (doc_id, n_words, n_subwords, subwords_per_word) —
    * the fertility statistic a tokenizer budget planner needs per doc.
    */
  def encode(d: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = d.sparkSession
    val ranksB = spark.sparkContext.broadcast(
      merges.zipWithIndex.toMap)
    val subwordCount = udf { (words: Seq[String]) =>
      val ranks = ranksB.value
      var n = 0L
      words.foreach { w => if (w.nonEmpty) n += encodeWord(w, ranks).length }
      n
    }
    d.filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextAnalysis.tokens(lower(col("text"))).as("words"))
      .select(col("doc_id"),
        size(filter(col("words"), w => w =!= "")).cast("long").as("n_words"),
        subwordCount(col("words")).as("n_subwords"))
      .withColumn("subwords_per_word",
        when(col("n_words") > 0,
          round(col("n_subwords").cast("double") / col("n_words"), 4))
          .otherwise(lit(null).cast("double")))
  }

  /** Learn the corpus' merge table from its top words (count-desc,
    * word-asc — deterministic): one vocabulary-bounded corpus pass, then
    * the driver merge loop over bounded state.
    */
  def corpusMerges(d: DataFrame, topWords: Int = 2000,
                   numMerges: Int = 40): Seq[(String, String)] = {
    val top = wordFreqs(d)
      .orderBy(col("n").desc, col("word")).limit(topWords)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    learnMerges(top, numMerges)
  }

  /** Train-side of the persisted-tokenizer lifecycle (mirrors the IVF index
    * build/search split): learn the merge table once and write it as a
    * parquet artifact `(rank, left, right)`. Training is a one-time cost; a
    * deployed pipeline encodes trillions of tokens against a frozen
    * tokenizer, so the recurring path must not pay the corpus pass + merge
    * loop per run.
    */
  def trainBpe(d: DataFrame, tableDir: String, topWords: Int = 2000,
               numMerges: Int = 40): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    corpusMerges(d, topWords, numMerges).zipWithIndex
      .map { case ((a, b), r) => (r, a, b) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(tableDir)
    s.read.parquet(tableDir)
  }

  /** Load a persisted merge table in training order (KBs — one tiny read;
    * [[encode]] then broadcasts the ranks).
    */
  def loadMerges(s: org.apache.spark.sql.SparkSession,
                 tableDir: String): Seq[(String, String)] =
    s.read.parquet(tableDir).orderBy(col("rank"))
      .select(col("left"), col("right"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** Apply-side: encode under a persisted merge table. */
  def encodeWithTable(d: DataFrame, tableDir: String): DataFrame =
    encode(d, loadMerges(d.sparkSession, tableDir))

  /** BPE semantic gate (the `_check` pattern): merge tables and subword
    * counts are not SQL-expressible, but BPE's defining invariant IS
    * checkable — segmentation is LOSSLESS (the concatenation of a word's
    * subwords reproduces the word + [[EndOfWord]], for every word of every
    * document) and BOUNDED (1 ≤ subwords ≤ characters: merges only ever
    * shrink the initial character segmentation). DuckDB independently
    * derives the document and word conservation columns with the same
    * tokenizer expression the oracled `text_token_stats` already proved
    * engine-portable, and pins both violation counters at zero. Any bug in
    * merge learning, rank-table persistence, or the encode loop that
    * drops/duplicates/fabricates a symbol flips `roundtrip_violations`.
    */
  def encodeInvariants(d: DataFrame, merges: Seq[(String, String)]): DataFrame =
    encodeInvariantsWith(d, merges, encodeWord)

  /** [[encodeInvariants]] with the encoder itself injectable — the seam
    * that makes the `text_bpe_encode_check` gate provably non-vacuous.
    * BPE merging preserves concatenation for ANY merge table (merges only
    * ever join adjacent symbols), so no corrupt artifact or parameter can
    * flip the round-trip counter through the real [[encodeWord]] — the
    * only thing that can is an encode-loop code defect. GateSpec therefore
    * injects a deliberately defective encoder (symbol-dropping) here and
    * asserts both counters fire; production always goes through
    * [[encodeInvariants]], whose plan is identical.
    */
  private[graft] def encodeInvariantsWith(
      d: DataFrame, merges: Seq[(String, String)],
      encoder: (String, Map[(String, String), Int]) => Seq[String]): DataFrame = {
    val spark = d.sparkSession
    val ranksB = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    val stats = udf { (words: Seq[String]) =>
      val ranks = ranksB.value
      var nw = 0L; var rt = 0L; var bd = 0L
      words.foreach { w =>
        if (w.nonEmpty) {
          nw += 1
          val toks = encoder(w, ranks)
          if (toks.mkString("") != w + EndOfWord) rt += 1
          if (toks.length < 1 || toks.length > w.length) bd += 1
        }
      }
      Array(nw, rt, bd)
    }
    d.filter(col("text").isNotNull)
      .select(stats(TextAnalysis.tokens(lower(col("text")))).as("s"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(element_at(col("s"), 1)), lit(0L)).cast("long").as("n_words"),
        coalesce(sum(element_at(col("s"), 2)), lit(0L)).cast("long")
          .as("roundtrip_violations"),
        coalesce(sum(element_at(col("s"), 3)), lit(0L)).cast("long")
          .as("bounds_violations"))
  }

  /** Merge-table semantic gate (the `_check` pattern) for the training
    * side: the learned merges are corpus-statistics-dependent, but the
    * table's WELLFORMEDNESS is checkable in derivation order —
    *
    *  - `rank_violations`: persisted ranks must be contiguous 0..n−1 (a
    *    hole or duplicate reorders the apply-side merge loop);
    *  - `malformed_merge_violations`: every merge operand must be a base
    *    symbol (one character, word-final ones carrying the [[EndOfWord]]
    *    sentinel) or the product of an EARLIER merge — the closure a
    *    corrupted or truncated table breaks;
    *  - `foreign_char_violations`: symbols contain only characters that
    *    occur in the corpus' tokenized words;
    *  - `merge_count_violation`: at most the requested number of merges.
    *
    * DuckDB independently derives the corpus character-alphabet size as
    * the conservation column (regexp per-character unnest over the same
    * tokenizer expression) and pins the counters at zero. The table is
    * vocabulary-sized (KBs), so the closure walk is a driver-side check
    * over a broadcastable artifact, not a corpus pass.
    */
  def trainInvariants(d: DataFrame, tableDir: String,
                      numMerges: Int = 40): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val table = s.read.parquet(tableDir)
      .select(col("rank").cast("long"), col("left"), col("right"))
      .orderBy(col("rank")).collect()
    val rankViolations = table.map(_.getLong(0)).zipWithIndex
      .count { case (r, i) => r != i.toLong }.toLong
    val countViolation = if (table.length > numMerges) 1L else 0L
    val corpusChars = d.filter(col("text").isNotNull)
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
      .filter(col("word") =!= "")
      .select(explode(split(col("word"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .distinct().collect().map(_.getString(0)).toSet
    def core(sym: String): String =
      if (sym.endsWith(EndOfWord)) sym.dropRight(EndOfWord.length) else sym
    var produced = Set.empty[String]
    var malformed = 0L
    var foreign = 0L
    table.foreach { r =>
      val (a, b) = (r.getString(1), r.getString(2))
      Seq(a, b).foreach { sym =>
        if (!(produced.contains(sym) || core(sym).length == 1)) malformed += 1
        if (!core(sym).forall(c => corpusChars.contains(c.toString))) foreign += 1
      }
      produced += (a + b)
    }
    Seq((corpusChars.size.toLong, malformed, foreign, rankViolations,
      countViolation))
      .toDF("n_corpus_chars", "malformed_merge_violations",
        "foreign_char_violations", "rank_violations", "merge_count_violation")
  }

  /** Budget-selection semantic gate (the `_check` pattern): BPE subword
    * counts are not SQL-expressible, but the greedy selector's CONTRACT
    * is — the admitted set must be exactly the maximal prefix of the
    * (quality desc, doc_id asc) order whose token sum fits the budget:
    *
    *  - `budget_violation`: Σ selected n_tokens ≤ budget;
    *  - `prefix_violation`: no unselected document may precede any
    *    selected one in the order (lexicographic struct comparison of the
    *    max selected vs min unselected position);
    *  - `maximality_violation`: the FIRST unselected document in order
    *    must not fit in the remaining budget;
    *  - `dup_selected`: admission hygiene.
    *
    * DuckDB independently derives the scored-document conservation column
    * (one encode row per non-null-text document — [[encode]]'s filter) and
    * pins every violation counter at zero.
    */
  def budgetSelectInvariants(d: DataFrame, tableDir: String,
                             budget: Long = 20000L,
                             checkBudget: Long = -1L): DataFrame = {
    // `checkBudget` defaults to `budget` (selection and contract share the
    // bar); setting it below the selection's simulates a selector that
    // honored the wrong budget — the non-vacuity spec uses it to prove
    // `budget_violation` is computed, not a constant
    val ckB = if (checkBudget < 0L) budget else checkBudget
    val scored = d
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      .join(encodeWithTable(d, tableDir)
        .select(col("doc_id"), col("n_subwords").as("n_tokens")), Seq("doc_id"))
      .localCheckpoint()
    val sel = Mixing.selectByTokenBudgetScored(
      scored.select(col("doc_id"), col("quality"), col("n_tokens")), budget)
      .localCheckpoint()
    val pos = struct((col("quality") * lit(-1.0)).as("nq"), col("doc_id").as("id"))
    val nScored = scored.agg(count(lit(1)).cast("long").as("n_docs_scored"))
    val selStats = sel.agg(
      coalesce(sum(col("n_tokens")), lit(0L)).as("sel_tokens"),
      (count(lit(1)) - countDistinct(col("doc_id"))).cast("long").as("dup_selected"),
      max(pos).as("max_sel_pos"))
    val unsel = scored.join(sel.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val unselStats = unsel.agg(
      count(lit(1)).cast("long").as("n_unsel"),
      min(pos).as("min_unsel_pos"))
    val firstUnsel = unsel.orderBy(col("quality").desc, col("doc_id").asc)
      .limit(1).select(col("n_tokens").as("first_unsel_tokens"))
    nScored.crossJoin(selStats).crossJoin(unselStats)
      .join(firstUnsel, lit(true), "left")
      .select(col("n_docs_scored"),
        when(col("sel_tokens") > ckB, 1L).otherwise(0L).as("budget_violation"),
        col("dup_selected"),
        when(col("n_unsel") > 0 && col("max_sel_pos") > col("min_unsel_pos"), 1L)
          .otherwise(0L).as("prefix_violation"),
        when(col("first_unsel_tokens").isNotNull &&
          col("sel_tokens") + col("first_unsel_tokens") <= ckB, 1L)
          .otherwise(0L).as("maximality_violation"))
  }

  /** Deterministic scratch location for the persisted merge table, keyed by
    * the data directory (same convention as the IVF index entries).
    */
  private def tableDirFor(dir: String): String =
    graft.Tuning.scratchDirFor("graft-bpe-table", dir)

  /** Build-if-absent guard for entries that run in isolation; suite order
    * runs the train entry first, so min-of-N sampling prices the
    * frozen-tokenizer encode.
    */
  private def ensureTable(s: org.apache.spark.sql.SparkSession,
                          dir: String): String = {
    val td = tableDirFor(dir)
    if (!Similarity.indexPathExists(s, s"$td/_SUCCESS"))
      trainBpe(graft.Tables(s, dir, "documents"), td).count()
    td
  }

  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
    // one-time tokenizer training: corpus pass + merge loop + artifact
    // write (rows-only — algorithmic; merge order pinned by BpeSpec)
    "text_bpe_train" -> ((s, dir) =>
      trainBpe(graft.Tables(s, dir, "documents"), tableDirFor(dir))),

    // recurring corpus encode against the FROZEN persisted tokenizer —
    // the cost a deployed pipeline pays per run (spec-pinned ≡ one-shot;
    // losslessness + bounds oracle-gated by text_bpe_encode_check)
    "text_bpe_encode" -> ((s, dir) => {
      val td = ensureTable(s, dir)
      encodeWithTable(graft.Tables(s, dir, "documents"), td)
    }),

    // the BPE semantic gate — lossless-segmentation and bounds counters
    // over the same frozen table, hash-compared against a DuckDB-derived
    // doc/word conservation row
    "text_bpe_encode_check" -> ((s, dir) => {
      val td = ensureTable(s, dir)
      encodeInvariants(graft.Tables(s, dir, "documents"),
        loadMerges(s, td))
    }),

    // tokenizer-accurate budget selection: greedy best-quality-first under
    // a budget of BPE SUBWORDS — what a training run actually spends —
    // composed from encode() counts and the bucket-prefix-sum selector
    // (rows-only: BPE counts are not SQL-expressible; admission semantics
    // spec-pinned against the naive global-window greedy)
    "budget_select_bpe" -> ((s, dir) => {
      val d = graft.Tables(s, dir, "documents")
      val td = ensureTable(s, dir)
      val scored = d
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .join(encodeWithTable(d, td)
          .select(col("doc_id"), col("n_subwords").as("n_tokens")), Seq("doc_id"))
      Mixing.selectByTokenBudgetScored(
        scored.select(col("doc_id"), col("quality"), col("n_tokens")),
        budget = 20000L)
    }),

    // the budget-selection semantic gate — maximal-greedy-prefix contract
    // counters vs a DuckDB-derived scored-document count
    "budget_select_bpe_check" -> ((s, dir) =>
      budgetSelectInvariants(graft.Tables(s, dir, "documents"),
        ensureTable(s, dir))),

    // the merge-table semantic gate — rank contiguity, derivation-order
    // closure, and alphabet containment of the frozen persisted table, vs
    // a DuckDB-derived corpus character-alphabet size
    "text_bpe_train_check" -> ((s, dir) =>
      trainInvariants(graft.Tables(s, dir, "documents"),
        ensureTable(s, dir))))

  def oracles: Map[String, String] = Map(
    // doc/word conservation derived independently (the same tokenizer
    // expression text_token_stats proved engine-portable, over lowercased
    // text exactly as encode() tokenizes); violation counters are
    // constants BY DESIGN (see encodeInvariants)
    "text_bpe_encode_check" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN trim(lower(text)) = '' THEN 0
        |    ELSE len(string_split_regex(trim(lower(text)), '\s+')) END)
        |    AS BIGINT) AS n_words,
        |  CAST(0 AS BIGINT) AS roundtrip_violations,
        |  CAST(0 AS BIGINT) AS bounds_violations
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    // scored-document conservation derived independently (encode emits one
    // row per non-null-text document); the greedy-prefix contract counters
    // are constants BY DESIGN (see budgetSelectInvariants)
    "budget_select_bpe_check" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_scored,
        |  CAST(0 AS BIGINT) AS budget_violation,
        |  CAST(0 AS BIGINT) AS dup_selected,
        |  CAST(0 AS BIGINT) AS prefix_violation,
        |  CAST(0 AS BIGINT) AS maximality_violation
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    // corpus character-alphabet conservation derived independently (same
    // tokenizer expression, per-character regexp unnest); the table
    // wellformedness counters are constants BY DESIGN (see trainInvariants)
    "text_bpe_train_check" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT unnest(regexp_extract_all(word, '.')) AS ch
        |  FROM w WHERE word <> '')
        |SELECT CAST(COUNT(DISTINCT ch) AS BIGINT) AS n_corpus_chars,
        |  CAST(0 AS BIGINT) AS malformed_merge_violations,
        |  CAST(0 AS BIGINT) AS foreign_char_violations,
        |  CAST(0 AS BIGINT) AS rank_violations,
        |  CAST(0 AS BIGINT) AS merge_count_violation
        |FROM c""".stripMargin)
}
