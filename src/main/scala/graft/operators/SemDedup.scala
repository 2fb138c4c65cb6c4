package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic deduplication over an embedding column — SemDeDup (Abbas et al.
  * 2023, arXiv:2303.09540): k-means partitions the corpus into semantically
  * tight cells, all-pairs cosine runs ONLY within a cell, and of every
  * near-duplicate pair (cos ≥ τ) the larger id drops. The pairwise cost
  * falls from N²/2 to Σ|cell|²/2 ≈ N²/(2·cells) — the pruning that makes
  * embedding dedup feasible at corpus scale, at the price of missing the
  * (rare) near-dup pair that straddles a cell boundary: candidate recall is
  * a clustering property, while precision stays exact because every emitted
  * pair carries its true cosine (OperatorsSpec pins both against
  * [[Dedup.cosinePairs]]).
  *
  * Scale shape: training/assignment reuse the IVF machinery
  * ([[Similarity.kMeansCentroids]] — per-round shuffle is cells × dim
  * doubles, row-count-independent; [[Similarity.kMeansAssign]] — one
  * codegen'd pass). The within-cell stage is the blocked mode of the one
  * all-pairs executor behind [[Dedup]]'s exact pairs ([[AllPairs]]), with
  * the cell as group key: task (cell, bx, by) holds blocks bx and by of one
  * cell, and the cosine and rounding are the executor's own. Blocks are
  * sized by the LARGEST cell against both a per-task byte budget AND a
  * per-task pair-count budget, so one skewed cell (the k-means failure
  * mode) can bust neither task memory nor task compute — it fans out
  * across cross-salt-block tasks, every within-cell pair still meeting
  * exactly once.
  */
object SemDedup {

  /** Afrati–Ullman block count for the within-cell stage, derived from the
    * LARGEST cell against BOTH task budgets:
    *
    *  - bytes (256 MB, via [[Dedup.blockCount]]) — a block pair must fit in
    *    task memory;
    *  - pair count (`maxPairsPerTask`) — a skewed k-means cell (the
    *    real-web-embeddings failure mode) can pack (maxCell/b)² cosines
    *    into one task while staying comfortably inside the byte budget:
    *    890k 64-dim vectors fit 256 MB but carry 4·10¹¹ pairs. Requiring
    *    maxCell/b ≤ √maxPairsPerTask caps per-task compute, so an
    *    oversized cell fans out across more cross-salt-block tasks
    *    (semantics unchanged — every within-cell pair still meets exactly
    *    once) instead of concentrating quadratic work on one core.
    */
  private[graft] def deriveBlocks(spark: org.apache.spark.sql.SparkSession,
                                  maxCell: Long, dim: Int,
                                  maxPairsPerTask: Long): Int = {
    val byBytes = Dedup.blockCount(spark, corpusBytes = maxCell * (4L * dim + 32L))
    val byPairs = math.ceil(maxCell.toDouble / math.sqrt(maxPairsPerTask.toDouble)).toInt
    math.max(byBytes, byPairs).max(1)
  }

  /** Verified near-dup pairs (id_a < id_b, round4 cosine ≥ τ) found within
    * k-means cells. `blocks` sub-divides every cell Afrati–Ullman-style
    * (0 = derive from the largest cell via [[deriveBlocks]]: the 256 MB
    * byte budget exactly like [[Dedup.blockCount]], plus the per-task
    * pair-count budget that keeps a skewed cell from concentrating its
    * quadratic work).
    */
  def semDedupPairs(e: DataFrame, tau: Double, cells: Int = 10,
                    iters: Int = 3, blocks: Int = 0,
                    dim: Int = graft.Tables.EmbeddingDim,
                    maxPairsPerTask: Long = 1L << 24): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val cents = Similarity.kMeansCentroids(e, cells, iters, dim)
    val assignedRaw = Similarity.kMeansAssign(e, cents, dim)
      .select(col("cell"), col("vec_id").cast("long"), col("embedding"))
      .as[(Int, Long, Array[Float])]
    // deriving blocks needs a cell-size pass BEFORE the pair pass — without
    // a checkpoint the assignment pipeline (a NearestCentroid scan over the
    // corpus) would run twice
    val assigned = if (blocks > 0) assignedRaw else assignedRaw.localCheckpoint()

    val b = if (blocks > 0) blocks else {
      // size blocks by the biggest cell — the only one that can bust a task
      val maxCell = assigned.groupBy(col("cell")).count()
        .agg(max(col("count"))).head().getLong(0)
      deriveBlocks(spark, maxCell, dim, maxPairsPerTask)
    }
    AllPairs.groupedPairs(assigned, cells, b, AllPairs.cosine(dim), tau)
  }

  /** Survivors under the min-id rule: a vector drops iff some smaller-id
    * vector in its cell sits within cosine τ — the same rule as the exact
    * embedding dedup, restricted to within-cell evidence. Output: one
    * `vec_id` row per keeper.
    */
  def semDedupSurvivors(e: DataFrame, tau: Double, cells: Int = 10,
                        iters: Int = 3, blocks: Int = 0,
                        dim: Int = graft.Tables.EmbeddingDim,
                        maxPairsPerTask: Long = 1L << 24): DataFrame = {
    val dropped = semDedupPairs(e, tau, cells, iters, blocks, dim, maxPairsPerTask)
      .select(col("id_b").as("vec_id")).distinct()
    e.select(col("vec_id").cast("long").as("vec_id"))
      .join(dropped, Seq("vec_id"), "left_anti")
  }

  /** SemDeDup semantic gate (the `_check` pattern): the k-means partition
    * is not SQL-expressible, but planting an EXACT twin of every vector
    * (same embedding, id + `copyOffset`) pins the parts DuckDB can derive:
    *
    *  - `n_twins` — the planted-pair count, the conservation column;
    *  - `survivors_not_in_input` = 0 — survivor hygiene (pure subset);
    *  - `twins_surviving` = 0 — the recall floor: an identical vector
    *    lands in the SAME cell (assignment is a pure function of the
    *    embedding), the twin pair's cosine is exactly 1 ≥ τ, and the twin
    *    id is strictly larger, so the min-id rule must drop EVERY twin —
    *    any bug in cell assignment determinism, within-cell pair
    *    enumeration (including the cross-salt-block fan-out), or the
    *    survivor anti-join flips the counter.
    */
  def semDedupInvariants(e: DataFrame, tau: Double = 0.9,
                         copyOffset: Long = 1L << 40): DataFrame = {
    val base = e.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val twins = base.select((col("vec_id") + copyOffset).as("vec_id"),
      col("embedding"))
    // checkpoint: the survivor pass scans its input for centroids,
    // assignment, AND the final anti-join — one materialization, not three
    val input = base.unionByName(twins).localCheckpoint()
    // checkpoint the survivor set too: two invariant branches (hygiene
    // anti-join, twin filter) reference it, and without a materialization
    // the whole k-means + within-cell pair pass would execute once per
    // branch in the final assembly plan
    val surv = semDedupSurvivors(input, tau).localCheckpoint()
    val nTwins = base.agg(count(lit(1)).cast("long").as("n_twins"))
    val notIn = surv.join(input.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).cast("long").as("survivors_not_in_input"))
    val twinsSurv = surv.filter(col("vec_id") >= copyOffset)
      .agg(count(lit(1)).cast("long").as("twins_surviving"))
    nTwins.crossJoin(notIn).crossJoin(twinsSurv)
  }

  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
    // rows-only: the k-means partition isn't SQL-expressible; the semantic
    // gate lives in OperatorsSpec (dropped ⊆ exact-dropped, recall pinned
    // vs Dedup.cosinePairs at two scales). Planted near-dups (same
    // frame as dedup_embedding_lsh) so the entry demonstrably drops rows.
    "semdedup_survivors" -> ((s, dir) =>
      semDedupSurvivors(
        Dedup.plantEmbeddingNearDups(
          graft.Tables(s, dir, "embeddings")).localCheckpoint(),
        tau = 0.9)),

    // the SemDeDup semantic gate — exact-twin recall floor + survivor
    // hygiene, hash-compared against a DuckDB-derived conservation row
    "semdedup_check" -> ((s, dir) =>
      semDedupInvariants(graft.Tables(s, dir, "embeddings"), tau = 0.9))
  )

  def oracles: Map[String, String] = Map(
    // twin-pair count derived independently; the recall-floor and hygiene
    // counters are constants BY DESIGN (see semDedupInvariants)
    "semdedup_check" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_twins,
        |  CAST(0 AS BIGINT) AS survivors_not_in_input,
        |  CAST(0 AS BIGINT) AS twins_surviving
        |FROM embeddings""".stripMargin)
}
