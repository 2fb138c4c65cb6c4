package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fn.Ranking

/** Entity resolution / record linkage — blocked fuzzy matching of entity
  * names. The reference's data model joins purely on exact keys (`adsh`,
  * `tag`/`version` — `models/Facts`); real corpus curation also needs the
  * fuzzy tier: the same entity spelled two ways ("cold bolt" / "old bolt" in
  * the driver corpus's part names) must resolve to one canonical id before
  * any exact-key join can see it.
  *
  * Classic two-stage shape, built to the same discipline as [[Dedup]]:
  *
  *  1. BLOCK — group candidates by a cheap deterministic key so the
  *     quadratic pair enumeration runs per-block, never corpus-wide. Here
  *     the block key is the name's head noun; swap in soundex/prefix for
  *     natural-language names. At 100 TB the *distinct-entity* table this
  *     runs on is orders of magnitude smaller than the corpus (dedup-first),
  *     and the block key bounds each task's pair count.
  *  2. SCORE — exact pairwise edit distance inside blocks only
  *     (`levenshtein`, a codegen'd builtin), thresholded into match pairs.
  *
  * Resolution then runs [[Clustering.connectedComponents]] over the match
  * pairs (transitive closure in O(log diameter) rounds) and maps every
  * entity to its cluster's canonical representative.
  */
object Linkage {

  /** Distinct entities with a stable canonical key (min source key per
    * name) and their source-row support count. A NULL name is filtered —
    * there is no entity to resolve — and filtering it HERE keeps the two
    * engines aligned for any name shape: the Spark block key coalesces a
    * NULL split to '' while DuckDB's split_part(NULL, ' ', 2) yields NULL
    * and silently drops the row from the equi-join; removing NULL names
    * from the entity set makes that divergence unreachable (the oracle
    * carries the same WHERE).
    */
  def entities(df: DataFrame, nameCol: String, keyCol: String): DataFrame =
    df.filter(col(nameCol).isNotNull)
      .groupBy(col(nameCol).as("name"))
      .agg(min(col(keyCol)).as("entity_key"), count(lit(1)).as("n_rows"))

  /** Blocked candidate pairs with edit distance ≤ `maxLev`: pairs are only
    * enumerated within a block (equi-join on the block key — one bounded
    * shuffle), ordered `name_a < name_b` so each pair appears once.
    */
  def blockedMatches(ents: DataFrame, blockKey: Column, maxLev: Int): DataFrame = {
    val a = ents.select(blockKey.as("blk"), col("name").as("name_a"),
      col("entity_key").as("key_a"), col("n_rows").as("rows_a"))
    val b = ents.select(blockKey.as("blk"), col("name").as("name_b"),
      col("entity_key").as("key_b"), col("n_rows").as("rows_b"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
      .filter(col("lev") <= maxLev)
      .select(col("name_a"), col("name_b"), col("key_a"), col("key_b"),
        col("lev"), col("rows_a"), col("rows_b"))
  }

  /** Full resolution: every entity → the canonical (minimum) entity key of
    * its transitive match cluster. Unmatched entities map to themselves.
    */
  def resolveEntities(ents: DataFrame, blockKey: Column, maxLev: Int): DataFrame = {
    val edges = blockedMatches(ents, blockKey, maxLev)
      .select(col("key_a").as("id_a"), col("key_b").as("id_b"))
    val clusters = Clustering.connectedComponents(edges)
      .select(col("doc_id").as("entity_key"), col("cluster_id"))
    ents.join(clusters, Seq("entity_key"), "left")
      .select(col("name"), col("entity_key"),
        coalesce(col("cluster_id"), col("entity_key")).as("canonical_key"),
        col("n_rows"))
  }

  /** Survivorship — the golden record per resolved cluster (the MDM step
    * after [[resolveEntities]]): one canonical row per cluster with
    * field-level merge rules. The name survives by SUPPORT (the member
    * with the most source rows; ties broken lexicographically so the
    * record is deterministic); numeric attributes survive by the
    * caller-supplied aggregates (max/min/latest — the rules an MDM config
    * actually encodes).
    *
    * Scale shape: one equi-join of the resolved entity table against its
    * attribute rows (both entity-sized, not corpus-sized — dedup-first),
    * a per-cluster window for the support winner, and one aggregation —
    * everything hash-partitioned on canonical_key.
    */
  def goldenRecords(resolved: DataFrame, attrs: DataFrame,
                    aggs: Seq[Column]): DataFrame = {
    val base = resolved.join(attrs, Seq("entity_key"))
    val best = Ranking.topK(base, Seq(col("canonical_key")),
        Seq(col("n_rows").desc, col("name")), 1, "rk")
      .select(col("canonical_key"), col("name").as("name_golden"))
    base.groupBy(col("canonical_key"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_rows")).as("n_source_rows") +: aggs: _*)
      .join(best, Seq("canonical_key"))
  }

  private def parts(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "part")

  /** Head-noun block key for the part names. Coalesced to '' so a
    * single-token name blocks the same way as the oracle's
    * split_part(name, ' ', 2) (which yields '', not NULL — NULL would
    * silently drop the row from the equi-join) for ANY name shape.
    */
  private val nounBlock: Column =
    coalesce(split(col("name"), " ").getItem(1), lit(""))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // blocked fuzzy match pairs over distinct part names (oracle-gated)
    "er_blocked_matches" -> ((s, dir) =>
      blockedMatches(entities(parts(s, dir), "p_name", "p_partkey"),
        nounBlock, maxLev = 2)),
    // transitive resolution to canonical entities (oracle-gated — recursive
    // CTE closure on the DuckDB side, pointer-jumping CC here)
    "er_resolved_entities" -> ((s, dir) =>
      resolveEntities(entities(parts(s, dir), "p_name", "p_partkey"),
        nounBlock, maxLev = 2)),
    // Jaro-Winkler fuzzy tier (the native codegen'd expression): blocks on
    // the FIRST name token — JW weights shared prefixes, so prefix blocking
    // is the recall-aligned choice — and both engines filter on the ROUNDED
    // score so a sub-round representation wiggle can't flip membership (the
    // kernel is bit-identical to DuckDB's, pinned in JaroWinklerSpec).
    "er_jaro_winkler" -> ((s, dir) => {
      val ents = entities(parts(s, dir), "p_name", "p_partkey")
      val a = ents.select(split(col("name"), " ").getItem(0).as("blk"),
        col("name").as("name_a"))
      val b = ents.select(split(col("name"), " ").getItem(0).as("blk"),
        col("name").as("name_b"))
      a.join(b, Seq("blk"))
        .filter(col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"),
          round(graft.functions.JaroWinkler.jaroWinkler(
            col("name_a"), col("name_b")), 4).as("jw"))
        .filter(col("jw") >= 0.85)
    }),
    // survivorship: one golden record per resolved cluster — support-winner
    // name, summed support, max-price/max-size field rules (oracle-gated)
    "er_golden_record" -> ((s, dir) => {
      val resolved = resolveEntities(
        entities(parts(s, dir), "p_name", "p_partkey"), nounBlock, maxLev = 2)
      goldenRecords(resolved,
        parts(s, dir).select(col("p_partkey").as("entity_key"),
          col("p_retailprice"), col("p_size")),
        aggs = Seq(max(col("p_retailprice")).as("max_price"),
          max(col("p_size")).as("max_size")))
    })
  )

  private val entitiesSql =
    """SELECT p_name AS name, MIN(p_partkey) AS entity_key, COUNT(*) AS n_rows
      |FROM part WHERE p_name IS NOT NULL GROUP BY p_name""".stripMargin

  def oracles: Map[String, String] = Map(
    "er_blocked_matches" ->
      s"""WITH e AS ($entitiesSql),
         |blk AS (SELECT split_part(name, ' ', 2) AS blk, * FROM e)
         |SELECT a.name AS name_a, b.name AS name_b,
         |  a.entity_key AS key_a, b.entity_key AS key_b,
         |  CAST(levenshtein(a.name, b.name) AS INT) AS lev,
         |  a.n_rows AS rows_a, b.n_rows AS rows_b
         |FROM blk a JOIN blk b ON a.blk = b.blk AND a.name < b.name
         |WHERE levenshtein(a.name, b.name) <= 2""".stripMargin,
    "er_resolved_entities" ->
      s"""WITH RECURSIVE e AS ($entitiesSql),
         |blk AS (SELECT split_part(name, ' ', 2) AS blk, * FROM e),
         |pairs AS (
         |  SELECT a.entity_key AS id_a, b.entity_key AS id_b
         |  FROM blk a JOIN blk b ON a.blk = b.blk AND a.name < b.name
         |  WHERE levenshtein(a.name, b.name) <= 2),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT eg.dst, reach.r FROM reach JOIN edges eg ON eg.src = reach.id),
         |clusters AS (SELECT id AS entity_key, MIN(r) AS cluster_id
         |             FROM reach GROUP BY id)
         |SELECT e.name, e.entity_key,
         |  COALESCE(c.cluster_id, e.entity_key) AS canonical_key, e.n_rows
         |FROM e LEFT JOIN clusters c USING (entity_key)""".stripMargin,
    // the resolution closure extended by the attribute join, the support
    // window, and the per-cluster merge — same recursive CTE as
    // er_resolved_entities
    "er_golden_record" ->
      s"""WITH RECURSIVE e AS ($entitiesSql),
         |blk AS (SELECT split_part(name, ' ', 2) AS blk, * FROM e),
         |pairs AS (
         |  SELECT a.entity_key AS id_a, b.entity_key AS id_b
         |  FROM blk a JOIN blk b ON a.blk = b.blk AND a.name < b.name
         |  WHERE levenshtein(a.name, b.name) <= 2),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT eg.dst, reach.r FROM reach JOIN edges eg ON eg.src = reach.id),
         |clusters AS (SELECT id AS entity_key, MIN(r) AS cluster_id
         |             FROM reach GROUP BY id),
         |res AS (SELECT e.name, e.entity_key,
         |  COALESCE(c.cluster_id, e.entity_key) AS canonical_key, e.n_rows
         |FROM e LEFT JOIN clusters c USING (entity_key)),
         |j AS (SELECT r.*, p.p_retailprice, p.p_size
         |      FROM res r JOIN part p ON p.p_partkey = r.entity_key),
         |best AS (SELECT canonical_key, name AS name_golden FROM (
         |  SELECT canonical_key, name, ROW_NUMBER() OVER
         |    (PARTITION BY canonical_key ORDER BY n_rows DESC, name) AS rk
         |  FROM j) WHERE rk = 1)
         |SELECT j.canonical_key, COUNT(*) AS n_members,
         |  CAST(SUM(j.n_rows) AS BIGINT) AS n_source_rows,
         |  MAX(j.p_retailprice) AS max_price, MAX(j.p_size) AS max_size,
         |  best.name_golden
         |FROM j JOIN best USING (canonical_key)
         |GROUP BY j.canonical_key, best.name_golden""".stripMargin,
    "er_jaro_winkler" ->
      s"""WITH e AS ($entitiesSql),
         |blk AS (SELECT split_part(name, ' ', 1) AS blk, * FROM e)
         |SELECT a.name AS name_a, b.name AS name_b,
         |  ROUND(jaro_winkler_similarity(a.name, b.name), 4) AS jw
         |FROM blk a JOIN blk b ON a.blk = b.blk AND a.name < b.name
         |WHERE ROUND(jaro_winkler_similarity(a.name, b.name), 4) >= 0.85""".stripMargin
  )
}
