package graft.graph

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.storage.StorageLevel

/** dbt-style model DAG: named models with declared `ref()` dependencies,
  * topologically ordered, independent models built concurrently.
  *
  * Mirrors the reference's orchestration (Airflow/dags/rdbms_transformation
  * .py:202-211: staging → dimensions → [three facts in parallel] → tests) with
  * dbt `--threads 8` parallelism (`:50-58`) mapped to concurrent job
  * submission on a shared SparkSession — Spark's scheduler interleaves the
  * jobs across the cluster, which is the idiomatic Spark analog of dbt
  * threads.
  */
final case class Model(
    name: String,
    deps: Seq[String],
    build: Map[String, DataFrame] => DataFrame,
    materialization: Materialization = View)

sealed trait Materialization
/** dbt `materialized='view'` → lazy DataFrame (plan only). A view read two
  * or more times in a graph is computed once per [[ModelGraph.run]] (see
  * its pinning rule); outside a run it is recomputed per use, like a SQL
  * view.
  */
case object View extends Materialization
/** dbt `materialized='table'` → persisted columnar table, optionally
  * cluster-sorted; `format` ∈ {parquet, orc} (both native columnar sources
  * with pushdown + vectorized read).
  */
final case class Table(clusterBy: Seq[String] = Nil,
                       format: String = "parquet") extends Materialization
/** Hive-style directory partitioning (`partitionBy` write): equality/IN
  * filters on the partition columns prune entire directories at PLANNING
  * time — the coarse pruning tier above file-level min/max clustering, and
  * the standard warehouse layout for date-partitioned facts.
  */
final case class Partitioned(partitionBy: Seq[String],
                             format: String = "parquet") extends Materialization
/** dbt incremental: append rows where `column >= max(column)` in the sink
  * (reference: json_transform/macros/incremental_filter.sql:1-5).
  * Precondition: every frame appended has the schema of the one that
  * created the sink. The sink is read with the appended frame's schema
  * (inferring the sink's would cost a Spark job per write), so a column the
  * frame lacks is left out of the returned view, and a watermark column of
  * another type fails the write before anything is appended (ScaleSpec).
  */
final case class Incremental(watermarkColumn: String) extends Materialization
/** Hash-bucketed + sorted catalog table: joins/aggregations on the bucket
  * keys become shuffle-free (the Spark analog of co-located clustering —
  * SURVEY.md §4 `cluster_by` taken to its scale conclusion).
  */
final case class Bucketed(bucketBy: Seq[String], numBuckets: Int = 32)
  extends Materialization
/** dbt incremental `merge` strategy (Snowflake's default): each batch
  * upserts by `keys` — matched rows replaced, new rows inserted, source
  * tombstone rows deleted ([[graft.operators.Scd.mergeUpsert]] semantics).
  * With `partitionBy`, the target is hive-partitioned and a merge batch
  * rewrites ONLY the partitions its feed touches — the 100 TB shape: merge
  * cost scales with the change set's partition footprint, never the table.
  * Keys must then be partition-stable (a key never moves partitions), the
  * standard hive-merge precondition.
  */
final case class MergeInc(keys: Seq[String],
                          partitionBy: Option[String] = None,
                          deleteColumn: Option[String] = None)
  extends Materialization

final class ModelGraph(val models: Seq[Model]) {
  private val byName = models.map(m => m.name -> m).toMap
  require(byName.size == models.size, "duplicate model names")

  /** Kahn topological order; fails fast on cycles. Deps that are not model
    * names are external sources — they must be present in the registry passed
    * to [[run]], which checks them up front (a typo'd `ref()` then fails with
    * the model name instead of a bare NoSuchElementException inside a Future).
    */
  val topoOrder: Seq[String] = {
    val internal = models.map(m => m.name -> m.deps.filter(byName.contains)).toMap
    var remaining = internal
    val order = Seq.newBuilder[String]
    while (remaining.nonEmpty) {
      val ready = remaining.collect {
        case (n, ds) if ds.forall(d => !remaining.contains(d)) => n
      }.toSeq.sorted
      require(ready.nonEmpty, s"cycle among ${remaining.keys.mkString(",")}")
      order ++= ready
      remaining = remaining -- ready
    }
    order.result()
  }

  /** How many times each model is read: one per `deps` entry that names
    * it, so a model that joins a dep twice counts it twice.
    */
  private val reads: Map[String, Int] =
    models.flatMap(_.deps).groupBy(identity).map { case (n, rs) => n -> rs.size }

  /** This graph cut to `target` and its ancestors — dbt's `+model`
    * selection, for sources that only some of the graph's models resolve
    * against.
    */
  def upTo(target: String): ModelGraph = {
    require(byName.contains(target), s"unknown model $target")
    // consumers come after their deps in topo order: walking it backwards
    // reaches every kept model before its deps
    val keep = topoOrder.reverse.foldLeft(Set(target)) { (k, n) =>
      if (k(n)) k ++ byName(n).deps.filter(byName.contains) else k
    }
    new ModelGraph(models.filter(m => keep(m.name)))
  }

  /** Build every model against a registry seeded with the source tables.
    * Models at the same topological depth run concurrently (Futures sharing
    * the SparkSession), like dbt threads. Materialization is applied by
    * `materialize` (injected so tests can run fully lazy).
    *
    * Shared work runs once — the reference's `/*+ MATERIALIZED */` CTEs
    * (SURVEY.md, fct_balanceSheet.sql:8,10). A model read two or more times
    * across the graph's `deps` is pinned, and every downstream build in the
    * run reads the pin instead of recomputing the subtree. A frame that
    * `materialize` returned already cached, or as a bare scan (a one-leaf
    * plan: a written table's read-back, a checkpoint), is left as it is:
    * reading it again costs no more than reading a pin.
    *
    * `keepPins` chooses how long a pin lives:
    *  - `false` (the product path): `persist()`, filled by the first job
    *    that reads it and released when `run` returns, on success and on
    *    failure. The returned frames and temp views keep their full lineage
    *    and recompute once released.
    *  - `true`, for callers that consume the outputs after `run` returns:
    *    an eager `localCheckpoint`, held by the returned registry. No
    *    CacheManager entry is made; the ContextCleaner reclaims the blocks
    *    once the frames are dropped.
    *
    * A failing model fails the run only after every model of its wave has
    * ended, so no model of a failed run is still building (or writing its
    * status) once `run` has thrown; the first failure in wave order is
    * thrown, the others are attached to it as suppressed.
    */
  def run(sources: Map[String, DataFrame],
          materialize: (Model, DataFrame) => DataFrame = (_, df) => df,
          parallelism: Int = 8,
          keepPins: Boolean = false)(implicit spark: SparkSession): Map[String, DataFrame] = {
    val external = models.flatMap(m => m.deps.filterNot(byName.contains)).distinct
    val missing = external.filterNot(sources.contains)
    require(missing.isEmpty,
      s"deps not found among models or sources: ${missing.mkString(", ")}")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    var pinned = List.empty[DataFrame]
    try {
      // group topo order into waves of mutually independent models
      var registry = sources
      var remaining = topoOrder
      while (remaining.nonEmpty) {
        val wave = remaining.takeWhile(n =>
          byName(n).deps.forall(d => registry.contains(d) || !byName.contains(d)))
        require(wave.nonEmpty, s"unresolvable deps for ${remaining.head}")
        val reg = registry
        val built = graft.Tuning.awaitAll(wave.map { n =>
          val m = byName(n)
          Future {
            val df = materialize(m, m.build(reg))
            val pin =
              if (reads.getOrElse(n, 0) < 2 || df.storageLevel != StorageLevel.NONE ||
                  EliminateSubqueryAliases(df.queryExecution.analyzed).isInstanceOf[LeafNode]) None
              else if (keepPins) Some(df.localCheckpoint())
              else Some(df.persist())
            (n, pin.getOrElse(df), pin)
          }
        })
        pinned = built.flatMap(_._3).toList ::: pinned
        registry = registry ++ built.map { case (n, df, _) => n -> df }
        remaining = remaining.drop(wave.size)
      }
      registry
    } finally {
      pool.shutdown()
      // newest first: a pin released before the pins built on it would
      // make the cache manager re-plan those dependents for nothing
      if (!keepPins) pinned.foreach(_.unpersist())
    }
  }
}

object ModelGraph {
  /** The reference's full star-schema + document-model graph
    * (SURVEY.md §3.2, §7.1). Sources: raw `sub`, `tag`, `num`, `pre`.
    * `facts` names each fact model and its statement type; the default is
    * the reference's three.
    *
    * Stored (`Table`): `stg_num`, the four dims, the facts and
    * `financial_statements_json`. The other staging models and the two JSON
    * staging models stay Views; [[ModelGraph.run]] computes the ones read
    * twice or more once per run. The reference keeps its dims as views
    * (masterfindata/dbt_project.yml:26-45) and its app reads them behind a
    * result cache; here a cache miss on a view recomputes its lineage from
    * raw parquet, so every model that clients read is written once per run
    * and served as a bare scan. The facts and `run`'s pins then read the
    * dims' files too, so a product run pins only `stg_sub` and `stg_pre`.
    * With the default lazy callback materializations are ignored, and the
    * graph runs as Views throughout.
    */
  def edgar(spark: SparkSession, rowCap: Option[Int] = Some(100000),
            facts: Seq[(String, String)] = Seq("fct_balanceSheet" -> "BS",
              "fct_IncomeStatement" -> "IS", "fct_Cashflows" -> "CF")): ModelGraph = {
    import graft.models._
    // a fact joins each dim twice (the SK lookup, then the join-back), and
    // names each read: `run` pins by reads
    val factDeps = Seq("stg_num", "stg_pre", "stg_sub", "dim_company", "dim_filings",
      "dim_date", "dim_company", "dim_filings")
    new ModelGraph(Seq(
      Model("stg_sub", Seq("sub"), r => Staging.stgSub(r("sub"))),
      Model("stg_num", Seq("num"), r => Staging.stgNum(r("num")),
        Table(clusterBy = Seq("ADSH", "TAG", "VERSION_TAG"))),
      Model("stg_tag", Seq("tag"), r => Staging.stgTag(r("tag"))),
      Model("stg_pre", Seq("pre"), r => Staging.stgPre(r("pre"))),
      Model("dim_address", Seq("stg_sub"), r => Dims.dimAddress(r("stg_sub")), Table()),
      Model("dim_company", Seq("dim_address", "stg_sub"),
        r => Dims.dimCompany(r("dim_address"), r("stg_sub")), Table()),
      Model("dim_filings", Seq("stg_pre", "stg_tag", "stg_num", "stg_sub"),
        r => Dims.dimFilings(r("stg_pre"), r("stg_tag"), r("stg_num"), r("stg_sub")),
        Table()),
      Model("dim_date", Nil, _ => Dims.dimDate(spark), Table())) ++
      facts.map { case (name, stmt) =>
        Model(name, factDeps, r => Facts.buildFact(stmt, r("stg_num"), r("stg_pre"),
          r("stg_sub"), r("dim_company"), r("dim_filings"), r("dim_date"), rowCap),
          Table(clusterBy = Seq("COMPANY_NAME")))
      } ++ Seq(
      Model("raw_stg_sub_modified", Seq("sub"),
        r => JsonModels.rawStgSubModified(r("sub"))),
      Model("stg_financial_data", Seq("raw_stg_sub_modified", "num", "tag", "pre"),
        r => JsonModels.stgFinancialData(r("raw_stg_sub_modified"), r("num"), r("tag"), r("pre"))),
      Model("financial_statements_json", Seq("stg_financial_data"),
        r => JsonModels.financialStatementsJson(r("stg_financial_data")), Table())
    ))
  }
}
