package graft.serve

import org.apache.spark.sql.{DataFrame, GraftInternals, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Command, CTERelationRef, LeafNode, LogicalPlan}
import org.apache.spark.sql.functions._

import graft.Tuning

/** The engine's public serving façade — the Spark analog of the reference's
  * interactive read path (SURVEY.md §3.3): table browsing with dynamic
  * filters + pagination, an ad-hoc SELECT-only SQL gateway, and catalog
  * introspection, all behind a plan-fingerprint result cache.
  *
  *  - `table`/`select`: reference Frontend/app.py:180-207 (filter fetch with
  *    LIMIT/OFFSET; default caps 5000/0 preserved).
  *  - `sql`: reference Frontend/app.py:274-309 — the SELECT-only enforcement
  *    is done on the *analyzed plan* (no Command nodes), not by string
  *    sniffing, so `WITH ... SELECT` passes and `DROP TABLE` can't hide
  *    behind whitespace tricks (P8).
  *  - `listDatabases`/`listTables`: INFORMATION_SCHEMA queries
  *    (Frontend/app.py:87,113 → S11).
  *  - `filterWidgetSpec`: dtype-driven widget inference (V4) — categorical if
  *    <15 distinct (approx), numeric → range, date/timestamp → date-range.
  *
  * Small plans run uncompiled. A `select`/`sql` plan whose inputs are small
  * ([[Engine.isSmall]]) runs in one cached clone of the session
  * ([[graft.Tuning.sessionWith]]) with whole-stage codegen, adaptive
  * execution and expression codegen (`spark.sql.codegen.factoryMode =
  * NO_CODEGEN`, an internal Spark conf) off: the short-query case of Kohn,
  * Leis & Neumann, "Adaptive Execution of Compiled Queries" (ICDE 2018).
  * A serving request changes its filter literals, and Catalyst writes
  * number and date literals into generated source, so compiled, nearly
  * every request paid Janino (and then the JIT) for new classes of a plan
  * that runs once over a few thousand rows. Larger plans keep the
  * compiled, adaptive path. What moves to the clone is the caller's
  * ANALYZED plan: names were resolved against the caller's catalog (the
  * clone's is a snapshot), the SELECT gate has already seen it, and the
  * result cache keys and versions it exactly as before. The frame a small
  * plan returns, lazy or cached, is a frame of the clone, so its actions
  * (a hit's read of driver-local rows included) run uncompiled too, and a
  * hit reuses the cached frame's executed plan.
  */
final class Engine(spark: SparkSession, cache: Option[ResultCache] = None) {

  val DefaultLimit = 5000

  def table(name: String): DataFrame = spark.table(name)

  /** Filtered, paginated table fetch (deterministic page iff orderBy set).
    *
    * With a cache, the page goes through [[ResultCache.through]]: a miss
    * whose result Catalyst sizes at or below
    * [[ResultCache.DriverResultMaxBytes]] executes here, before `select`
    * returns, and the returned frame reads the rows from the driver with no
    * Spark job (as does every later hit); a larger result is persisted and
    * executes on the caller's first action. Without a cache the frame is
    * lazy as usual.
    */
  def select(tableName: String, filters: Seq[FilterSpec] = Nil,
             limit: Int = DefaultLimit, offset: Int = 0,
             orderBy: Seq[String] = Nil): DataFrame = {
    val base = table(tableName).filter(Filters.toCondition(filters))
    val ordered = if (orderBy.nonEmpty) base.orderBy(orderBy.map(col): _*) else base
    val paged = (if (offset > 0) ordered.offset(offset) else ordered).limit(limit)
    serve(paged)
  }

  /** Ad-hoc gateway: SELECT-only ([[gatedSql]]), results through the cache.
    * As with [[select]], a cache miss of a small result executes the query
    * here, and the returned frame is served from the driver.
    */
  def sql(query: String): DataFrame = serve(gatedSql(query))

  /** `df` in its execution profile (uncompiled when small), through the
    * cache if there is one.
    */
  private def serve(df: DataFrame): DataFrame = {
    val profiled =
      if (!Engine.isSmall(df)) df
      else GraftInternals.ofRows(Tuning.sessionWith(spark, Engine.SmallPlan), df.queryExecution.analyzed)
    cache.fold(profiled)(_.through(profiled))
  }

  /** Column lineage of an ad-hoc gateway query — the V1 SQL surface meets
    * the dbt-docs lineage feature ([[Lineage.lineageFrameTyped]]): same
    * SELECT-only gate as [[sql]], then the typed (out_col, src_table,
    * src_col, edge_type) frame from the ANALYZED plan. Driver-side plan
    * metadata only — the query is parsed and analyzed, never executed,
    * and the result cache is deliberately bypassed (lineage of a query is
    * not its rows). A WHERE/join-key column that contributes no value
    * surfaces as edge_type='indirect' on every output column
    * (ServeSpec-pinned through this gateway).
    */
  def sqlLineage(query: String): DataFrame =
    Lineage.lineageFrameTyped(spark, gatedSql(query))

  /** The shared SELECT-only gate: the PARSED plan must be a pure query
    * before `spark.sql` ever runs (Command nodes execute eagerly at
    * `sql()` time — an analyzed-plan check would fire after the DROP
    * already ran). Statement nodes (INSERT INTO, etc.) same.
    */
  private def gatedSql(query: String): DataFrame = {
    val parsed: LogicalPlan = spark.sessionState.sqlParser.parsePlan(query)
    val offending = parsed.collect {
      case c: Command => c.nodeName
      case s if s.getClass.getSimpleName.endsWith("Statement") => s.nodeName
    }
    require(offending.isEmpty,
      s"only SELECT queries are allowed; rejected: ${offending.mkString(",")}")
    spark.sql(query)
  }

  def listDatabases(): Seq[String] =
    spark.catalog.listDatabases().collect().map(_.name).toSeq.sorted

  def listTables(db: String): Seq[String] =
    spark.catalog.listTables(db).collect().map(_.name).toSeq.sorted

  sealed trait Widget
  case object Categorical extends Widget
  case object NumericRange extends Widget
  case object DateRange extends Widget
  case object FreeText extends Widget

  /** V4: per-column filter-widget inference from schema + approx distincts. */
  def filterWidgetSpec(tableName: String,
                       categoricalMax: Int = 15): Map[String, Widget] = {
    val df = table(tableName)
    val stringCols = df.schema.fields.filter(_.dataType.typeName == "string").map(_.name)
    val distincts: Map[String, Long] =
      if (stringCols.isEmpty) Map.empty
      else df.select(stringCols.map(c => approx_count_distinct(col(c)).as(c)): _*)
        .head().getValuesMap[Long](stringCols).map(identity)
    df.schema.fields.map { f =>
      f.name -> (f.dataType.typeName match {
        case "string" if distincts.getOrElse(f.name, Long.MaxValue) < categoricalMax => Categorical
        case "string" => FreeText
        case "date" | "timestamp" | "timestamp_ntz" => DateRange
        case _ => NumericRange
      })
    }.toMap
  }
}

object Engine {

  /** The small-plan profile: no whole-stage codegen, no adaptive
    * re-planning, interpreted expressions.
    */
  private val SmallPlan = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Whether `df`'s leaf relations, subquery leaves included, add up to at
    * most its session's `spark.sql.autoBroadcastJoinThreshold`: the size
    * Spark already treats as small enough to copy into every task. A
    * negative threshold routes nothing. Sizes are Catalyst's estimates of
    * the analyzed plan's leaves (file bytes for a stored table), so a leaf
    * without statistics counts as the default size and keeps the plan
    * compiled. A CTE reference is not counted: its definition's leaves are.
    * The cutoff is not a measured crossover: over tables of tens of MB a
    * read can run faster compiled, most of all when its generated source
    * does not change from one request to the next (README, "Scale design
    * notes").
    */
  private def isSmall(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold >= 0 && df.queryExecution.analyzed.collectWithSubqueries {
      case l: LeafNode if !l.isInstanceOf[CTERelationRef] => l.stats.sizeInBytes
    }.sum <= threshold
  }
}
