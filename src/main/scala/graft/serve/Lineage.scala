package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Column-level lineage from the ANALYZED logical plan — the dbt-docs
  * feature the reference's model graph surfaces (which downstream column
  * derives from which source columns), computed from Catalyst metadata
  * instead of parsing SQL text. Reference behavior: dbt's lineage graph in
  * `SEC-Financial-Data-Pipeline-using-Snowflake-DBT` (model-level DAG in
  * `dbt_pipeline/models/`); this extends it to COLUMN grain, which dbt
  * itself only approximates.
  *
  * Mechanics: one bottom-up fold over the analyzed plan. Leaf file
  * relations seed each output attribute with its own (table, column) —
  * the table name derived from the scan's root path. Every other node
  * propagates by `ExprId`: an output attribute present in a child keeps
  * the child's lineage; an attribute DEFINED at the node (Alias in a
  * Project/Aggregate/Window, generator output, …) unions the lineage of
  * every attribute its defining expression references. Resolution is by
  * `ExprId`, never by name — self-joins of one table keep both sides'
  * distinct histories even though the column NAMES collide.
  *
  * Two edge types (the OpenLineage column-lineage facet's split):
  *  - DATA — the attribute's value flows into the output column's value
  *    (projection/aggregate/window expression inputs);
  *  - INDIRECT — the attribute decides which ROWS reach the output
  *    without entering any value: Filter-condition and Join-condition
  *    references. A filter's influence is row-scoped, so its sources are
  *    indirect inputs of EVERY output column (minus any the column
  *    already carries as data lineage). Grouping keys and sort keys are
  *    deliberately out of this edge set: group keys surface as DATA
  *    lineage of the group columns, and a sort reorders without
  *    selecting.
  *
  * Driver-side plan metadata only; nothing here touches data or scales
  * with it.
  */
object Lineage {

  /** (output column name → source (table, column) set), analyzed-plan walk. */
  def columnLineage(df: DataFrame): Map[String, Set[(String, String)]] = {
    val plan = df.queryExecution.analyzed
    val byId = walk(plan)._1
    plan.output.map(a => a.name -> byId.getOrElse(a.exprId.id, Set.empty))
      .toMap
  }

  /** The plan's INDIRECT source set: every (table, column) referenced by a
    * Filter condition or Join condition anywhere in the subtree — the
    * attributes that select rows without contributing values.
    */
  def indirectSources(df: DataFrame): Set[(String, String)] =
    walk(df.queryExecution.analyzed)._2

  /** Lineage as a DataFrame for the battery: one row per
    * (out_col, src_table, src_col), deterministic ordering columns.
    */
  def lineageFrame(s: SparkSession, df: DataFrame): DataFrame = {
    import s.implicits._
    val rows = columnLineage(df).toSeq.flatMap { case (out, srcs) =>
      srcs.toSeq.map { case (t, c) => (out, t, c) }
    }
    rows.toDF("out_col", "src_table", "src_col")
  }

  /** Typed lineage frame: one row per (out_col, src_table, src_col,
    * edge_type) with edge_type ∈ ('data', 'indirect'). Data edges are
    * [[columnLineage]]'s; each output column additionally carries the
    * plan-wide indirect source set MINUS its own data sources (a column
    * whose value already flows from an attribute doesn't need the weaker
    * edge too).
    */
  def lineageFrameTyped(s: SparkSession, df: DataFrame): DataFrame = {
    import s.implicits._
    val direct = columnLineage(df)
    val indirect = indirectSources(df)
    val rows = direct.toSeq.flatMap { case (out, srcs) =>
      srcs.toSeq.map { case (t, c) => (out, t, c, "data") } ++
        (indirect -- srcs).toSeq.map { case (t, c) => (out, t, c, "indirect") }
    }
    rows.toDF("out_col", "src_table", "src_col", "edge_type")
  }

  /** Table label for a leaf scan: the file-relation root's basename with
    * the format suffix dropped (`…/lineitem.parquet` → `lineitem`). A leaf
    * without a recognizable location labels as `<unknown>` rather than
    * being dropped — absent lineage must read as "unresolved", not "no
    * dependency".
    */
  private def tableNameOf(leaf: LeafNode): String = leaf match {
    case lr: LogicalRelation =>
      lr.catalogTable.map(_.identifier.table).orElse {
        lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.headOption.map { p =>
              val base = p.getName
              val dot = base.indexOf('.')
              if (dot > 0) base.substring(0, dot) else base
            }
          case _ => None
        }
      }.getOrElse("<unknown>")
    case other =>
      other.getClass.getSimpleName.stripSuffix("$")
  }

  /** Bottom-up fold: (ExprId.id → data-source set, subtree indirect set). */
  private def walk(plan: LogicalPlan)
      : (Map[Long, Set[(String, String)]], Set[(String, String)]) = {
    plan match {
      case leaf: LeafNode =>
        val t = tableNameOf(leaf)
        (leaf.output.map(a => a.exprId.id -> Set(t -> a.name)).toMap,
          Set.empty)
      case node =>
        val childResults = node.children.map(walk)
        val fromChildren: Map[Long, Set[(String, String)]] =
          childResults.map(_._1)
            .foldLeft(Map.empty[Long, Set[(String, String)]]) { (acc, m) =>
              // a plan is a DAG on ExprIds; a collision means the same
              // attribute reached us twice (e.g. a CTE) — union is correct
              (acc.keySet ++ m.keySet).map { k =>
                k -> (acc.getOrElse(k, Set.empty) ++ m.getOrElse(k, Set.empty))
              }.toMap
            }
        // row-selecting conditions AT this node feed the indirect set
        val hereIndirect: Set[(String, String)] = node match {
          case f: Filter => refsOf(f.condition, fromChildren)
          case j: Join =>
            j.condition.map(refsOf(_, fromChildren)).getOrElse(Set.empty)
          case _ => Set.empty
        }
        val indirect = childResults.map(_._2)
          .foldLeft(hereIndirect)(_ ++ _)
        // attributes DEFINED at this node: any NamedExpression in its
        // expression list whose ExprId is not a plain child pass-through
        val defined: Map[Long, Set[(String, String)]] =
          node.expressions.flatMap(collectNamed).flatMap {
            case a: Alias =>
              Some(a.exprId.id -> refsOf(a.child, fromChildren))
            // bare Attributes cannot self-define (a Generate's output
            // attrs, a Window's spec refs, …): refsOf(attr) would look the
            // attr up in the child env and read as "no dependency" — leave
            // them to the `produced` fallback below
            case _: Attribute => None
            case ne: NamedExpression if !fromChildren.contains(ne.exprId.id) =>
              Some(ne.exprId.id -> refsOf(ne, fromChildren))
            case _ => None
          }.toMap
        // generator/window outputs that carry no NamedExpression of their
        // own (e.g. posexplode's pos/col): derive from the node's inputs
        val produced: Map[Long, Set[(String, String)]] =
          node.output.filterNot(a =>
            fromChildren.contains(a.exprId.id) || defined.contains(a.exprId.id))
            .map { a =>
              val all = node.expressions
                .flatMap(e => refsOf(e, fromChildren)).toSet
              a.exprId.id -> all
            }.toMap
        (fromChildren ++ defined ++ produced, indirect)
    }
  }

  private def collectNamed(e: Expression): Seq[NamedExpression] =
    e match {
      case ne: NamedExpression => ne +: e.children.flatMap(collectNamed)
      case _ => e.children.flatMap(collectNamed)
    }

  /** Union of the lineages of every attribute `e` references. */
  private def refsOf(e: Expression,
                     env: Map[Long, Set[(String, String)]]): Set[(String, String)] =
    e.collect { case a: Attribute => a }
      .flatMap(a => env.getOrElse(a.exprId.id, Set.empty))
      .toSet
}
