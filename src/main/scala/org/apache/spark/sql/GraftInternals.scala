package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Compile-time bridge to the two `private[sql]` Spark seams graft needs.
  * It is the only such doorway for whole plans, so its callers are listed
  * here:
  *
  *  - `SparkSession.cloneSession()` — a fork of the session (same
  *    SparkContext and shared state, COPIED SQLConf), so a conf flip scoped
  *    to one materialization can never race queries planned concurrently on
  *    the caller's session. Caller: `graft.Tuning.pinPartitioned` (its
  *    cached AQE-off clone).
  *  - `Dataset.ofRows(session, plan)` — turn a resolved logical plan into a
  *    `DataFrame` under a given session; it runs the usual analyzer and
  *    optimizer lazily, like any other query. Callers:
  *     - `graft.Tuning.pinPartitioned`: plan the pin under the clone and
  *       hand the materialized `LogicalRDD` leaf back to the caller's
  *       session;
  *     - `graft.quality.Checks.report`: the one-scan aggregate over a
  *       table's filter checks;
  *     - `graft.plans.AsOfJoinPlan`: the hand-built `GraftAsOfJoin` node;
  *     - `graft.serve.ResultCache.through`: a fresh frame over an analyzed
  *       plan for the persisted (above-cap) tier.
  *     - `graft.io.Materializer` (`Table` with `clusterBy`): the
  *       `RebalancePartitions` node with a partition count, which has no
  *       public spelling (the `rebalance` hint is dropped with AQE off).
  *
  * Lives in `org.apache.spark.sql` purely for access (Spark exposes every
  * other extension hook publicly, but plan construction from outside has no
  * public spelling); the alternative, runtime reflection, trades a
  * compile-time check for a latent NoSuchMethodError on a Spark upgrade.
  */
object GraftInternals {

  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}
