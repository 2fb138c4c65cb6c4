package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Compile-time bridge to two `private[sql]` Spark seams graft needs for
  * session-isolated checkpoint materialization (`graft.Tuning.pinPartitioned`)
  * and for running a hand-built plan (`graft.quality.Checks.report`'s
  * one-scan aggregate):
  *
  *  - `SparkSession.cloneSession()` — a fork of the session (same
  *    SparkContext and shared state, COPIED SQLConf), so a conf flip scoped
  *    to one materialization can never race queries planned concurrently on
  *    the caller's session;
  *  - `Dataset.ofRows(session, plan)` — re-root an analyzed logical plan
  *    under a specific session, used to plan the pin under the clone and
  *    hand the materialized `LogicalRDD` leaf back to the caller's session.
  *
  * Lives in `org.apache.spark.sql` purely for access; the alternative
  * (runtime reflection) trades a compile-time check for a latent
  * NoSuchMethodError on a Spark upgrade.
  */
object GraftInternals {

  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}
