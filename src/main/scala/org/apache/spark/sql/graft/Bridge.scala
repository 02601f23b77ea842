package org.apache.spark.sql.graft

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The engine's only reach into `private[spark]`/`private[sql]` API. This is
  * the standard public extension-library pattern (a shim inside
  * `org.apache.spark.sql`); everything else in the engine stays on public
  * API, and this file contains no logic of its own. Two uses:
  *
  *  - `ofRows` wraps a custom LogicalPlan (graft.plans.AsOfJoinPlan) into a
  *    DataFrame;
  *  - `activeConf` hands GraftExtensions the active SparkContext's own
  *    SparkConf (`sc.conf`; the public `getConf` is a copy), where it sets a
  *    static session setting before the session's shared state reads it.
  */
object Bridge {
  def ofRows(s: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  def activeConf: Option[SparkConf] = SparkContext.getActive.map(_.conf)
}
