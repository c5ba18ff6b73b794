package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Library bridge into the `private[sql]` Dataset constructor — the standard
  * packaging for a Spark library that builds its own `LogicalPlan` nodes
  * (graft.plans.TopKPerGroupPlan) and needs to hand them back to the
  * session as a DataFrame — and into the session's SQL parser, for
  * graft.T.sql's unresolved plan. Lives in `org.apache.spark.sql` solely
  * to satisfy the access qualifier; no Spark internals are modified. */
object GraftSqlBridge {
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  def parse(s: SparkSession, text: String): LogicalPlan =
    s.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parsePlan(text)
}
