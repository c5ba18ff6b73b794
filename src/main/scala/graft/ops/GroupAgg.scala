package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-D — aggregation.
  * Per-schema object counts in the reference's doc model [P2] generalized to
  * the full Spark aggregation surface: hash agg (partial+final map-side
  * combine), distinct, HLL sketch, rollup/cube/grouping-sets, pivot.
  */
object GroupAgg {

  val defs: Seq[Q] = Seq(
    // TPC-H Q1 shape — HashAggregateExec with map-side partials. Plan:
    // partial HashAggregate -> Exchange on the group keys -> final.
    sqlKey("agg_groupby_hash",
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount) AS avg_disc
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2"""),

    sqlKey("agg_count_distinct",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // HLL++ sketch differs across engines → property-tested (<5% error) in
    // ApproxDistinctSpec instead of the DuckDB oracle.
    // The HLL sketch itself is engine-specific, so the DECLARED output is the
    // exact distinct count plus a within-5%-relative-error flag for the HLL
    // estimate — promoting the former property test into the hash gate: if
    // approx_count_distinct ever drifts past 5%, hll_ok flips to 0 and the
    // oracle compare fails.
    q("agg_approx_distinct_hll",
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(1 AS INT) AS hll_ok
        |FROM lineitem""") { (s, dir) =>
      T.t(s, dir, "lineitem")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(
          col("exact_parts"),
          when(abs(col("approx_parts") - col("exact_parts")).cast(DoubleType)
            / col("exact_parts") < 0.05, 1).otherwise(0)
            .cast(IntegerType).as("hll_ok"))
    },

    // Same promoted-property pattern as the HLL row: approx_percentile's
    // sketch value is engine-specific, so the DECLARED output is the exact
    // row count plus a rank-error flag — the fraction of values at or below
    // the approximate median must sit within 0.5 ± 0.05. Drift past the
    // bound flips the flag and fails the hash gate.
    q("agg_approx_quantile",
      """SELECT CAST(count(*) AS BIGINT) AS n, CAST(1 AS INT) AS quantile_ok
        |FROM lineitem""") { (s, dir) =>
      val li = T.t(s, dir, "lineitem")
      val approx = li.agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("ap"),
        count(lit(1)).as("n"))
      val flag = li.crossJoin(approx)
        .agg(
          first(col("n")).as("n"),
          (sum(when(col("l_extendedprice") <= col("ap"), 1L).otherwise(0L))
            .cast(DoubleType) / first(col("n"))).as("rank_frac"))
        .select(col("n"),
          when(abs(col("rank_frac") - 0.5) <= 0.05, 1).otherwise(0)
            .cast(IntegerType).as("quantile_ok"))
      flag
    },

    // Boolean aggregate surface: count_if / bool_and / bool_or — the
    // assertion-style aggregates data-quality checks are written in.
    sqlKey("agg_bool_funcs",
      """SELECT l_returnflag,
        |  CAST(count_if(l_quantity > 25) AS BIGINT) AS n_big,
        |  bool_and(l_quantity > 0) AS all_positive,
        |  bool_or(l_discount > 0.09) AS any_high_disc
        |FROM lineitem GROUP BY 1 ORDER BY 1"""),

    sqlKey("agg_having",
      """SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY 1 HAVING count(*) >= 12 ORDER BY 1"""),

    // Rollup/cube nulls are disambiguated with COALESCE labels in BOTH
    // engines (fixture group keys are never null, so 'ALL' is unambiguous).
    sqlKey("agg_rollup",
      """SELECT COALESCE(o_orderstatus,'ALL') AS status,
        |  COALESCE(o_orderpriority,'ALL') AS priority, count(*) AS cnt
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority"""),

    sqlKey("agg_cube",
      """SELECT COALESCE(l_returnflag,'ALL') AS flag, COALESCE(l_linestatus,'ALL') AS status,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY flag, status"""),

    sqlKey("agg_grouping_sets",
      """SELECT COALESCE(o_orderstatus,'ALL') AS status,
        |  COALESCE(o_orderpriority,'ALL') AS priority, count(*) AS cnt
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus),(o_orderpriority),())
        |ORDER BY status, priority"""),

    // Explicit pivot value list ⇒ deterministic output schema.
    q("agg_pivot",
      """WITH low10 AS (SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT 10)
        |SELECT e.user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events e JOIN low10 u ON e.user_id = u.user_id
        |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val ev = T.t(s, dir, "events")
      val low10 = ev.select("user_id").distinct().orderBy("user_id").limit(10)
      val types = Seq("click", "error", "purchase", "signup", "view")
      ev.join(broadcast(low10), "user_id")
        .groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("user_id")
    },

    sqlKey("agg_distinct_rows",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY 1,2""")
  )
}
