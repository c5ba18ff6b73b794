package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-N (round 3) — relational depth beyond the §2-B/C/D core:
  * correlated scalar subqueries, order-statistic aggregates, exact moment
  * statistics, bitwise decode, and wide→long reshaping.
  *
  * Scale notes: the correlated subquery decorrelates to a shuffle-on-key
  * agg + join (Catalyst RewriteCorrelatedScalarSubquery — no per-row
  * re-execution); median-by-selection is a single window pass; the exact
  * variance is two decimal sums (map-side partial aggregation, no second
  * pass over the data, immune to summation order at any partition count).
  */
object GroupRelational {

  val defs: Seq[Q] = Seq(
    // True correlated scalar subquery through the SQL surface: orders priced
    // above their customer's average. Catalyst decorrelates this into
    // agg+join; the DataFrame equivalent of that rewrite is what runs.
    sqlKey("subquery_correlated_scalar",
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders o
        |WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) >
        |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |   FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey"""),

    // Discrete median by explicit rank selection (lower median, rn =
    // floor((n+1)/2)) — pure row selection, no interpolation arithmetic to
    // diverge across engines (percentile_cont association order differs).
    sqlKey("agg_median_disc",
      """WITH r AS (SELECT o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS p,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT o_orderpriority, p AS median_lo, CAST(n AS BIGINT) AS n_orders
        |FROM r WHERE rn = CAST(floor((n+1)/2.0) AS BIGINT)
        |ORDER BY o_orderpriority"""),

    // Exact sample variance / stddev from decimal power sums:
    // var = (n·Σx² − (Σx)²) / (n·(n−1)). Both sums are exact decimals
    // (x is 2dp ⇒ x² is exact 4dp), so the double formula is the same IEEE
    // op sequence on bit-identical operands in both engines — unlike
    // var_samp/stddev_samp built-ins, whose streaming update order differs.
    sqlKey("agg_variance_exact",
      """WITH s AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS nn,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(nn AS BIGINT) AS n,
        |  (nn * sx2 - sx * sx) / (nn * (nn - 1)) AS var_samp,
        |  sqrt((nn * sx2 - sx * sx) / (nn * (nn - 1))) AS stddev_samp
        |FROM s ORDER BY l_returnflag"""),

    // Bitwise decode surface (dbsuite reads coded catalog flag columns):
    // AND/OR/XOR/shifts/popcount on BIGINT — exact integer parity.
    q("scalar_bitwise_ops",
      """SELECT p_partkey,
        |  p_partkey & 255 AS band,
        |  p_partkey | 4096 AS orv,
        |  xor(p_partkey, CAST(p_size AS BIGINT)) AS xo,
        |  CAST(bit_count(p_partkey) AS INT) AS popcnt,
        |  p_partkey << 3 AS shl,
        |  p_partkey >> 2 AS shr
        |FROM part ORDER BY p_partkey LIMIT 500""") { (s, dir) =>
      T.t(s, dir, "part")
        .select(
          col("p_partkey"),
          col("p_partkey").bitwiseAND(lit(255L)).as("band"),
          col("p_partkey").bitwiseOR(lit(4096L)).as("orv"),
          col("p_partkey").bitwiseXOR(col("p_size").cast(LongType)).as("xo"),
          bit_count(col("p_partkey")).as("popcnt"),
          shiftleft(col("p_partkey"), 3).as("shl"),
          shiftright(col("p_partkey"), 2).as("shr"))
        .orderBy("p_partkey")
        .limit(500)
    },

    // Multi-quantile by rank selection (p25/p50/p75), same
    // no-interpolation rationale as agg_median_disc: target rank =
    // floor(q/100·(n−1))+1, and 0.25/0.5/0.75 are exact binary doubles.
    q("agg_quantiles_disc",
      """WITH r AS (SELECT o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS p,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders),
        |qs AS (SELECT CAST(unnest([25, 50, 75]) AS INT) AS q)
        |SELECT o_orderpriority, q, p AS value
        |FROM r CROSS JOIN qs
        |WHERE rn = CAST(floor(q/100.0*(n-1)) + 1 AS BIGINT)
        |ORDER BY o_orderpriority, q""") { (s, dir) =>
      val part = Window.partitionBy("o_orderpriority")
      T.t(s, dir, "orders")
        .withColumn("pd", col("o_totalprice").cast(T.dec))
        .withColumn("rn", row_number().over(part.orderBy("pd", "o_orderkey")))
        .withColumn("n", count(lit(1)).over(part))
        .withColumn("q", explode(array(lit(25), lit(50), lit(75))))
        .filter(col("rn") ===
          (floor(col("q") / 100.0 * (col("n") - 1)) + 1).cast(LongType))
        .select(col("o_orderpriority"), col("q"),
          col("pd").cast(DoubleType).as("value"))
        .orderBy("o_orderpriority", "q")
    },

    // Ordered string aggregation (LISTAGG/string_agg): sorted collect keeps
    // the result independent of row arrival order at any parallelism.
    q("agg_string_agg_sorted",
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      T.t(s, dir, "region")
        .join(T.t(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
        .orderBy("r_name")
    },

    // Deterministic mode: most frequent priority per status, count-desc then
    // value-asc tie-break — built-in `mode()` picks ties arbitrarily.
    sqlKey("agg_mode_by_count",
      """SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt FROM (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY count(*) DESC, o_orderpriority) AS rn
        |  FROM orders GROUP BY 1,2)
        |WHERE rn = 1 ORDER BY o_orderstatus"""),

    // first/last/nth over an explicit unbounded frame, one row per user.
    sqlKey("window_first_last_nth",
      """SELECT user_id, first_et, last_et, second_et FROM (
        |  SELECT user_id,
        |    first_value(event_type) OVER w AS first_et,
        |    last_value(event_type) OVER w AS last_et,
        |    nth_value(event_type, 2) OVER w AS second_et,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |WHERE rn = 1 ORDER BY user_id"""),

    // String-function depth beyond scalar_string_funcs: regex global
    // replace, translate, reverse, repeat, position, left/right.
    q("scalar_string_advanced",
      """SELECT p_partkey,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel,
        |  translate(p_brand, '#', '-') AS tbrand,
        |  reverse(p_type) AS rtype,
        |  repeat(substr(p_name, 1, 3), 2) AS rep2,
        |  CAST(strpos(p_type, 'ED') AS INT) AS pos_ed,
        |  left(p_name, 5) AS l5,
        |  right(p_name, 4) AS r4
        |FROM part ORDER BY p_partkey LIMIT 500""") { (s, dir) =>
      T.t(s, dir, "part")
        .select(
          col("p_partkey"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devowel"),
          translate(col("p_brand"), "#", "-").as("tbrand"),
          reverse(col("p_type")).as("rtype"),
          repeat(substring(col("p_name"), 1, 3), 2).as("rep2"),
          instr(col("p_type"), "ED").cast(IntegerType).as("pos_ed"),
          expr("left(p_name, 5)").as("l5"),
          expr("right(p_name, 4)").as("r4"))
        .orderBy("p_partkey")
        .limit(500)
    },

    // Wide→long reshape (unpivot/melt) via stack: per-priority stats as
    // (metric, value) rows — the tall shape feature pipelines feed on.
    q("agg_unpivot_long",
      """WITH w AS (SELECT o_orderpriority,
        |    CAST(count(*) AS DOUBLE) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |    CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, metric, value FROM (
        |  SELECT o_orderpriority, 'cnt' AS metric, cnt AS value FROM w
        |  UNION ALL SELECT o_orderpriority, 'max_price', max_price FROM w
        |  UNION ALL SELECT o_orderpriority, 'sum_price', sum_price FROM w)
        |ORDER BY o_orderpriority, metric""") { (s, dir) =>
      T.t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).cast(DoubleType).as("cnt"),
          T.dsum(col("o_totalprice")).as("sum_price"),
          max(col("o_totalprice").cast(T.dec)).cast(DoubleType).as("max_price"))
        .selectExpr("o_orderpriority",
          "stack(3, 'cnt', cnt, 'max_price', max_price, 'sum_price', sum_price) AS (metric, value)")
        .orderBy("o_orderpriority", "metric")
    }
  )
}
