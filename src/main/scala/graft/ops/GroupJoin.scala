package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-C — joins.
  * Every SYSCAT catalog extraction in the reference is a join (columns⋈tables
  * etc., dbsuite input plugins [P2]); here each join family is expressed so
  * Catalyst/AQE picks broadcast-hash for dims and sort-merge/shuffled-hash for
  * the big fact sides. Small dims are explicitly `broadcast()`-hinted — at
  * 100 TB the fact side never shuffles for a dim lookup.
  */
object GroupJoin {

  val defs: Seq[Q] = Seq(
    sqlKey("join_inner_equi",
      """SELECT c_mktsegment, count(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1"""),

    // Explicit broadcast of the dim chain: lineitem (the 100 TB fact) never
    // shuffles — plan-shape spec asserts BroadcastHashJoin.
    q("join_broadcast",
      """SELECT r_name, count(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val dim = T.t(s, dir, "supplier")
        .join(broadcast(T.t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(T.t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "r_name")
      T.t(s, dir, "lineitem")
        .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("cnt"), T.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("r_name")
    },

    // TPC-H Q5-shaped star join; AQE/CBO picks the join order.
    sqlKey("join_multiway_star",
      """SELECT n_name,
        |  CAST(CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name"""),

    // 257 orders at sf0.01 have no lineitems (FIXTURES.md quirk) — the
    // left-outer null branch is genuinely exercised.
    sqlKey("join_left_outer",
      """WITH per_order AS (
        |  SELECT o.o_orderkey, o.o_orderstatus, count(l.l_orderkey) AS n_items
        |  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(SUM(CASE WHEN n_items = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
        |  CAST(SUM(n_items) AS BIGINT) AS total_items
        |FROM per_order GROUP BY 1 ORDER BY 1"""),

    sqlKey("join_full_outer",
      """SELECT CASE WHEN c_custkey IS NULL THEN 'right_only'
        |            WHEN o_orderkey IS NULL THEN 'left_only'
        |            ELSE 'both' END AS cls, count(*) AS cnt
        |FROM customer FULL JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1"""),

    sqlKey("join_left_semi",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey"""),

    // Orphan detection: orders with no lineitems (NOT EXISTS). Note that at
    // sf0.01 every customer has orders, so the anti-join is run on the
    // deliberately-orphaned orders→lineitem edge.
    sqlKey("join_left_anti",
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey"""),

    // Mixed equi+range theta join: hash on brand, residual range filter.
    // The theta join runs on the AGGREGATED (brand, size) domain spine,
    // not the row-level table: pairs-with-smaller-size per brand is
    // Σ_{s1<s2} c(s1)·c(s2), so aggregate first (|brands|×|sizes| rows —
    // 1,250 at any sf) and range-join the spine with counts attached.
    // Identical pair counts, and the quadratic moves from n² to domain²:
    // the r11 sf1 probe measured the row-level form at 53× for ×10 data
    // (8·10⁸ enumerated pairs); this form is flat. The range-predicate
    // join the key exists to demonstrate is still the plan's join.
    q("join_theta_range",
      """SELECT p1.p_brand, count(*) AS n_pairs
        |FROM part p1 JOIN part p2
        |  ON p1.p_brand = p2.p_brand AND p1.p_size < p2.p_size
        |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val agg = T.t(s, dir, "part")
        .groupBy(col("p_brand").as("b"), col("p_size").as("sz"))
        .agg(count(lit(1)).as("c"))
      val a1 = agg.select(col("b").as("b1"), col("sz").as("s1"), col("c").as("c1"))
      val a2 = agg.select(col("b").as("b2"), col("sz").as("s2"), col("c").as("c2"))
      a1.join(a2, col("b1") === col("b2") && col("s1") < col("s2"))
        .groupBy(col("b1").as("p_brand"))
        // decimal interior: c1·c2 products of data-sized cell counts must
        // not cross LONG before the sum (same headroom rule as T.r6)
        .agg(sum(expr("cast(c1 as decimal(38,0)) * c2"))
          .cast(LongType).as("n_pairs"))
        .orderBy("p_brand")
    },

    // As-of backward join: for each purchase, the user's most recent prior
    // click/signup. No native ASOF in Spark SQL — running MAX over the
    // per-user time ordering (ts is monotone in the frame, so max == last
    // non-null) keeps it a single window pass, no shuffle beyond user_id.
    q("join_asof",
      """WITH base AS (
        |  SELECT event_id, user_id, ts, event_type FROM events
        |  WHERE event_type IN ('purchase','click','signup')),
        |w AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    max(CASE WHEN event_type <> 'purchase' THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_ts
        |  FROM base)
        |SELECT event_id, user_id, ts, prior_ts,
        |  (epoch_us(ts) - epoch_us(prior_ts)) // 1000000 AS gap_s
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""") { (s, dir) =>
      val base = T.t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click", "signup"))
        .select("event_id", "user_id", "ts", "event_type")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      base
        .withColumn("prior_ts",
          max(when(col("event_type") =!= "purchase", col("ts"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("prior_ts"),
          expr("(unix_micros(cast(ts as timestamp)) - unix_micros(cast(prior_ts as timestamp))) DIV 1000000")
            .as("gap_s"))
        .orderBy("event_id")
    },

    // Forward as-of: for each purchase, the NEXT non-purchase event's ts
    // (the mirror of join_asof's most-recent-prior) — same single window
    // pass, frame reversed to 1 FOLLOWING .. UNBOUNDED FOLLOWING with min.
    q("join_asof_forward",
      """WITH base AS (
        |  SELECT event_id, user_id, ts, event_type FROM events
        |  WHERE event_type IN ('purchase','click','signup')),
        |w AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    min(CASE WHEN event_type <> 'purchase' THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ts
        |  FROM base)
        |SELECT event_id, user_id, ts, next_ts,
        |  (epoch_us(next_ts) - epoch_us(ts)) // 1000000 AS gap_s
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""") { (s, dir) =>
      val base = T.t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click", "signup"))
        .select("event_id", "user_id", "ts", "event_type")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
      base
        .withColumn("next_ts",
          min(when(col("event_type") =!= "purchase", col("ts"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("next_ts"),
          expr("(unix_micros(cast(next_ts as timestamp)) - unix_micros(cast(ts as timestamp))) DIV 1000000")
            .as("gap_s"))
        .orderBy("event_id")
    },

    sqlKey("join_cross_limited",
      """SELECT r_regionkey, r_name, n_nationkey, n_name
        |FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""")
  )
}
