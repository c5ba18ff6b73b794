package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SURVEY.md §2-P (round 4) — data-quality / constraint audit surface.
  *
  * dbsuite's object model carries PrimaryKey/ForeignKey/UniqueKey/Check
  * constraint objects per table (upstream `dbsuite/db/`, SURVEY.md §1.1 [P2])
  * and its doc output renders constraint health; here the same constraint
  * catalog is realized as distributed audits a 100 TB lakehouse would run
  * after every load: PK uniqueness, FK orphan counts, and check-constraint
  * violation counts.
  *
  * Scale notes: each PK audit is one map-side-partial count-distinct-shaped
  * aggregate (`count(*)` vs `count(distinct key)` — the distinct expands but
  * partials shrink the shuffle to #keys); each FK audit is one LEFT ANTI
  * join, broadcast when the parent side is a dim; check audits are stateless
  * single-pass conditional counts (no shuffle beyond the final 1-row agg).
  * All audits over one table can share a single scan via conditional
  * aggregation — done here for the check rules.
  */
object GroupQuality {

  val defs: Seq[Q] = Seq(
    // PK/unique-key uniqueness audit per table. lineitem's nominal composite
    // key (l_orderkey, l_linenumber) is deliberately NOT unique in the
    // fixtures (FIXTURES.md) — the audit surfaces exactly that.
    sqlKey("dq_pk_uniqueness",
      """SELECT * FROM (
        |  SELECT 'customer' AS tbl, count(*) AS n_rows,
        |    count(DISTINCT c_custkey) AS n_keys,
        |    count(*) - count(DISTINCT c_custkey) AS dup_rows FROM customer
        |  UNION ALL
        |  SELECT 'lineitem', count(*),
        |    count(DISTINCT (l_orderkey, l_linenumber)),
        |    count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
        |  UNION ALL
        |  SELECT 'orders', count(*), count(DISTINCT o_orderkey),
        |    count(*) - count(DISTINCT o_orderkey) FROM orders
        |  UNION ALL
        |  SELECT 'part', count(*), count(DISTINCT p_partkey),
        |    count(*) - count(DISTINCT p_partkey) FROM part
        |  UNION ALL
        |  SELECT 'supplier', count(*), count(DISTINCT s_suppkey),
        |    count(*) - count(DISTINCT s_suppkey) FROM supplier
        |) ORDER BY tbl"""),

    // FK orphan audit over every referential edge of the star schema: child
    // rows whose parent key does not exist (LEFT ANTI join per edge).
    // Broadcast is hinted ONLY for the fixed-cardinality parents
    // (nation=25, region=5 — constant at any SF); orders/customer/part/
    // supplier grow linearly with scale, so those edges ship a key-only
    // projection and let Spark pick the strategy (AQE broadcasts them at
    // fixture scale, shuffles them at 100 TB instead of OOMing the driver).
    q("dq_fk_orphans",
      """SELECT * FROM (
        |  SELECT 'customer.c_nationkey->nation' AS edge, count(*) AS orphans
        |    FROM customer WHERE NOT EXISTS
        |    (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey->orders', count(*)
        |    FROM lineitem WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part', count(*)
        |    FROM lineitem WHERE NOT EXISTS
        |    (SELECT 1 FROM part WHERE p_partkey = l_partkey)
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey->supplier', count(*)
        |    FROM lineitem WHERE NOT EXISTS
        |    (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
        |  UNION ALL
        |  SELECT 'nation.n_regionkey->region', count(*)
        |    FROM nation WHERE NOT EXISTS
        |    (SELECT 1 FROM region WHERE r_regionkey = n_regionkey)
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer', count(*)
        |    FROM orders WHERE NOT EXISTS
        |    (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |  UNION ALL
        |  SELECT 'supplier.s_nationkey->nation', count(*)
        |    FROM supplier WHERE NOT EXISTS
        |    (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey)
        |) ORDER BY edge""") { (s, dir) =>
      def orphans(edge: String, child: DataFrame, childKey: String,
                  parent: DataFrame, parentKey: String,
                  bcastParent: Boolean): DataFrame = {
        val p = parent.select(parentKey)
        child.join(if (bcastParent) broadcast(p) else p,
            col(childKey) === col(parentKey), "left_anti")
          .agg(count(lit(1)).as("orphans"))
          .select(lit(edge).as("edge"), col("orphans"))
      }
      val Seq(cu, li, or, na, re, su, pa) =
        Seq("customer", "lineitem", "orders", "nation", "region", "supplier",
          "part").map(T.t(s, dir, _))
      orphans("customer.c_nationkey->nation", cu, "c_nationkey", na, "n_nationkey", bcastParent = true)
        .unionByName(orphans("lineitem.l_orderkey->orders", li, "l_orderkey",
          or, "o_orderkey", bcastParent = false))
        .unionByName(orphans("lineitem.l_partkey->part", li, "l_partkey", pa, "p_partkey", bcastParent = false))
        .unionByName(orphans("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey", bcastParent = false))
        .unionByName(orphans("nation.n_regionkey->region", na, "n_regionkey", re, "r_regionkey", bcastParent = true))
        .unionByName(orphans("orders.o_custkey->customer", or, "o_custkey",
          cu, "c_custkey", bcastParent = false))
        .unionByName(orphans("supplier.s_nationkey->nation", su, "s_nationkey", na, "n_nationkey", bcastParent = true))
        .orderBy("edge")
    },

    // Check-constraint audit: every rule over one table evaluated in a
    // single shared scan via conditional counts (count_if), instead of one
    // pass per rule — at 100 TB the N-rules-one-scan shape is the difference
    // between 1× and N× IO. documents' n_chars-matches-text rule is a real
    // cross-column invariant of the fixture generator.
    // one scan, two single-table lineitem rules as conditional aggregates
    // cross-table rule (ADVICE r4): a lineitem must not ship before its
    // order was placed — needs the orders join (shuffle-on-orderkey at
    // scale; key+date projections only, so AQE may still broadcast).
    sqlKey("dq_check_constraints",
      """SELECT * FROM (
        |  SELECT 'documents.n_chars_eq_len' AS rule,
        |    count(*) FILTER (WHERE n_chars != length(text)) AS violations,
        |    count(*) AS checked FROM documents
        |  UNION ALL
        |  SELECT 'events.type_in_domain',
        |    count(*) FILTER (WHERE event_type NOT IN
        |      ('click','error','purchase','signup','view')), count(*) FROM events
        |  UNION ALL
        |  SELECT 'lineitem.discount_in_0_1',
        |    count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1), count(*)
        |    FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.quantity_positive',
        |    count(*) FILTER (WHERE l_quantity <= 0), count(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.ship_after_order',
        |    count(*) FILTER (WHERE l.l_shipdate < o.o_orderdate), count(*)
        |    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  UNION ALL
        |  SELECT 'orders.totalprice_positive',
        |    count(*) FILTER (WHERE o_totalprice <= 0), count(*) FROM orders
        |) ORDER BY rule""")
  )
}
