package graft.ops

import graft.T.{Q, sqlKey}

/** SURVEY.md §2-F — sort / limit / set ops.
  * Every reference doc listing is sorted [P2]; ORDER BY+LIMIT compiles to
  * TakeOrderedAndProject (per-partition top-k, no global sort).
  */
object GroupSortSet {

  val defs: Seq[Q] = Seq(
    sqlKey("sort_multikey",
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey LIMIT 50"""),

    // Spark defaults NULLS FIRST for ASC, DuckDB NULLS LAST — both sides
    // state the placement explicitly (determinism rule §2.4).
    sqlKey("sort_nulls_ordering",
      """WITH per AS (
        |  SELECT o.o_orderkey, max(CAST(l.l_shipdate AS DATE)) AS last_ship
        |  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1)
        |SELECT o_orderkey, last_ship FROM per
        |ORDER BY last_ship ASC NULLS FIRST, o_orderkey LIMIT 100"""),

    sqlKey("setop_union_all",
      """SELECT event_id, event_type, user_id FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, event_type, user_id FROM events WHERE event_type = 'view'
        |ORDER BY event_id"""),

    sqlKey("setop_union_distinct",
      """SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
        |UNION
        |SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY n_name"""),

    sqlKey("setop_intersect",
      """SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
        |INTERSECT
        |SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY n_name"""),

    sqlKey("setop_except",
      """SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
        |EXCEPT
        |SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY n_name""")
  )

}
