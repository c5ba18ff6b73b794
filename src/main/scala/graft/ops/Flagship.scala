package graft.ops

import graft.T.{Q, sqlKey}

/** M0 flagship (SURVEY.md §7): TPC-H Q3-shaped
  * customer(BUILDING) ⋈ orders(<1996-01-01) ⋈ lineitem, decimal revenue per
  * order, top-10. Proves scan→filter→join→agg→sort→limit end-to-end and is
  * `SparkEntry.entry`'s smoke query.
  */
object Flagship {

  val defs: Seq[Q] = Seq(
    // exact decimal arithmetic: 2dp×2dp products land on half-cent ties,
    // where double→decimal cast rounding diverges between engines; the
    // final DOUBLE cast of the exact cents is engine-identical (T.dsum note).
    // Plan: the joins broadcast the filtered customer dim; lineitem never
    // shuffles before the partial agg.
    sqlKey("flagship_q3",
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate, o_orderpriority,
        |  CAST(CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""")
  )
}
