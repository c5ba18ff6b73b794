package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-B — projection, filter, predicates.
  * Catalog queries filter by schema/type flags (dbsuite input plugins [P2]);
  * all predicates here are Catalyst-pushable built-ins.
  */
object GroupFilter {

  val defs: Seq[Q] = Seq(
    // (l_orderkey, l_linenumber) is NOT unique in the fixtures — ordering by
    // every projected column makes remaining ties identical rows.
    sqlKey("filter_pred_simple",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount"""),

    sqlKey("filter_pred_compound",
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem
        |WHERE (l_returnflag IN ('A','R') OR NOT (l_linestatus = 'O')) AND l_tax > 0.02
        |GROUP BY 1,2 ORDER BY 1,2"""),

    // Common-subset regex only (Java and RE2 agree): no backrefs/lookaround.
    q("filter_like_regex",
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_type LIKE 'PROMO%' OR regexp_matches(p_name, '^(green|red) ')
        |ORDER BY p_partkey""") { (s, dir) =>
      T.t(s, dir, "part")
        .filter(col("p_type").like("PROMO%") || col("p_name").rlike("^(green|red) "))
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")
    },

    // Three-valued logic over outer-join nulls + null-safe equality (<=>).
    sqlKey("filter_null_semantics",
      """SELECT CASE WHEN l.l_orderkey IS NULL THEN 'no_items' ELSE 'has_items' END AS cls,
        |  count(*) AS cnt, count(l.l_quantity) AS nonnull_qty,
        |  CAST(SUM(CASE WHEN l.l_returnflag IS NOT DISTINCT FROM 'A' THEN 1 ELSE 0 END) AS BIGINT) AS nullsafe_a
        |FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1 ORDER BY 1"""),

    q("project_expressions",
      """WITH r AS (SELECT l_orderkey, l_linenumber,
        |  CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DECIMAL(18,2)) AS revenue
        |  FROM lineitem)
        |SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS line_id,
        |  CAST(revenue AS DOUBLE) AS revenue,
        |  CASE WHEN revenue < 1000 THEN 'low'
        |       WHEN revenue < 10000 THEN 'mid'
        |       ELSE 'high' END AS band,
        |  l_orderkey, l_linenumber
        |FROM r ORDER BY l_orderkey, l_linenumber, revenue LIMIT 500""") { (s, dir) =>
      T.t(s, dir, "lineitem")
        .withColumn("revenue",
          (col("l_extendedprice").cast(T.dec) * (lit(1).cast(T.dec) - col("l_discount").cast(T.dec)))
            .cast(T.dec))
        .withColumn("band",
          when(col("revenue") < 1000, "low")
            .when(col("revenue") < 10000, "mid")
            .otherwise("high"))
        .withColumn("revenue", col("revenue").cast(DoubleType))
        .withColumn("line_id",
          concat(col("l_orderkey").cast(StringType), lit("-"), col("l_linenumber").cast(StringType)))
        .select("line_id", "revenue", "band", "l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber", "revenue")
        .limit(500)
    }
  )
}
