package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-O (round 3) — ETL/maintenance surface around the bulk-load
  * core (dbsuite's domain is bulk load + maintenance scripting): date-spine
  * gap fill, engine-portable deterministic sampling, MERGE-style upsert, and
  * CDC latest-record compaction.
  *
  * Scale notes: the spine is generated (no scan) and the daily agg is
  * map-side partial; hash sampling is a stateless per-row filter that pushes
  * to the scan (no shuffle, samples identically on any cluster layout);
  * the upsert is one full-outer shuffle-on-key join (the Delta/Iceberg MERGE
  * physical shape); latest-by-key is the standard window-compaction used to
  * collapse CDC streams, one shuffle on the key.
  */
object GroupEtl {

  val defs: Seq[Q] = Seq(
    // Calendar gap fill: generated 1995 date spine LEFT JOIN daily order
    // counts — missing days surface as explicit zeros (time-series ETL).
    q("etl_gap_fill_spine",
      """WITH spine AS (SELECT CAST(unnest(generate_series(
        |    DATE '1995-01-01', DATE '1995-12-31', INTERVAL 1 DAY)) AS DATE) AS day),
        |d AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS c
        |  FROM orders
        |  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
        |  GROUP BY 1)
        |SELECT spine.day, CAST(COALESCE(c, 0) AS BIGINT) AS cnt
        |FROM spine LEFT JOIN d USING (day) ORDER BY day""") { (s, dir) =>
      val spine = s.range(1)
        .select(explode(expr(
          "sequence(date'1995-01-01', date'1995-12-31', interval 1 day)")).as("day"))
      val daily = T.t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(java.sql.Date.valueOf("1995-01-01"))
          && col("o_orderdate") < lit(java.sql.Date.valueOf("1996-01-01")))
        .groupBy(col("o_orderdate").cast(DateType).as("day"))
        .agg(count(lit(1)).as("c"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("c"), lit(0L)).cast(LongType).as("cnt"))
        .orderBy("day")
    },

    // Deterministic hash sampling: md5 of the key → first 8 hex digits →
    // integer → mod 10. Unlike TABLESAMPLE/rand(seed), the sample is a pure
    // function of the data — identical across engines, partitionings, and
    // cluster sizes, which is what makes sampled pipelines reproducible.
    q("etl_sample_hash",
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders
        |WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0
        |ORDER BY o_orderkey""") { (s, dir) =>
      T.t(s, dir, "orders")
        .filter(
          conv(substring(md5(col("o_orderkey").cast(StringType)), 1, 8), 16, 10)
            .cast(LongType) % 10 === 0)
        .select(col("o_orderkey"),
          col("o_totalprice").cast(T.dec).cast(DoubleType).as("price"))
        .orderBy("o_orderkey")
    },

    // MERGE-style upsert, emulated the way Delta/Iceberg execute it: a
    // full-outer join of the current snapshot with an updates batch, new
    // values taking precedence. current = orders with key % 10 != 0;
    // updates = orders with key % 3 = 0 repriced +100. Output is the
    // merge audit: per action (insert/update/keep) row count + final value.
    sqlKey("etl_merge_upsert",
      """WITH cur AS (SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS v
        |  FROM orders WHERE o_orderkey % 10 != 0),
        |upd AS (SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) + 100 AS v
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |m AS (SELECT COALESCE(upd.k, cur.k) AS k, COALESCE(upd.v, cur.v) AS v,
        |    CASE WHEN cur.k IS NULL THEN 'insert'
        |         WHEN upd.k IS NULL THEN 'keep' ELSE 'update' END AS action
        |  FROM cur FULL JOIN upd ON cur.k = upd.k)
        |SELECT action, count(*) AS cnt, CAST(SUM(v) AS DOUBLE) AS sum_value
        |FROM m GROUP BY 1 ORDER BY 1"""),

    // Bulk load with reject handling (dbsuite LOAD's reject file): one pass
    // classifies rows, the quarantine layout is a partitioned-by-class
    // write (staged once per JVM), and the declared output is the per-class
    // audit read back from that quarantine store.
    q("etl_reject_quarantine",
      """WITH c AS (SELECT CASE WHEN l_quantity > 45 THEN 'reject_qty'
        |    WHEN l_discount > 0.08 THEN 'reject_disc'
        |    ELSE 'ok' END AS klass, l_quantity
        |  FROM lineitem)
        |SELECT klass, count(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM c GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val out = T.staged("quarantine", dir) { o =>
        T.t(s, dir, "lineitem")
          .withColumn("klass",
            when(col("l_quantity") > 45, "reject_qty")
              .when(col("l_discount") > 0.08, "reject_disc")
              .otherwise("ok"))
          .write.mode("overwrite").partitionBy("klass").parquet(o) }
      T.parquet(s, out)
        .groupBy("klass")
        .agg(count(lit(1)).as("cnt"), T.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("klass")
    },

    // SCD2 interval construction: each order opens a validity interval that
    // the customer's next order closes (lead), the last one open-ended —
    // the dimension-history shape warehouse loads maintain.
    sqlKey("etl_scd2_intervals",
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS valid_from,
        |  COALESCE(lead(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
        |    ORDER BY CAST(o_orderdate AS DATE), o_orderkey), DATE '9999-12-31') AS valid_to
        |FROM orders ORDER BY o_custkey, valid_from, o_orderkey"""),

    // Partition backfill via dynamic partition overwrite: rewrite ONE
    // partition ('F', repriced +10) in place while every other partition's
    // files are untouched — the idempotent-backfill primitive for
    // partitioned 100 TB tables (overwriting the whole table to fix one
    // day/status is the anti-pattern). The declared output is the
    // post-backfill audit read back from the table.
    q("etl_backfill_partition_swap",
      """WITH merged AS (SELECT o_orderstatus,
        |    CASE WHEN o_orderstatus = 'F'
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10
        |      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS v
        |  FROM orders)
        |SELECT o_orderstatus, count(*) AS cnt, CAST(SUM(v) AS DOUBLE) AS sum_price
        |FROM merged GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val out = T.staged("backfill", dir) { o =>
        val orders = T.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").cast(T.dec).as("price"),
            col("o_orderstatus"))
        orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(o)
        // backfill: replace just the 'F' partition (dynamic mode leaves the
        // other partitions' files in place)
        orders.filter(col("o_orderstatus") === "F")
          // re-cast: `+ 10` widens to DECIMAL(19,2), which would leave this
          // partition with a different parquet physical type than the rest
          // of the table (schema inference then depends on partition order)
          .withColumn("price", (col("price") + 10).cast(T.dec))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("o_orderstatus").parquet(o)
      }
      T.parquet(s, out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("price")).cast(DoubleType).as("sum_price"))
        .orderBy("o_orderstatus")
    },

    // CDC compaction: latest record per key (newest o_orderdate, orderkey
    // desc tie-break) — the window pass that collapses a change stream into
    // a current-state snapshot.
    sqlKey("etl_latest_by_key",
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate,
        |  o_orderstatus
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1
        |ORDER BY o_custkey""")
  )
}
