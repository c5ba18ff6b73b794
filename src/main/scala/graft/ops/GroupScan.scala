package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-A — scans, sources, sinks.
  *
  * Realizes the reference's catalog-extraction scans and `dbexec`-shaped bulk
  * loads (dbsuite input plugins / bulk loader, [P2] — reference mount empty,
  * see SURVEY.md Provenance Notice) as Spark columnar parquet scans and
  * read→transform→write pipelines.
  */
object GroupScan {

  val defs: Seq[Q] = Seq(
    // (l_orderkey, l_linenumber) is NOT unique — order by every projected
    // column so ties are identical rows (deterministic under LIMIT too).
    sqlKey("scan_parquet",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100"""),

    // Only 2 of 11 lineitem columns touched: Catalyst ColumnPruning must
    // reach the parquet reader (ReadSchema shows 2 fields — plan-shape spec).
    sqlKey("scan_projection_pushdown",
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey LIMIT 200"""),

    q("source_csv_roundtrip",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") { (s, dir) =>
      val out = T.staged("csv", dir) { o =>
        T.t(s, dir, "nation").write.mode("overwrite").option("header", "true").csv(o) }
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.schema(schema).option("header", "true").csv(out)
        .orderBy("n_nationkey")
    },

    q("source_json_roundtrip",
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey") { (s, dir) =>
      val out = T.staged("json", dir) { o =>
        T.t(s, dir, "region").write.mode("overwrite").json(o) }
      val schema = StructType(Seq(
        StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType)))
      s.read.schema(schema).json(out)
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
    },

    // Schema evolution: an old-schema batch and a new-schema batch (added
    // `status` column) land in the same table dir; `mergeSchema` reads the
    // union schema with nulls for the missing column — the long-lived-table
    // reality every 100 TB warehouse faces (rewriting history to add a
    // column is the anti-pattern).
    q("scan_schema_evolution",
      """WITH m AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 'MISSING' ELSE o_orderstatus END AS status
        |  FROM orders)
        |SELECT status, count(*) AS cnt, CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM m GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val out = T.staged("evolve", dir) { o =>
        val orders = T.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").cast(T.dec).as("price"),
            col("o_orderstatus"))
        orders.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "price")
          .write.mode("overwrite").parquet(o)
        orders.filter(col("o_orderkey") % 2 =!= 0)
          .select(col("o_orderkey"), col("price"), col("o_orderstatus").as("status"))
          .write.mode("append").parquet(o)
      }
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy(coalesce(col("status"), lit("MISSING")).as("status"))
        .agg(count(lit(1)).as("cnt"), sum(col("price")).cast(DoubleType).as("sum_price"))
        .orderBy("status")
    },

    // Codec control: zstd-compressed parquet roundtrip (at 100 TB the
    // snappy→zstd trade is real money; the read path is codec-transparent).
    q("source_parquet_zstd_roundtrip",
      """SELECT s_suppkey, s_name, s_nationkey FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
      val out = T.staged("zstd", dir) { o =>
        T.t(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey")
          .write.mode("overwrite").option("compression", "zstd").parquet(o) }
      T.parquet(s, out).orderBy("s_suppkey")
    },

    // Hive-style partitioned layout — the 100 TB at-rest story: downstream
    // scans of one status prune all other partitions.
    q("sink_partitioned_write",
      """SELECT o_orderstatus, count(*) AS cnt FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
      val out = T.staged("part", dir) { o =>
        T.t(s, dir, "orders").write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(o) }
      T.parquet(s, out)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")
    },

    // dbexec-shaped ETL: read raw → derive → reject bad rows → partitioned
    // parquet → read-back audit counts (bulk LOAD with reject handling [P2]).
    q("bulk_load_pipeline",
      """SELECT CAST(year(l_shipdate) AS INT) AS l_year, count(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_quantity > 0 GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val out = T.staged("bulk", dir) { o =>
        T.t(s, dir, "lineitem")
          .filter(col("l_quantity") > 0)
          .withColumn("l_year", year(col("l_shipdate")))
          .write.mode("overwrite").partitionBy("l_year").parquet(o) }
      T.parquet(s, out)
        .groupBy("l_year")
        .agg(count(lit(1)).as("cnt"), T.dsum(col("l_quantity")).as("sum_qty"))
        .select(col("l_year").cast(IntegerType).as("l_year"), col("cnt"), col("sum_qty"))
        .orderBy("l_year")
    },

    // Custom DataSource V2 connector (graft.sources.SeqSource) — the
    // extension point a production source plugs into: TableProvider →
    // ScanBuilder with genuine column pruning and id-range filter
    // PUSHDOWN (the `id >= 25000` below narrows the generated range at
    // plan time; accepted filters are consumed, not re-applied), split
    // into 8 InputPartitions so the scan parallelizes like a file
    // source. The generated cell values are pure integer arithmetic,
    // so DuckDB replays the identical table from range() — the source
    // itself is what's under test.
    q("source_custom_dsv2",
      """WITH t AS (SELECT i AS id, (i * 2654435761) % 1000000007 % 1000
        |    AS v, 'c' || CAST(i % 7 AS VARCHAR) AS cat
        |  FROM range(0, 100000) r(i) WHERE i >= 25000)
        |SELECT cat, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(v) AS BIGINT) AS sum_val,
        |  CAST(min(id) AS BIGINT) AS min_id, CAST(max(id) AS BIGINT) AS max_id
        |FROM t GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      s.read.format("graft.sources.SeqSource")
        .option("rows", "100000").option("parts", "8").load()
        .where(col("id") >= 25000L)
        .groupBy("cat")
        .agg(count(lit(1)).as("n"), sum("val").as("sum_val"),
          min("id").as("min_id"), max("id").as("max_id"))
        .orderBy("cat")
    }
  )
}
