package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-G — scalar functions: string / date / math / array / map /
  * JSON / generators. Realizes the reference's doc-label formatting and
  * regex-driven tokenizer surface [P2] with codegen'd built-ins (no UDFs).
  *
  * Determinism notes baked in:
  *  - never ROUND a double at a scale where fixture values can tie (2dp data
  *    rounded to 1dp diverges between engines ~10% of rows) — decimal-round
  *    instead; 6dp rounds only on continuous values (ln/pow/cosine).
  *  - DuckDB length()/year()/rank() return BIGINT where Spark returns INT —
  *    the oracle side casts.
  */
object GroupScalar {

  val defs: Seq[Q] = Seq(
    q("scalar_string_funcs",
      """SELECT p_partkey, upper(p_name) AS up_name, lower(p_type) AS lo_type,
        |  CAST(length(p_name) AS INT) AS name_len, substr(p_name, 1, 5) AS name5,
        |  p_brand || '-' || p_type AS brand_type, trim(p_name) AS trimmed,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
        |  replace(p_name, ' ', '_') AS repl,
        |  string_split(p_name, ' ')[1] AS first_tok
        |FROM part ORDER BY p_partkey""") { (s, dir) =>
      T.t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("up_name"),
          lower(col("p_type")).as("lo_type"),
          length(col("p_name")).as("name_len"),
          substring(col("p_name"), 1, 5).as("name5"),
          concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"),
          trim(col("p_name")).as("trimmed"),
          lpad(col("p_partkey").cast(StringType), 8, "0").as("padded"),
          regexp_replace(col("p_name"), " ", "_").as("repl"),
          element_at(split(col("p_name"), " "), 1).as("first_tok"))
        .orderBy("p_partkey")
    },

    q("scalar_regexp_extract",
      """SELECT CAST(regexp_extract(p_brand, 'Brand#(\d+)', 1) AS INT) AS brand_num,
        |  count(*) AS cnt,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      T.t(s, dir, "part")
        .withColumn("brand_num",
          regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).cast(IntegerType))
        .groupBy("brand_num")
        .agg(count(lit(1)).as("cnt"), T.dsum(col("p_retailprice")).as("sum_price"))
        .orderBy("brand_num")
    },

    q("scalar_date_funcs",
      """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
        |  count(*) AS cnt,
        |  min(CAST(date_trunc('month', o_orderdate) AS DATE)) AS first_day,
        |  max(last_day(CAST(o_orderdate AS DATE))) AS last_d,
        |  CAST(min(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS INT) AS min_days,
        |  min(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE)) AS plus30
        |FROM orders GROUP BY 1,2 ORDER BY 1,2""") { (s, dir) =>
      T.t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(
          count(lit(1)).as("cnt"),
          min(date_trunc("month", col("o_orderdate")).cast(DateType)).as("first_day"),
          max(last_day(col("o_orderdate").cast(DateType))).as("last_d"),
          min(datediff(col("o_orderdate").cast(DateType), lit(java.sql.Date.valueOf("1995-01-01"))))
            .as("min_days"),
          min(date_add(col("o_orderdate").cast(DateType), 30)).as("plus30"))
        .orderBy("y", "m")
    },

    // full-tuple inner ordering: (l_orderkey, l_linenumber) alone is not
    // unique, and a tie straddling the LIMIT would pick different rows
    sqlKey("scalar_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_extendedprice - 1000.0) AS a,
        |  CAST(CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), 1) AS DECIMAL(18,1)) AS DOUBLE) AS r1,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
        |  sqrt(l_quantity) AS sq,
        |  round(ln(l_extendedprice), 6) AS lg,
        |  round(pow(l_quantity, 2), 6) AS pw,
        |  l_linenumber % 3 AS md
        |FROM (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey,
        |      l_suppkey, l_extendedprice, l_quantity, l_discount, l_shipdate LIMIT 100)
        |ORDER BY l_orderkey, l_linenumber, a, sq"""),

    sqlKey("scalar_conditional",
      """WITH oj AS (
        |  SELECT COALESCE(l.l_returnflag, 'NONE') AS cond_flag,
        |    NULLIF(o.o_orderstatus, 'O') AS nf,
        |    CAST(o.o_totalprice AS DECIMAL(18,2)) AS bal
        |  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
        |SELECT cond_flag,
        |  CASE WHEN bal < 50000 THEN 'low' WHEN bal < 150000 THEN 'mid' ELSE 'high' END AS band,
        |  count(*) AS cnt, count(nf) AS n_not_open,
        |  CAST(max(CASE WHEN bal >= 100000 THEN bal ELSE CAST(100000 AS DECIMAL(18,2)) END) AS DOUBLE) AS max_g,
        |  CAST(min(CASE WHEN bal <= 100000 THEN bal ELSE CAST(100000 AS DECIMAL(18,2)) END) AS DOUBLE) AS min_l
        |FROM oj GROUP BY 1,2 ORDER BY 1,2"""),

    // Higher-order functions over the 64-dim embedding arrays; the L2-norm
    // fold runs in list order in both engines, so pre-round bits agree.
    q("array_funcs",
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        |  embedding[1] AS e1, embedding[64] AS e64,
        |  list_max(embedding) AS emax,
        |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS norm6
        |FROM embeddings ORDER BY vec_id""") { (s, dir) =>
      T.t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).as("e1"),
          element_at(col("embedding"), 64).as("e64"),
          array_max(col("embedding")).as("emax"),
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)), 6).as("norm6"))
        .orderBy("vec_id")
    },

    // JSON props parsed to MapType; the oracle extracts with a regex so the
    // check does not depend on DuckDB's JSON extension.
    q("map_funcs",
      """WITH e AS (SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k FROM events)
        |SELECT k % 10 AS bucket, count(*) AS cnt, max(k) AS max_k
        |FROM e GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      T.t(s, dir, "events")
        .select(from_json(col("props"), MapType(StringType, IntegerType)).as("m"))
        .select(element_at(col("m"), "k").as("k"))
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("cnt"), max(col("k")).as("max_k"))
        .orderBy("bucket")
    },

    q("json_funcs",
      """WITH e AS (SELECT event_type,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) % 2 AS parity, value
        |  FROM events)
        |SELECT event_type, parity, count(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY 1,2 ORDER BY 1,2""") { (s, dir) =>
      T.t(s, dir, "events")
        .select(
          col("event_type"),
          (get_json_object(col("props"), "$.k").cast(IntegerType) % 2).as("parity"),
          col("value"))
        .groupBy("event_type", "parity")
        .agg(count(lit(1)).as("cnt"), T.dsum(col("value")).as("sum_value"))
        .orderBy("event_type", "parity")
    },

    // Generator/UDTF surface: explode = built-in Generator expression.
    // C-style formatting parity: Spark format_string and DuckDB printf share
    // the %0Nd / %s / %% subset (floats deliberately excluded — %f rounding
    // is locale/impl-shaded).
    q("scalar_format_funcs",
      """SELECT n_nationkey,
        |  printf('N%03d-%s', n_nationkey, n_name) AS label,
        |  printf('%s/%s [%d%%]', n_name, CAST(n_regionkey AS VARCHAR), n_nationkey) AS path
        |FROM nation ORDER BY n_nationkey""") { (s, dir) =>
      T.t(s, dir, "nation")
        .select(
          col("n_nationkey"),
          format_string("N%03d-%s", col("n_nationkey"), col("n_name")).as("label"),
          format_string("%s/%s [%d%%]", col("n_name"),
            col("n_regionkey").cast(StringType), col("n_nationkey")).as("path"))
        .orderBy("n_nationkey")
    },

    // Null-preserving generator: docs whose filtered token array is EMPTY
    // keep a (doc_id, NULL) row — the outer-generator semantics `explode`
    // silently drops (a classic silent-data-loss bug in token pipelines).
    q("explode_outer_generator",
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split(text,' '), t -> len(t) > 15) AS arr
        |  FROM documents)
        |SELECT doc_id, tok FROM (
        |  SELECT doc_id, unnest(arr) AS tok FROM d WHERE len(arr) > 0
        |  UNION ALL
        |  SELECT doc_id, NULL FROM d WHERE len(arr) = 0 OR arr IS NULL)
        |ORDER BY doc_id, tok NULLS FIRST""") { (s, dir) =>
      T.t(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> length(t) > 15)").as("arr"))
        .select(col("doc_id"), explode_outer(col("arr")).as("tok"))
        .orderBy("doc_id", "tok")
    },

    // Error-tolerant casts: try_cast yields NULL instead of failing the job
    // — the ingest semantics for dirty 100 TB sources (ANSI mode would kill
    // the whole load on one bad row).
    sqlKey("scalar_try_cast",
      """SELECT p_partkey,
        |  TRY_CAST(p_brand AS INTEGER) AS brand_int,
        |  TRY_CAST(substr(p_brand, 7, 2) AS INTEGER) AS brand_num,
        |  TRY_CAST(p_name AS DATE) IS NULL AS not_date
        |FROM part ORDER BY p_partkey LIMIT 500"""),

    q("explode_generator",
      """SELECT tok, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""") { (s, dir) =>
      T.t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
        .limit(20)
    }
  )
}
