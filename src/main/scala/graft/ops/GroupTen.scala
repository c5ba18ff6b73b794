package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-W (round 10) — observability, robust statistics & index
  * audits: the operators that close the loop AROUND a production pipeline —
  * evaluating a classifier (confusion metrics), auditing an ANN index
  * (recall@k vs exact ground truth), auditing physical layout (parquet
  * row-group stats), robust outlier fences (IQR), resampled uncertainty
  * (deterministic bootstrap CI), rolling/rank correlation
  * (windowed Pearson, Kendall tau-b), corpus-law fits (Zipf slope, hapax),
  * network/url scalar surfaces, M4 time-series downsampling, Iceberg-style
  * delete-vector application, and temperature-weighted corpus sampling.
  *
  * Determinism rules follow §2-T/U/V: exact integer or decimal moments
  * wherever possible; every float boundary is either a selection (min/max/
  * arg_min of stored doubles), a single IEEE op on bit-identical operands,
  * or a post-sqrt/ln value rounded at 6dp (far from representability
  * ties); integer rationals go through T.r6/r6s (pure-integer HALF_UP);
  * integer aggregates are CAST AS BIGINT in the oracle (no HUGEINT output).
  */
object GroupTen {

  val defs: Seq[Q] = Seq(

    // Rolling Pearson correlation — the windowed form of agg_corr_covar:
    // corr(quantity, extendedprice) over the trailing 20 rows per supplier
    // (price/mix drift monitoring). All five windowed moments are EXACT
    // integer-cent sums (quantity/price are 2dp-exact doubles, FIXTURES.md),
    // so the only float math is the final num/sqrt·sqrt division on
    // bit-identical operands, rounded at 6dp. One shuffle on l_suppkey; the
    // frame is rows-bounded so state per partition is O(20) — at 100 TB this
    // is the standard partitioned running-window shape.
    q("window_rolling_corr",
      """WITH li AS (SELECT l_suppkey,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |    l_shipdate, l_orderkey, l_linenumber
        |  FROM lineitem WHERE l_suppkey <= 2),
        |w AS (SELECT l_suppkey,
        |    row_number() OVER win AS rn,
        |    count(*) OVER winf AS n,
        |    sum(x) OVER winf AS sx, sum(y) OVER winf AS sy,
        |    sum(x*x) OVER winf AS sxx, sum(y*y) OVER winf AS syy,
        |    sum(x*y) OVER winf AS sxy
        |  FROM li
        |  WINDOW win AS (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber, x, y),
        |    winf AS (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber, x, y
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT l_suppkey, CAST(rn AS BIGINT) AS rn,
        |  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
        |    round(CAST(n*sxy - sx*sy AS DOUBLE) /
        |      (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
        |       sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) + 0.0
        |  END AS corr20
        |FROM w WHERE rn >= 20 ORDER BY l_suppkey, rn""") { (s, dir) =>
      val li = T.t(s, dir, "lineitem").filter(col("l_suppkey") <= 2)
        .withColumn("x", (col("l_quantity").cast(T.dec) * 100).cast(LongType))
        .withColumn("y", (col("l_extendedprice").cast(T.dec) * 100).cast(LongType))
      val ord = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("x"), col("y"))
      val win = Window.partitionBy("l_suppkey").orderBy(ord: _*)
      val winf = win.rowsBetween(-19, Window.currentRow)
      li.withColumn("rn", row_number().over(win))
        .withColumn("n", count(lit(1)).over(winf))
        .withColumn("sx", sum(col("x")).over(winf))
        .withColumn("sy", sum(col("y")).over(winf))
        .withColumn("sxx", sum(col("x") * col("x")).over(winf))
        .withColumn("syy", sum(col("y") * col("y")).over(winf))
        .withColumn("sxy", sum(col("x") * col("y")).over(winf))
        .filter(col("rn") >= 20)
        .select(col("l_suppkey"), col("rn").cast(LongType).as("rn"),
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
               col("n") * col("syy") - col("sy") * col("sy") > 0,
            round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)) *
               sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType))), 6)
            + 0.0).as("corr20"))
        .orderBy("l_suppkey", "rn")
    },

    // M4 time-series downsampling (min/max/first/last per pixel-bucket —
    // Jugel et al., VLDB 2014): the lossless-for-rendering reduction every
    // dashboard applies before plotting a 100 TB series. first/last are
    // arg-selections on a composite (time, event_id) BIGINT order key, so
    // every output is a SELECTED stored double — zero float arithmetic.
    // One hash aggregation, partitioned by (day, type): fully parallel.
    q("ts_downsample_m4",
      """SELECT CAST(ts AS DATE) AS d, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(value) AS vmin, max(value) AS vmax,
        |  arg_min(value, (epoch_us(ts) - 1704067200000000) * 1000000 + event_id) AS vfirst,
        |  arg_max(value, (epoch_us(ts) - 1704067200000000) * 1000000 + event_id) AS vlast
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      T.t(s, dir, "events")
        .withColumn("okey",
          (expr("unix_micros(cast(ts as timestamp))") - lit(1704067200000000L))
            * 1000000L + col("event_id"))
        .groupBy(col("ts").cast(DateType).as("d"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"),
          expr("min_by(value, okey)").as("vfirst"),
          expr("max_by(value, okey)").as("vlast"))
        .orderBy("d", "event_type")
    },

    // IQR outlier fences (Tukey) per event_type: quartiles by exact rank
    // selection (the agg_quantiles_disc pattern — no interpolation, doubles
    // only SELECTED), fences q1−1.5·IQR / q3+1.5·IQR computed with the same
    // IEEE op sequence in both engines, outlier share as a pure-integer
    // HALF_UP rational (T.r6). Two passes over events (rank, then classify
    // against the 5-row broadcast fence table) — the same shape at any
    // scale; the rank pass is the only shuffle.
    q("dq_outlier_iqr",
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |qs AS (SELECT event_type, any_value(n) AS n,
        |    min(CASE WHEN rn = CAST(floor(0.25*(n-1)) + 1 AS BIGINT) THEN value END) AS q1,
        |    min(CASE WHEN rn = CAST(floor(0.75*(n-1)) + 1 AS BIGINT) THEN value END) AS q3
        |  FROM r GROUP BY 1),
        |f AS (SELECT event_type, n, q1, q3,
        |    q1 - 1.5*(q3 - q1) AS lo, q3 + 1.5*(q3 - q1) AS hi FROM qs),
        |c AS (SELECT e.event_type,
        |    CAST(sum(CASE WHEN e.value < f.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |    CAST(sum(CASE WHEN e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |  FROM events e JOIN f ON e.event_type = f.event_type GROUP BY 1)
        |SELECT f.event_type, CAST(f.n AS BIGINT) AS n, f.q1, f.q3,
        |  c.n_low, c.n_high,
        |  CAST((2000000*(c.n_low + c.n_high) + f.n) // (2*f.n) AS BIGINT) / 1000000.0 AS pct_out
        |FROM f JOIN c ON f.event_type = c.event_type ORDER BY f.event_type""") { (s, dir) =>
      val e = T.t(s, dir, "events")
      val part = Window.partitionBy("event_type")
      val ranked = e
        .withColumn("rn", row_number().over(part.orderBy("value", "event_id")))
        .withColumn("n", count(lit(1)).over(part))
      val qs = ranked.groupBy("event_type").agg(
        first(col("n")).as("n"),
        min(when(col("rn") ===
          (floor(lit(0.25) * (col("n") - 1)) + 1).cast(LongType), col("value"))).as("q1"),
        min(when(col("rn") ===
          (floor(lit(0.75) * (col("n") - 1)) + 1).cast(LongType), col("value"))).as("q3"))
      val f = qs
        .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
        .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
      val c = e.join(broadcast(f.select("event_type", "lo", "hi")), "event_type")
        .groupBy("event_type").agg(
          sum(when(col("value") < col("lo"), 1).otherwise(0)).cast(LongType).as("n_low"),
          sum(when(col("value") > col("hi"), 1).otherwise(0)).cast(LongType).as("n_high"))
      f.join(c, "event_type")
        .select(col("event_type"), col("n").cast(LongType).as("n"),
          col("q1"), col("q3"), col("n_low"), col("n_high"),
          T.r6("n_low + n_high", "n").as("pct_out"))
        .orderBy("event_type")
    },

    // Classifier evaluation — confusion matrix + precision/recall/F1/
    // accuracy for a rule classifier (predict 'purchase' when value ≥ 50)
    // against the labeled event_type. Every metric is a pure-integer
    // rational through T.r6 — fully exact. One scan, one 4-counter
    // aggregation: the evaluation pass costs one map stage at any scale.
    q("ml_eval_confusion",
      """WITH c AS (SELECT
        |    CAST(sum(CASE WHEN event_type = 'purchase' AND value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN event_type <> 'purchase' AND value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN event_type = 'purchase' AND value < 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN event_type <> 'purchase' AND value < 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM events)
        |SELECT tp, fp, fn, tn,
        |  CAST((2000000*tp + (tp+fp)) // (2*(tp+fp)) AS BIGINT) / 1000000.0 AS precision6,
        |  CAST((2000000*tp + (tp+fn)) // (2*(tp+fn)) AS BIGINT) / 1000000.0 AS recall6,
        |  CAST((2000000*(2*tp) + (2*tp+fp+fn)) // (2*(2*tp+fp+fn)) AS BIGINT) / 1000000.0 AS f1_6,
        |  CAST((2000000*(tp+tn) + (tp+fp+fn+tn)) // (2*(tp+fp+fn+tn)) AS BIGINT) / 1000000.0 AS acc6
        |FROM c""") { (s, dir) =>
      T.t(s, dir, "events")
        .agg(
          sum(when(col("event_type") === "purchase" && col("value") >= 50.0, 1)
            .otherwise(0)).cast(LongType).as("tp"),
          sum(when(col("event_type") =!= "purchase" && col("value") >= 50.0, 1)
            .otherwise(0)).cast(LongType).as("fp"),
          sum(when(col("event_type") === "purchase" && col("value") < 50.0, 1)
            .otherwise(0)).cast(LongType).as("fn"),
          sum(when(col("event_type") =!= "purchase" && col("value") < 50.0, 1)
            .otherwise(0)).cast(LongType).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          T.r6("tp", "tp + fp").as("precision6"),
          T.r6("tp", "tp + fn").as("recall6"),
          T.r6("2*tp", "2*tp + fp + fn").as("f1_6"),
          T.r6("tp + tn", "tp + fp + fn + tn").as("acc6"))
    },

    // IPv4 scalar surface: derive a deterministic address per user
    // (multiplicative hash of user_id), split octets with pure integer
    // div/mod, classify RFC-1918 private ranges, and compute the /24
    // network — the network-analytics scalar kit (bot/abuse pipelines).
    // All integer arithmetic + printf; zero float ops.
    q("scalar_ip_funcs",
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |i AS (SELECT user_id, CAST((CAST(user_id AS HUGEINT) * 2654435761)
        |    % 4294967296 AS BIGINT) AS ip FROM u),
        |o AS (SELECT user_id, ip,
        |    ip // 16777216 AS o1, (ip // 65536) % 256 AS o2,
        |    (ip // 256) % 256 AS o3, ip % 256 AS o4 FROM i)
        |SELECT user_id, CAST(ip AS BIGINT) AS ip,
        |  printf('%d.%d.%d.%d', o1, o2, o3, o4) AS ip_str,
        |  (o1 = 10 OR (o1 = 172 AND o2 BETWEEN 16 AND 31)
        |    OR (o1 = 192 AND o2 = 168)) AS is_private,
        |  CAST(ip - o4 AS BIGINT) AS net24
        |FROM o ORDER BY user_id""") { (s, dir) =>
      T.t(s, dir, "events").select("user_id").distinct()
        .withColumn("ip", T.hash32(col("user_id"), 2654435761L))
        .withColumn("o1", expr("ip div 16777216"))
        .withColumn("o2", expr("(ip div 65536) % 256"))
        .withColumn("o3", expr("(ip div 256) % 256"))
        .withColumn("o4", col("ip") % 256)
        .select(col("user_id"), col("ip").cast(LongType).as("ip"),
          format_string("%d.%d.%d.%d", col("o1"), col("o2"), col("o3"), col("o4"))
            .as("ip_str"),
          (col("o1") === 10 || (col("o1") === 172 && col("o2").between(16, 31)) ||
            (col("o1") === 192 && col("o2") === 168)).as("is_private"),
          (col("ip") - col("o4")).cast(LongType).as("net24"))
        .orderBy("user_id")
    },

    // URL parsing surface: host / path / query-param extraction over a URL
    // synthesized from document fields. Spark side uses the native
    // parse_url expression (codegen'd); the oracle extracts the same
    // components by regex — a pure per-row projection at any scale.
    q("scalar_url_funcs",
      """WITH u AS (SELECT doc_id,
        |    'https://' || source || '.example.com/' || lang || '/doc/' ||
        |      CAST(doc_id AS VARCHAR) || '?sid=' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '&ref=' || source AS url
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_extract(url, '^(\w+)://', 1) AS proto,
        |  regexp_extract(url, '://([^/]+)/', 1) AS host,
        |  regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS path,
        |  regexp_extract(url, 'sid=(\d+)', 1) AS sid,
        |  regexp_extract(url, 'ref=(\w+)', 1) AS ref
        |FROM u WHERE doc_id < 300 ORDER BY doc_id""") { (s, dir) =>
      T.t(s, dir, "documents").filter(col("doc_id") < 300)
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/"), col("lang"), lit("/doc/"), col("doc_id"),
          lit("?sid="), col("doc_id") % 7, lit("&ref="), col("source")))
        .select(col("doc_id"),
          parse_url(col("url"), lit("PROTOCOL")).as("proto"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY"), lit("sid")).as("sid"),
          parse_url(col("url"), lit("QUERY"), lit("ref")).as("ref"))
        .orderBy("doc_id")
    },

    // Zipf's-law fit per language: least-squares slope of ln(freq) vs
    // ln(rank) over the top-200 terms. The transcendental boundary is
    // QUANTIZED immediately (round(ln·10⁶) → BIGINT), so the regression
    // moments are exact integer sums and the slope is a pure-integer
    // rational through T.r6s (DECIMAL(38,0) pre-cast — n·Σxy reaches
    // ~2·10¹⁸ and the HALF_UP scaling exceeds LONG). Token counting is the
    // standard explode+count shuffle; the 200-term fit is per-lang tiny.
    q("text_zipf_slope",
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tc AS (SELECT lang, term, count(*) AS c FROM tok GROUP BY 1, 2),
        |rk AS (SELECT lang, term, c, row_number() OVER (
        |    PARTITION BY lang ORDER BY c DESC, term) AS rn FROM tc),
        |qz AS (SELECT lang, term, c, rn,
        |    CAST(round(ln(CAST(rn AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS y
        |  FROM rk WHERE rn <= 200),
        |m AS (SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x*y) AS sxy, sum(x*x) AS sxx,
        |    min(CASE WHEN rn = 1 THEN term END) AS top_term,
        |    CAST(min(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS top_count
        |  FROM qz GROUP BY 1)
        |SELECT lang, CAST(n AS BIGINT) AS n_terms, top_term, top_count,
        |  (CASE WHEN CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy < 0 THEN -1 ELSE 1 END) *
        |    CAST((2000000 * abs(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy)
        |          + (CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx))
        |      // (2 * (CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx)) AS BIGINT)
        |    / 1000000.0 AS slope6
        |FROM m ORDER BY lang""") { (s, dir) =>
      val tc = T.t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("c"))
      val rk = tc.withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("term"))))
        .filter(col("rn") <= 200)
        .withColumn("x",
          round(expr("ln(cast(rn as double))") * 1000000.0, 0).cast(LongType))
        .withColumn("y",
          round(expr("ln(cast(c as double))") * 1000000.0, 0).cast(LongType))
      rk.groupBy("lang").agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
          min(when(col("rn") === 1, col("term"))).as("top_term"),
          min(when(col("rn") === 1, col("c"))).cast(LongType).as("top_count"))
        .select(col("lang"), col("n").cast(LongType).as("n_terms"),
          col("top_term"), col("top_count"),
          T.r6s("CAST(n*sxy - sx*sy AS DECIMAL(38,0))",
                "CAST(n*sxx - sx*sx AS DECIMAL(38,0))").as("slope6"))
        .orderBy("lang")
    },

    // Hapax-legomena profile per language — the vocabulary-health metrics
    // every corpus report carries: vocabulary size, hapax count (terms
    // occurring once), hapax share and type-token ratio, both pure-integer
    // rationals (T.r6). Same explode+count shuffle as the Zipf fit; the
    // per-term table never leaves the executors (two-level aggregation).
    q("text_hapax_ratio",
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tc AS (SELECT lang, term, count(*) AS c FROM tok GROUP BY 1, 2),
        |m AS (SELECT lang, CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |    CAST(sum(c) AS BIGINT) AS n_tokens
        |  FROM tc GROUP BY 1)
        |SELECT lang, vocab, hapax, n_tokens,
        |  CAST((2000000*hapax + vocab) // (2*vocab) AS BIGINT) / 1000000.0 AS hapax_share,
        |  CAST((2000000*vocab + n_tokens) // (2*n_tokens) AS BIGINT) / 1000000.0 AS type_token
        |FROM m ORDER BY lang""") { (s, dir) =>
      T.t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("c"))
        .groupBy("lang").agg(
          count(lit(1)).cast(LongType).as("vocab"),
          sum(when(col("c") === 1, 1).otherwise(0)).cast(LongType).as("hapax"),
          sum(col("c")).cast(LongType).as("n_tokens"))
        .select(col("lang"), col("vocab"), col("hapax"), col("n_tokens"),
          T.r6("hapax", "vocab").as("hapax_share"),
          T.r6("vocab", "n_tokens").as("type_token"))
        .orderBy("lang")
    },

    // Kendall tau-b per user between event value and the JSON prop k —
    // rank correlation robust to monotone transforms. Pairs come from a
    // per-user self-join (each user has ~67 events at EVERY scale —
    // FIXTURES.md: users scale with sf — so the fan-out is bounded by
    // max-group², not corpus²); concordant/discordant/tie counts are exact
    // integers, and the only float math is the final sqrt-denominator
    // division rounded at 6dp. The 100 TB note: per-key blocked pair
    // counting is the distributable formulation (a global tau would use
    // merge-sort inversion counting). Plan: the pair self-join is a shuffle
    // EQUI-join on user_id; the tie tables are map-side-combined aggs.
    q("stat_kendall_tau",
      """WITH e AS (SELECT user_id, event_id, value,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k FROM events),
        |p AS (SELECT a.user_id,
        |    CAST(sum(CASE WHEN (a.value < b.value AND a.k < b.k)
        |        OR (a.value > b.value AND a.k > b.k) THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(sum(CASE WHEN (a.value < b.value AND a.k > b.k)
        |        OR (a.value > b.value AND a.k < b.k) THEN 1 ELSE 0 END) AS BIGINT) AS nd
        |  FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  GROUP BY 1),
        |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
        |tx AS (SELECT user_id, CAST(sum(t*(t-1)/2) AS BIGINT) AS tx FROM (
        |    SELECT user_id, count(*) AS t FROM e GROUP BY user_id, value) GROUP BY 1),
        |ty AS (SELECT user_id, CAST(sum(t*(t-1)/2) AS BIGINT) AS ty FROM (
        |    SELECT user_id, count(*) AS t FROM e GROUP BY user_id, k) GROUP BY 1)
        |SELECT n.user_id, n.n, p.nc, p.nd,
        |  round(CAST(p.nc - p.nd AS DOUBLE) /
        |    (sqrt(CAST(n.n*(n.n-1)/2 - tx.tx AS DOUBLE)) *
        |     sqrt(CAST(n.n*(n.n-1)/2 - ty.ty AS DOUBLE))), 6) + 0.0 AS tau_b
        |FROM n JOIN p ON n.user_id = p.user_id
        |  JOIN tx ON n.user_id = tx.user_id JOIN ty ON n.user_id = ty.user_id
        |WHERE n.n >= 5 AND n.n*(n.n-1)/2 > tx.tx AND n.n*(n.n-1)/2 > ty.ty
        |ORDER BY n.user_id""") { (s, dir) =>
      val e = T.t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("value"), get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      // r17 (guide §2.5/2.6): the events fixture is ONE parquet split, so
      // without a re-spread the per-user pair fan-out (|group|² rows) and
      // its conditional partial aggregation run in a single task behind a
      // broadcast join (measured 9.0 s honest wall at round start, one
      // core busy). Repartitioning the probe side by user_id costs one
      // narrow row-count-sized shuffle here, and at scale it is FREE: the
      // moment the build side outgrows the broadcast threshold the join
      // needs this exact hash distribution and reuses the exchange.
      val a = e.select(col("user_id"), col("event_id").as("ia"),
        col("value").as("xa"), col("k").as("ka"))
        .repartition(col("user_id"))
      val b = e.select(col("user_id"), col("event_id").as("ib"),
        col("value").as("xb"), col("k").as("kb"))
      val p = a.join(b, Seq("user_id")).filter(col("ia") < col("ib"))
        .groupBy("user_id").agg(
          sum(when((col("xa") < col("xb") && col("ka") < col("kb")) ||
                   (col("xa") > col("xb") && col("ka") > col("kb")), 1)
            .otherwise(0)).cast(LongType).as("nc"),
          sum(when((col("xa") < col("xb") && col("ka") > col("kb")) ||
                   (col("xa") > col("xb") && col("ka") < col("kb")), 1)
            .otherwise(0)).cast(LongType).as("nd"))
      val n = e.groupBy("user_id").agg(count(lit(1)).cast(LongType).as("n"))
      val tx = e.groupBy("user_id", "value").agg(count(lit(1)).as("t"))
        .groupBy("user_id")
        .agg(sum(expr("t*(t-1)/2")).cast(LongType).as("tx"))
      val ty = e.groupBy("user_id", "k").agg(count(lit(1)).as("t"))
        .groupBy("user_id")
        .agg(sum(expr("t*(t-1)/2")).cast(LongType).as("ty"))
      n.join(p, "user_id").join(tx, "user_id").join(ty, "user_id")
        .filter(col("n") >= 5 &&
          expr("n*(n-1)/2") > col("tx") && expr("n*(n-1)/2") > col("ty"))
        .select(col("user_id"), col("n"), col("nc"), col("nd"),
          (round((col("nc") - col("nd")).cast(DoubleType) /
            (sqrt(expr("cast(n*(n-1)/2 - tx as double)")) *
             sqrt(expr("cast(n*(n-1)/2 - ty as double)"))), 6) + 0.0).as("tau_b"))
        .orderBy("user_id")
    },

    // Temperature-weighted corpus sampling (τ = 0.5): per-language
    // allocation ∝ √count, normalized — the multilingual rebalancing step
    // of every LLM data mix (upsamples the tail). The √weights are
    // QUANTIZED to integers immediately, so allocation = floor-division and
    // the largest-remainder top-up ranks INTEGER remainders — the entire
    // allocation is exact across engines. Doc selection inside a language
    // is hash-ordered (multiplicative hash, the epoch-shuffle pattern), so
    // the sample is reproducible at any partitioning. Only per-lang counts
    // and a 5-row allocation table leave the executors before the final
    // rank-filter scan.
    q("pipeline_sample_temperature",
      """WITH lc AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
        |wq AS (SELECT lang, c,
        |    CAST(round(sqrt(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS w
        |  FROM lc),
        |alloc0 AS (SELECT lang, c, w,
        |    CAST((297 * w) // (SELECT sum(w) FROM wq) AS BIGINT) AS a0,
        |    CAST((297 * w) % (SELECT sum(w) FROM wq) AS BIGINT) AS rem
        |  FROM wq),
        |topup AS (SELECT lang, c, a0, rem, row_number() OVER (
        |    ORDER BY rem DESC, lang) AS rr,
        |    297 - (SELECT sum(a0) FROM alloc0) AS leftover
        |  FROM alloc0),
        |alloc AS (SELECT lang, c, CAST(a0 + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |  FROM topup),
        |rk AS (SELECT d.lang, d.doc_id,
        |    len(string_split(d.text, ' ')) AS toks,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY (CAST(d.doc_id AS HUGEINT) * 2654435761)
        |        % 4294967296, d.doc_id) AS rn
        |  FROM documents d),
        |samp AS (SELECT rk.lang, count(*) AS n_sampled,
        |    sum(rk.toks) AS sample_tokens
        |  FROM rk JOIN alloc ON rk.lang = alloc.lang AND rk.rn <= alloc.alloc
        |  GROUP BY 1)
        |SELECT a.lang, CAST(a.c AS BIGINT) AS n_docs, a.alloc,
        |  CAST(s.n_sampled AS BIGINT) AS n_sampled,
        |  CAST(s.sample_tokens AS BIGINT) AS sample_tokens
        |FROM alloc a JOIN samp s ON a.lang = s.lang ORDER BY a.lang""") { (s, dir) =>
      val docs = T.t(s, dir, "documents")
      val lc = docs.groupBy("lang").agg(count(lit(1)).as("c"))
        .withColumn("w",
          round(sqrt(col("c").cast(DoubleType)) * 1000000.0, 0).cast(LongType))
      // 5-row driver-side allocation: exact integer floor-division +
      // largest-remainder (integer remainders — no float comparison).
      val wsum = Window.partitionBy()
      val alloc = lc
        .withColumn("tw", sum(col("w")).over(wsum))
        .withColumn("a0", expr("(297 * w) div tw"))
        .withColumn("rem", (lit(297) * col("w")) % col("tw"))
        .withColumn("rr", row_number().over(
          Window.orderBy(col("rem").desc, col("lang"))))
        .withColumn("leftover", lit(297) - sum(col("a0")).over(wsum))
        .withColumn("alloc",
          (col("a0") + when(col("rr") <= col("leftover"), 1).otherwise(0))
            .cast(LongType))
        .select(col("lang"), col("c"), col("alloc"))
      val rk = docs
        .withColumn("toks", size(split(col("text"), " ")))
        .withColumn("rn", row_number().over(Window.partitionBy("lang")
          .orderBy(T.hash32(col("doc_id"), 2654435761L), col("doc_id"))))
      val samp = rk.join(broadcast(alloc), Seq("lang"))
        .filter(col("rn") <= col("alloc"))
        .groupBy("lang").agg(count(lit(1)).cast(LongType).as("n_sampled"),
          sum(col("toks")).cast(LongType).as("sample_tokens"))
      alloc.join(samp, "lang")
        .select(col("lang"), col("c").cast(LongType).as("n_docs"),
          col("alloc"), col("n_sampled"), col("sample_tokens"))
        .orderBy("lang")
    },

    // Local clustering coefficient — per-node triangle density
    // 2·t/(d·(d−1)) over the part co-purchase graph, top-25. Triangles are
    // enumerated ONCE each via the oriented edge-iterator (the
    // graph_triangle_count machinery: out-degree bounded at O(√m), common
    // out-neighbors by codegen'd array_intersect), then exploded into the
    // three node credits. The coefficient is a pure-integer rational
    // (T.r6), so ordering is exact; degree is the UNDIRECTED degree.
    q("graph_clustering_coeff",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |tr AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c FROM e e1
        |  JOIN e e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
        |  JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
        |cr AS (SELECT a AS node FROM tr UNION ALL SELECT b FROM tr
        |  UNION ALL SELECT c FROM tr),
        |t AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM cr GROUP BY 1),
        |dg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        |    SELECT pa AS node FROM e UNION ALL SELECT pb FROM e) GROUP BY 1)
        |SELECT dg.node, dg.d, COALESCE(t.tri, 0) AS tri,
        |  CAST((2000000*(2*COALESCE(t.tri, 0)) + dg.d*(dg.d-1))
        |    // (2*(dg.d*(dg.d-1))) AS BIGINT) / 1000000.0 AS coeff
        |FROM dg LEFT JOIN t ON dg.node = t.node
        |WHERE dg.d >= 2
        |ORDER BY coeff DESC, dg.node LIMIT 25""") { (s, dir) =>
      // the staged oriented-adjacency index (shared with triangle count,
      // the degree histogram, and assortativity) replaces the
      // per-invocation degree shuffle + orientation joins + collect_list:
      // the oriented edge stream is DERIVED from the index by explode
      // (nu rides along — no join to attach the src side), so the
      // remaining per-invocation plan is one AQE-sized hash join for the
      // dst arrays, the intersect, and the credit aggregation.
      graft.functions.GraftFunctions.register(s)
      val adj = GroupSeven.orientedAdj(s, dir)
      val deg = GroupSeven.pairDegree(s, dir)
      // per oriented edge (src, dst): common = out-neighbors closing a
      // triangle at this edge — each triangle surfaces exactly once, at the
      // edge between its two orientation-smallest nodes. src and dst are
      // credited IN BULK with size(common) (no explode); only the third
      // vertex w needs a generator row — 1/3 the exploded volume of the
      // naive (src, dst, w)×3 credit stream.
      // r17 (VERDICT r16 #2): the staged nbrs arrays are sorted, so the
      // per-edge intersection is the codegen'd allocation-lean sorted-merge
      // (sorted_intersect) instead of array_intersect's per-evaluation hash
      // set; result multiset identical on sorted unique inputs, consumers
      // (size + explode-aggregate) are order-invariant.
      val tri0 = adj
        .select(col("src"), col("nbrs").as("nu"),
          explode(col("nbrs")).as("dst"))
        .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")),
          Seq("dst"), "left")
        .select(col("src"), col("dst"),
          call_function("sorted_intersect", col("nu"),
            coalesce(col("nv"), array().cast("array<bigint>"))).as("common"))
        .filter(size(col("common")) > 0)
      // ONE pass over the join output: src/dst take size(common) in bulk, w
      // takes 1 per closing vertex — a single generator emitting 2+|common|
      // credit structs per edge (the naive form re-ran the join once per
      // union branch and exploded 3 rows per triangle)
      val credits = tri0
        .select(explode(expr(
          """concat(
            |  array(struct(src as node, cast(size(common) as bigint) as c),
            |        struct(dst as node, cast(size(common) as bigint) as c)),
            |  transform(common, w -> struct(w as node, 1L as c)))""".stripMargin))
          .as("cr"))
        .groupBy(col("cr.node").as("node"))
        .agg(sum(col("cr.c")).cast(LongType).as("tri"))
      deg.filter(col("d") >= 2)
        .join(credits, Seq("node"), "left")
        .select(col("node"), col("d").cast(LongType).as("d"),
          coalesce(col("tri"), lit(0L)).as("tri"))
        .withColumn("coeff", T.r6("2*tri", "d*(d-1)"))
        .orderBy(col("coeff").desc, col("node"))
        .limit(25)
    },

    // ANN index-quality audit — recall@5 of the IVF index against the
    // exact brute-force top-5, per query. Reuses the SAME staged
    // cell-partitioned IVF index artifact as vector_ivf_topk (T.staged
    // dedupes by tag), so the audit costs one probe join + one 20×5
    // ground-truth comparison — the continuous-evaluation loop a
    // production vector store runs after every index rebuild. Recall is a
    // pure-integer rational (T.r6).
    q("vector_recall_at_k",
      """WITH cent AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent FROM embeddings WHERE vec_id < 8),
        |cand AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id >= 20),
        |assign AS (SELECT c_id, ce, cent_id AS cell FROM (
        |    SELECT c_id, ce, cent_id, row_number() OVER (
        |      PARTITION BY c_id ORDER BY round(list_dot_product(ce, cent), 6) DESC, cent_id) AS rn
        |    FROM cand CROSS JOIN cent) WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 20),
        |probe AS (SELECT q_id, qe, cent_id AS cell FROM (
        |    SELECT q_id, qe, cent_id, row_number() OVER (
        |      PARTITION BY q_id ORDER BY round(list_dot_product(qe, cent), 6) DESC, cent_id) AS rn
        |    FROM q CROSS JOIN cent) WHERE rn <= 2),
        |ivf AS (SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id, row_number() OVER (
        |      PARTITION BY q_id ORDER BY round(list_dot_product(qe, ce), 6) DESC, c_id) AS rnk
        |    FROM probe JOIN assign USING (cell)) WHERE rnk <= 5),
        |exact AS (SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id, row_number() OVER (
        |      PARTITION BY q_id ORDER BY round(list_dot_product(qe, ce), 6) DESC, c_id) AS rnk
        |    FROM q CROSS JOIN cand) WHERE rnk <= 5),
        |h AS (SELECT i.q_id,
        |    CAST(sum(CASE WHEN e.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |  FROM ivf i LEFT JOIN exact e ON i.q_id = e.q_id AND i.c_id = e.c_id
        |  GROUP BY 1)
        |SELECT q_id, n_hit,
        |  CAST((2000000*n_hit + 5) // 10 AS BIGINT) / 1000000.0 AS recall5
        |FROM h ORDER BY q_id""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val e = T.t(s, dir, "embeddings")
      val dot = (a: Column, b: Column) => call_function("vec_dot", a, b)
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent"))
      // identical tag + writer as vector_ivf_topk → one shared artifact
      val idx = T.staged("ivf_index", dir) { o =>
        e.filter(col("vec_id") >= 20)
          .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
          .crossJoin(broadcast(cent))
          .withColumn("d", round(dot(col("ce"), col("cent")), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy("c_id").orderBy(col("d").desc, col("cent_id"))))
          .filter(col("rn") === 1)
          .select(col("c_id"), col("ce"), col("cent_id").as("cell"))
          .write.partitionBy("cell").parquet(s"$o/assign")
      }
      val assign = T.parquet(s, s"$idx/assign")
        .select(col("c_id"), col("ce"), col("cell").cast(LongType).as("cell"))
      val qs = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val probe = qs.crossJoin(broadcast(cent))
        .withColumn("d", round(dot(col("qe"), col("cent")), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(col("d").desc, col("cent_id"))))
        .filter(col("rn") <= 2)
        .select(col("q_id"), col("qe"), col("cent_id").as("cell"))
      val ivf = probe.join(assign, "cell")
        .withColumn("rnk", row_number().over(Window.partitionBy("q_id")
          .orderBy(round(dot(col("qe"), col("ce")), 6).desc, col("c_id"))))
        .filter(col("rnk") <= 5).select("q_id", "c_id")
      val cand = e.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      val exact = cand.crossJoin(broadcast(qs))
        .withColumn("rnk", row_number().over(Window.partitionBy("q_id")
          .orderBy(round(dot(col("qe"), col("ce")), 6).desc, col("c_id"))))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("c_id").as("e_id"))
      ivf.join(exact, ivf("q_id") === exact("q_id") && col("c_id") === col("e_id"),
          "left")
        .groupBy(ivf("q_id").as("q_id"))
        .agg(sum(when(col("e_id").isNotNull, 1).otherwise(0))
          .cast(LongType).as("n_hit"))
        .select(col("q_id"), col("n_hit"), T.r6("n_hit", "5").as("recall5"))
        .orderBy("q_id")
    },

    // Iceberg-v2-style delete-vector application: an equality-delete set
    // (business keys) and a positional-delete set ((file, pos) tombstones —
    // here nation-partitioned "files" with row positions within each) are
    // applied to a snapshot without rewriting it — the merge-on-read
    // pattern. Precedence is documented: equality deletes win attribution,
    // positions are evaluated against ORIGINAL file positions (never
    // re-ranked after deletes — the classic off-by-one bug). Survivor
    // checksum pins content, not just counts.
    sqlKey("etl_equality_deletes",
      """WITH base AS (SELECT c_custkey, c_mktsegment,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS pos
        |  FROM customer),
        |f AS (SELECT c_custkey, c_mktsegment,
        |    (c_custkey % 37 = 0) AS del_eq, (pos % 53 = 0) AS del_pos FROM base)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_before,
        |  CAST(sum(CASE WHEN del_eq THEN 1 ELSE 0 END) AS BIGINT) AS n_del_eq,
        |  CAST(sum(CASE WHEN NOT del_eq AND del_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_del_pos,
        |  CAST(sum(CASE WHEN NOT del_eq AND NOT del_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
        |  CAST(sum(CASE WHEN NOT del_eq AND NOT del_pos THEN c_custkey ELSE 0 END) AS BIGINT) AS survivor_keysum
        |FROM f GROUP BY 1 ORDER BY 1"""),

    // Deterministic stratified bootstrap — a 200-replicate resampled 95%
    // CI for the mean account balance per market segment. Resample indices
    // come from a multiplicative integer hash of (replicate, position), so
    // the draw is reproducible across engines and partitionings (the same
    // property pipeline_dataset_split relies on); replicate means are
    // exact-decimal sums over one IEEE division; the CI bounds are ORDER
    // STATISTICS of the 200 means (rank selection — no interpolation).
    // Scale shape: the resample grid is |group|×200 rows joined on
    // (segment, position) — linear in data, shuffled once.
    q("stat_bootstrap_ci",
      """WITH r AS (SELECT c_mktsegment, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM customer),
        |g AS (SELECT c_mktsegment, rn, n, b,
        |    1 + CAST((2654435761 * CAST(b * 100003 + (rn - 1) AS HUGEINT)
        |      + 17) % n AS BIGINT) AS idx
        |  FROM r CROSS JOIN (SELECT unnest(range(200)) AS b)),
        |m AS (SELECT g.c_mktsegment, g.b,
        |    CAST(SUM(CAST(r2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |      / any_value(g.n) AS mean_b
        |  FROM g JOIN r r2 ON g.c_mktsegment = r2.c_mktsegment AND g.idx = r2.rn
        |  GROUP BY 1, 2),
        |mr AS (SELECT c_mktsegment, mean_b, row_number() OVER (
        |    PARTITION BY c_mktsegment ORDER BY mean_b, b) AS q
        |  FROM m),
        |pt AS (SELECT c_mktsegment, CAST(any_value(n) AS BIGINT) AS n,
        |    round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |      / any_value(n), 6) + 0.0 AS mean6
        |  FROM r GROUP BY 1)
        |SELECT pt.c_mktsegment, pt.n, pt.mean6,
        |  round(min(CASE WHEN q = 6 THEN mean_b END), 6) + 0.0 AS ci_lo,
        |  round(min(CASE WHEN q = 195 THEN mean_b END), 6) + 0.0 AS ci_hi
        |FROM pt JOIN mr ON pt.c_mktsegment = mr.c_mktsegment
        |GROUP BY 1, 2, 3 ORDER BY 1""") { (s, dir) =>
      val part = Window.partitionBy("c_mktsegment")
      val r = T.t(s, dir, "customer")
        .withColumn("rn", row_number().over(part.orderBy("c_custkey")))
        .withColumn("n", count(lit(1)).over(part))
      // The resample index needs the EXACT product (C·m + 17) mod n with
      // data-sized m = b·100003 + rn−1 — 2654435761·m overflows the naive
      // long product past ~3.3e9 rows per segment. The r15 DECIMAL(38,0)
      // widening was exact but cost 6.5× steady (0.73 → 4.78 s at sf0.1:
      // the index evaluates per row × 200 resamples — BASELINE.md hash-
      // repricing note). This split keeps it exact in pure long codegen:
      //   (C·m) mod n = ((C·(m»16) mod n)·2¹⁶ + C·(m&0xFFFF)) mod n
      // Intermediates: C·(m»16) is long-safe while m < 2.3e14 rows per
      // segment (5 decades past a 100 TB customer table); (· mod n)·2¹⁶
      // and C·(m&0xFFFF) < 2⁴⁸ are long-safe for any per-segment count
      // n < 1.4e14. Values are bit-identical to the wide product.
      val rix = col("b") * 100003L + (col("rn") - 1)
      // r17 (guide §2.5/2.6 — idle capacity): the row_number window hashes
      // by c_mktsegment, so its output lives in 5 partitions (one per enum
      // segment) AT ANY SCALE — and without a re-spread, the ×200 explode,
      // the resample-index arithmetic, the index join probe and the
      // replicate-mean partial aggregation all inherit that 5-task layout
      // (measured: the whole 3M-row grid pipeline ran on 5 of 32 cores —
      // 14.5 s honest wall at round start, and the key anti-scaled 8→32
      // cores). One tiny row-count-sized shuffle by (segment, position)
      // spreads the grid across the full cluster before the ×200 fan-out;
      // values are partition-independent (idx is pure row arithmetic).
      val g = r.select(col("c_mktsegment"), col("rn"), col("n"))
        .repartition(col("c_mktsegment"), col("rn"))
        .withColumn("b", explode(sequence(lit(0), lit(199))))
        .withColumn("idx",
          lit(1) + ((lit(2654435761L) * shiftright(rix, 16)) % col("n")
            * 65536L
            + lit(2654435761L) * rix.bitwiseAND(65535L) + 17L) % col("n"))
      val r2 = r.select(col("c_mktsegment").as("seg2"), col("rn").as("rn2"),
        col("c_acctbal"))
      val m = g.join(r2, col("c_mktsegment") === col("seg2") &&
          col("idx") === col("rn2"))
        .groupBy("c_mktsegment", "b")
        .agg((T.dsum(col("c_acctbal")) / first(col("n"))).as("mean_b"))
        .withColumn("q", row_number().over(
          part.orderBy(col("mean_b"), col("b"))))
      val pt = r.groupBy("c_mktsegment").agg(
        first(col("n")).cast(LongType).as("n"),
        (round(T.dsum(col("c_acctbal")) / first(col("n")), 6) + 0.0).as("mean6"))
      pt.join(m, "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(first(col("n")).as("n"), first(col("mean6")).as("mean6"),
          (round(min(when(col("q") === 6, col("mean_b"))), 6) + 0.0).as("ci_lo"),
          (round(min(when(col("q") === 195, col("mean_b"))), 6) + 0.0).as("ci_hi"))
        .orderBy("c_mktsegment")
    },

    // Ridge regression, two features + intercept, closed form: the normal
    // equations are built from EXACT decimal moments (every Σx, Σx², Σxy is
    // an exact decimal sum cast to double once), then the centered 2×2
    // system is solved with an IDENTICAL sequence of IEEE ops in both
    // engines — the ml_linreg_closed_form pattern widened to the
    // multi-feature case with an L2 penalty (λ=1000 on the centered
    // moments). One scan + one 9-moment aggregation: the training pass is
    // a single map-side-combinable reduction at any scale.
    // the operands are bit-identical doubles in both engines, so each step
    // of the text is the same IEEE op
    sqlKey("ml_ridge_2feature",
      """WITH j AS (SELECT
        |    CAST(l_quantity AS DECIMAL(18,2)) AS x1,
        |    CAST(p_retailprice AS DECIMAL(18,2)) AS x2,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |mo AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(x1) AS DOUBLE) AS sx1, CAST(SUM(x2) AS DOUBLE) AS sx2,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x1*x1) AS DOUBLE) AS sx1x1,
        |    CAST(SUM(x1*x2) AS DOUBLE) AS sx1x2,
        |    CAST(SUM(x2*x2) AS DOUBLE) AS sx2x2,
        |    CAST(SUM(x1*y) AS DOUBLE) AS sx1y,
        |    CAST(SUM(x2*y) AS DOUBLE) AS sx2y
        |  FROM j),
        |c AS (SELECT n,  sx1, sx2, sy,
        |    (sx1x1 - (sx1*sx1)/n) + 1000.0 AS c11,
        |    (sx2x2 - (sx2*sx2)/n) + 1000.0 AS c22,
        |    sx1x2 - (sx1*sx2)/n AS c12,
        |    sx1y - (sx1*sy)/n AS cy1,
        |    sx2y - (sx2*sy)/n AS cy2
        |  FROM mo),
        |b AS (SELECT n, sx1, sx2, sy,
        |    ((cy1*c22) - (c12*cy2)) / ((c11*c22) - (c12*c12)) AS b1,
        |    ((cy2*c11) - (c12*cy1)) / ((c11*c22) - (c12*c12)) AS b2
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round((sy - (b1*sx1) - (b2*sx2)) / n, 6) + 0.0 AS b0,
        |  round(b1, 6) + 0.0 AS b1, round(b2, 6) + 0.0 AS b2
        |FROM b"""),

    // Winsorized and trimmed means per order priority — the robust-mean
    // kit next to stat_mad_robust: p5/p95 bounds by exact rank selection
    // (no interpolation, doubles only SELECTED), then (a) trimmed mean over
    // the strict interior ranks and (b) winsorized mean with boundary
    // values CLAMPED to the rank-selected bounds. Both means are exact
    // integer-CENT rationals through T.r6 (sum·100 / 100·n in
    // DECIMAL(38,0) — 2·10⁶·cents wraps LONG at sf0.1): tiescan caught the
    // sf0.001 winsorized mean landing on an exact .5 at the 6th decimal,
    // the round(double,6) cross-build tie class r6 exists to retire. Two
    // window passes + one broadcast-fence aggregation — dq_outlier_iqr's
    // shape.
    q("agg_winsorized_mean",
      """WITH r AS (SELECT o_orderpriority,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders),
        |qs AS (SELECT o_orderpriority, any_value(n) AS n,
        |    min(CASE WHEN rn = CAST(floor(0.05*(n-1)) + 1 AS BIGINT) THEN p END) AS p5,
        |    min(CASE WHEN rn = CAST(floor(0.95*(n-1)) + 1 AS BIGINT) THEN p END) AS p95
        |  FROM r GROUP BY 1),
        |agg AS (SELECT r.o_orderpriority, any_value(qs.n) AS n,
        |    any_value(qs.p5) AS p5, any_value(qs.p95) AS p95,
        |    CAST(count(CASE WHEN r.rn > CAST(floor(0.05*(qs.n-1)) + 1 AS BIGINT)
        |        AND r.rn < CAST(floor(0.95*(qs.n-1)) + 1 AS BIGINT)
        |        THEN 1 END) AS BIGINT) AS n_trim,
        |    CAST(SUM(CASE WHEN r.rn > CAST(floor(0.05*(qs.n-1)) + 1 AS BIGINT)
        |        AND r.rn < CAST(floor(0.95*(qs.n-1)) + 1 AS BIGINT)
        |        THEN r.p ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS HUGEINT) AS trim_cents,
        |    CAST(SUM(CASE WHEN r.p < qs.p5 THEN qs.p5
        |        WHEN r.p > qs.p95 THEN qs.p95 ELSE r.p END) * 100 AS HUGEINT) AS wins_cents
        |  FROM r JOIN qs ON r.o_orderpriority = qs.o_orderpriority
        |  GROUP BY 1)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
        |  CAST(p5 AS DOUBLE) AS p5, CAST(p95 AS DOUBLE) AS p95,
        |  CAST((2000000*trim_cents + 100*n_trim) // (2*(100*n_trim)) AS BIGINT)
        |    / 1000000.0 AS mean_trimmed,
        |  CAST((2000000*wins_cents + 100*n) // (2*(100*n)) AS BIGINT)
        |    / 1000000.0 AS mean_winsorized
        |FROM agg ORDER BY o_orderpriority""") { (s, dir) =>
      val part = Window.partitionBy("o_orderpriority")
      val r = T.t(s, dir, "orders")
        .withColumn("p", col("o_totalprice").cast(T.dec))
        .withColumn("rn", row_number().over(part.orderBy("p", "o_orderkey")))
        .withColumn("n", count(lit(1)).over(part))
      val qs = r.groupBy("o_orderpriority").agg(
        first(col("n")).as("n"),
        min(when(col("rn") ===
          (floor(lit(0.05) * (col("n") - 1)) + 1).cast(LongType), col("p"))).as("p5"),
        min(when(col("rn") ===
          (floor(lit(0.95) * (col("n") - 1)) + 1).cast(LongType), col("p"))).as("p95"))
      r.join(broadcast(qs.withColumnRenamed("n", "qn")), "o_orderpriority")
        .withColumn("lo_rn", (floor(lit(0.05) * (col("qn") - 1)) + 1).cast(LongType))
        .withColumn("hi_rn", (floor(lit(0.95) * (col("qn") - 1)) + 1).cast(LongType))
        .groupBy("o_orderpriority").agg(
          first(col("qn")).cast(LongType).as("n"),
          first(col("p5")).as("p5d"), first(col("p95")).as("p95d"),
          count(when(col("rn") > col("lo_rn") && col("rn") < col("hi_rn"), 1))
            .cast(LongType).as("n_trim"),
          (sum(when(col("rn") > col("lo_rn") && col("rn") < col("hi_rn"), col("p"))
            .otherwise(lit(0).cast(T.dec))) * 100)
            .cast(DecimalType(38, 0)).as("trim_cents"),
          (sum(when(col("p") < col("p5"), col("p5"))
            .when(col("p") > col("p95"), col("p95"))
            .otherwise(col("p"))) * 100)
            .cast(DecimalType(38, 0)).as("wins_cents"))
        .select(col("o_orderpriority"), col("n"),
          col("p5d").cast(DoubleType).as("p5"),
          col("p95d").cast(DoubleType).as("p95"),
          T.r6("trim_cents", "100 * n_trim").as("mean_trimmed"),
          T.r6("wins_cents", "100 * n").as("mean_winsorized"))
        .orderBy("o_orderpriority")
    },

    // Mann–Whitney U (Wilcoxon rank-sum) with tie correction: purchase vs
    // view values. NO global rank window over the data: the rank sums
    // collapse to the DISTINCT-VALUE spine (values are 2dp in [0.01, 490] —
    // a DOMAIN-bounded ≤49k-row table), where 2·U = Σ nₐ·(2·cum_b + n_b) is
    // exact integer arithmetic; the tie-corrected variance is an exact
    // integer rational in DECIMAL(38,0) (nₐn_b(N³−N−T) wraps LONG), and z
    // is one identical IEEE division/sqrt chain rounded at 6dp. At 100 TB
    // the distinct-value spine is the shuffle, not the event stream.
    q("stat_wilcoxon_rank_sum",
      """WITH e AS (SELECT value, event_type FROM events
        |  WHERE event_type IN ('purchase', 'view')),
        |vc AS (SELECT value,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM e GROUP BY 1),
        |cb AS (SELECT value, na, nb,
        |    COALESCE(sum(nb) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_b
        |  FROM vc),
        |m AS (SELECT CAST(sum(na) AS HUGEINT) AS nat, CAST(sum(nb) AS HUGEINT) AS nbt,
        |    CAST(sum(na*(2*cum_b + nb)) AS HUGEINT) AS u2a,
        |    CAST(sum((na+nb)*(na+nb)*(na+nb) - (na+nb)) AS HUGEINT) AS tsum
        |  FROM cb)
        |SELECT CAST(nat AS BIGINT) AS n_a, CAST(nbt AS BIGINT) AS n_b,
        |  CAST(u2a AS BIGINT) AS u2_a,
        |  round(CAST(u2a - nat*nbt AS DOUBLE) /
        |    (2.0 * sqrt(CAST(nat*nbt*((nat+nbt+1)*(nat+nbt)*(nat+nbt-1) - tsum) AS DOUBLE)
        |      / CAST(12*(nat+nbt)*(nat+nbt-1) AS DOUBLE))), 6) + 0.0 AS z6
        |FROM m""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
      val vc = e.groupBy("value").agg(
        sum(when(col("event_type") === "purchase", 1).otherwise(0))
          .cast(LongType).as("na"),
        sum(when(col("event_type") === "view", 1).otherwise(0))
          .cast(LongType).as("nb"))
      val wcum = Window.orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cb = vc.withColumn("cum_b",
        coalesce(sum(col("nb")).over(wcum), lit(0L)))
      val d38 = DecimalType(38, 0)
      // na/cum_b/nb are per-value counts (data-sized: ~2e7 per value at
      // 100 TB with the ≤49k-cent value domain, and cum_b is the running
      // TOTAL, ~1e12): na·(2·cum_b+nb) ~1e19 and (na+nb)³ ~1e22 overflow
      // the long product PER ELEMENT — the first factor runs in decimal
      // (r15 overflow audit). Input is the bounded cents spine: free.
      val m = cb.agg(
        sum(col("na")).cast(d38).as("nat"),
        sum(col("nb")).cast(d38).as("nbt"),
        sum(col("na").cast(d38) * (lit(2) * col("cum_b") + col("nb")))
          .as("u2a"),
        sum((col("na") + col("nb")).cast(d38) * (col("na") + col("nb"))
          * (col("na") + col("nb")) - (col("na") + col("nb"))).as("tsum"))
      m.select(col("nat").cast(LongType).as("n_a"),
          col("nbt").cast(LongType).as("n_b"),
          col("u2a").cast(LongType).as("u2_a"),
          (round((col("u2a") - col("nat") * col("nbt")).cast(DoubleType) /
            (lit(2.0) * sqrt(
              (col("nat") * col("nbt") *
                ((col("nat") + col("nbt") + 1) * (col("nat") + col("nbt"))
                  * (col("nat") + col("nbt") - 1) - col("tsum"))).cast(DoubleType) /
              (lit(12) * (col("nat") + col("nbt"))
                * (col("nat") + col("nbt") - 1)).cast(DoubleType))), 6) + 0.0)
            .as("z6"))
    },

    // Heaps'-law fit: vocabulary growth V = K·n^β across the 20 sources
    // (each source a corpus sample point: total tokens vs distinct terms).
    // Same quantized-ln machinery as text_zipf_slope — β and ln K are
    // pure-integer rationals over exact quantized moments (DECIMAL(38,0):
    // the intercept numerator Sy·den reaches ~10²⁵). The per-source vocab
    // counts are one distinct-aggregate shuffle; the 20-point fit is a
    // 1-row reduction.
    q("text_heaps_law_fit",
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tok,
        |    CAST(count(DISTINCT term) AS BIGINT) AS vocab
        |  FROM tok GROUP BY 1),
        |qz AS (SELECT source,
        |    CAST(round(ln(CAST(n_tok AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS y
        |  FROM ps),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x*y) AS HUGEINT) AS sxy, CAST(sum(x*x) AS HUGEINT) AS sxx
        |  FROM qz)
        |SELECT CAST(n AS BIGINT) AS n_points,
        |  (CASE WHEN n*sxy - sx*sy < 0 THEN -1 ELSE 1 END) *
        |    CAST((2000000*abs(n*sxy - sx*sy) + (n*sxx - sx*sx))
        |      // (2*(n*sxx - sx*sx)) AS BIGINT) / 1000000.0 AS beta6,
        |  (CASE WHEN sy*(n*sxx - sx*sx) - (n*sxy - sx*sy)*sx < 0 THEN -1 ELSE 1 END) *
        |    CAST((2000000*abs(sy*(n*sxx - sx*sx) - (n*sxy - sx*sy)*sx)
        |        + n*(n*sxx - sx*sx)*1000000)
        |      // (2*(n*(n*sxx - sx*sx)*1000000)) AS BIGINT) / 1000000.0 AS lnk6
        |FROM m""") { (s, dir) =>
      val ps = T.t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .groupBy("source").agg(
          count(lit(1)).cast(LongType).as("n_tok"),
          countDistinct(col("term")).cast(LongType).as("vocab"))
      val qz = ps.select(col("source"),
        round(expr("ln(cast(n_tok as double))") * 1000000.0, 0)
          .cast(LongType).as("x"),
        round(expr("ln(cast(vocab as double))") * 1000000.0, 0)
          .cast(LongType).as("y"))
      qz.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("n").cast(LongType).as("n_points"),
          T.r6s("CAST(n*sxy - sx*sy AS DECIMAL(38,0))",
                "CAST(n*sxx - sx*sx AS DECIMAL(38,0))").as("beta6"),
          T.r6s(
            "CAST(sy AS DECIMAL(38,0))*(n*sxx - sx*sx) - CAST(n*sxy - sx*sy AS DECIMAL(38,0))*sx",
            "CAST(n AS DECIMAL(38,0))*(n*sxx - sx*sx)*1000000").as("lnk6"))
    },

    // Brown–Forsythe (median-based Levene) homogeneity-of-variance test
    // across event types: Z = |value − group median| in EXACT integer
    // cents (medians are rank selections), and the between/within sums of
    // squares use stat_anova_oneway's fixed-point trick — each group term
    // S_g²·100 div n_g is ONE exact integer division (centi-units keep
    // every term under LONG; the final products go through DECIMAL(38,0))
    // — so W ends in a single IEEE division of exact integers. No float
    // sum ever crosses a group boundary.
    q("stat_levene_brown_forsythe",
      """WITH x AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    event_id FROM events),
        |r AS (SELECT event_type, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM x),
        |med AS (SELECT event_type,
        |    min(CASE WHEN rn = CAST(floor(0.5*(n-1)) + 1 AS BIGINT) THEN c END) AS med
        |  FROM r GROUP BY 1),
        |z AS (SELECT x.event_type, abs(x.c - med.med) AS z
        |  FROM x JOIN med ON x.event_type = med.event_type),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(z) AS HUGEINT) AS s_g, CAST(sum(z*z) AS HUGEINT) AS ss_g
        |  FROM z GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS HUGEINT) AS k, CAST(sum(n_g) AS HUGEINT) AS n,
        |    CAST(sum(s_g) AS HUGEINT) AS s, CAST(sum(ss_g) AS HUGEINT) AS ss,
        |    CAST(sum((s_g*s_g*100) // n_g) AS HUGEINT) AS a100
        |  FROM g)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
        |  round(CAST((a100 - (s*s*100) // n) * (n - k) AS DOUBLE) /
        |        CAST((ss*100 - a100) * (k - 1) AS DOUBLE), 6) + 0.0 AS w6
        |FROM t""") { (s, dir) =>
      val x = T.t(s, dir, "events").select(col("event_type"),
        (col("value").cast(T.dec) * 100).cast(LongType).as("c"), col("event_id"))
      val part = Window.partitionBy("event_type")
      val r = x
        .withColumn("rn", row_number().over(part.orderBy("c", "event_id")))
        .withColumn("n", count(lit(1)).over(part))
      val med = r.groupBy("event_type").agg(
        min(when(col("rn") ===
          (floor(lit(0.5) * (col("n") - 1)) + 1).cast(LongType), col("c"))).as("med"))
      val z = x.join(broadcast(med), "event_type")
        .select(col("event_type"), abs(col("c") - col("med")).as("z"))
      val d38 = DecimalType(38, 0)
      val g = z.groupBy("event_type").agg(
        count(lit(1)).cast(LongType).as("n_g"),
        sum(col("z")).cast(LongType).as("s_g"),
        // decimal accumulator: DuckDB's SUM(BIGINT) widens to HUGEINT
        // automatically, Spark's sum(LONG) does not — match the headroom
        sum(expr("cast(z as decimal(38,0)) * z")).cast(d38).as("ss_g"))
      val t = g.agg(
        count(lit(1)).cast(d38).as("k"),
        sum(col("n_g")).cast(d38).as("n"),
        sum(col("s_g")).cast(d38).as("s"),
        sum(col("ss_g")).cast(d38).as("ss"),
        // s_g² crosses LONG at ×10 fixture scale (caught by the r11 sf1
        // probe: s_g ≈ 1e9 cents → s_g²·100 ≈ 1e20); decimal pre-cast
        // keeps the math exact — same values, no overflow at any sf
        sum(expr("(cast(s_g as decimal(38,0)) * s_g * 100) div n_g"))
          .cast(d38).as("a100"))
      t.select(col("k").cast(LongType).as("k"), col("n").cast(LongType).as("n"),
        (col("k") - 1).cast(LongType).as("df1"),
        (col("n") - col("k")).cast(LongType).as("df2"),
        (round(((col("a100") - expr("(s*s*100) div n")) * (col("n") - col("k")))
            .cast(DoubleType) /
          ((col("ss") * 100 - col("a100")) * (col("k") - 1)).cast(DoubleType), 6)
          + 0.0).as("w6"))
    },

    // Grid-bucketed spatial join: customers and suppliers get deterministic
    // 2-D coordinates (two multiplicative hashes), and "pairs within
    // distance 500" resolves by an EQUI-join on 500-unit grid cells (each
    // supplier probes its 3×3 cell neighborhood) followed by the exact
    // integer distance check — the textbook re-plan of an O(n·m) theta
    // join into a hash join whose fan-out is neighborhood density, the
    // same bucketing idea as join_interval_bucketed but in 2-D. Nearest
    // neighbor per supplier is an arg-min on a composite (d², id) key.
    q("join_spatial_grid",
      """WITH c AS (SELECT c_custkey,
        |    CAST(CAST(c_custkey AS HUGEINT) * 2654435761
        |      % 4294967296 % 10000 AS BIGINT) AS cx,
        |    CAST(CAST(c_custkey AS HUGEINT) * 2246822519
        |      % 4294967296 % 10000 AS BIGINT) AS cy
        |  FROM customer),
        |sp AS (SELECT s_suppkey,
        |    CAST((CAST(s_suppkey AS HUGEINT) * 2654435761 + 1013904223)
        |      % 4294967296 % 10000 AS BIGINT) AS sx,
        |    CAST((CAST(s_suppkey AS HUGEINT) * 2246822519 + 374761393)
        |      % 4294967296 % 10000 AS BIGINT) AS sy
        |  FROM supplier),
        |probe AS (SELECT s_suppkey, sx, sy,
        |    sx // 500 + dx.dx AS gx, sy // 500 + dy.dy AS gy
        |  FROM sp
        |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dx) dx
        |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dy) dy),
        |hit AS (SELECT p.s_suppkey, c.c_custkey,
        |    (c.cx - p.sx)*(c.cx - p.sx) + (c.cy - p.sy)*(c.cy - p.sy) AS d2
        |  FROM probe p JOIN c ON c.cx // 500 = p.gx AND c.cy // 500 = p.gy
        |  WHERE (c.cx - p.sx)*(c.cx - p.sx) + (c.cy - p.sy)*(c.cy - p.sy) <= 250000)
        |SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_within,
        |  CAST(min(d2) AS BIGINT) AS min_d2,
        |  arg_min(c_custkey, d2 * 100000 + c_custkey) AS nearest_cust
        |FROM hit GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val c = T.t(s, dir, "customer").select(col("c_custkey"),
        (T.hash32(col("c_custkey"), 2654435761L) % 10000).as("cx"),
        (T.hash32(col("c_custkey"), 2246822519L) % 10000).as("cy"))
      val sp = T.t(s, dir, "supplier").select(col("s_suppkey"),
        (T.hash32(col("s_suppkey"), 2654435761L, 1013904223L) % 10000).as("sx"),
        (T.hash32(col("s_suppkey"), 2246822519L, 374761393L) % 10000).as("sy"))
      val probe = sp
        .withColumn("dx", explode(array(lit(-1), lit(0), lit(1))))
        .withColumn("dy", explode(array(lit(-1), lit(0), lit(1))))
        .select(col("s_suppkey"), col("sx"), col("sy"),
          (expr("sx div 500") + col("dx")).as("gx"),
          (expr("sy div 500") + col("dy")).as("gy"))
      val d2 = (col("cx") - col("sx")) * (col("cx") - col("sx")) +
        (col("cy") - col("sy")) * (col("cy") - col("sy"))
      probe.join(c, expr("cx div 500") === col("gx") &&
          expr("cy div 500") === col("gy"))
        .filter(d2 <= 250000)
        .withColumn("d2", d2)
        .groupBy("s_suppkey").agg(
          count(lit(1)).cast(LongType).as("n_within"),
          min(col("d2")).cast(LongType).as("min_d2"),
          expr("min_by(c_custkey, d2 * 100000L + c_custkey)").as("nearest_cust"))
        .orderBy("s_suppkey")
    },

    // 5-fold cross-validation of the 2-feature ridge — BY MOMENT ALGEBRA:
    // per-fold exact decimal moments (one grouped pass), train-side moments
    // = total − fold (exact decimal subtraction — no second scan), per-fold
    // coefficients by the ml_ridge_2feature closed form, and the held-out
    // SSE from the EXPANDED quadratic Σ(y−ŷ)² = Σy² + n·b0² + ... (pure
    // moment combination — the evaluation pass never touches a row). Two
    // scans total for a full 5-fold CV at any scale; every float boundary
    // is the same IEEE sequence on bit-identical operands in both engines.
    q("ml_ridge_kfold_cv",
      """WITH j AS (SELECT
        |    CAST(CAST(l_orderkey AS HUGEINT) * 2654435761
        |      % 4294967296 % 5 AS BIGINT) AS fold,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS x1,
        |    CAST(p_retailprice AS DECIMAL(18,2)) AS x2,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |fm AS (SELECT fold, count(*) AS cnt,
        |    SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy0,
        |    SUM(x1*x1) AS s11, SUM(x1*x2) AS s12, SUM(x2*x2) AS s22,
        |    SUM(x1*y) AS s1y, SUM(x2*y) AS s2y, SUM(y*y) AS syy
        |  FROM j GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS cntT,
        |    SUM(s1) AS s1T, SUM(s2) AS s2T, SUM(sy0) AS syT,
        |    SUM(s11) AS s11T, SUM(s12) AS s12T, SUM(s22) AS s22T,
        |    SUM(s1y) AS s1yT, SUM(s2y) AS s2yT
        |  FROM fm),
        |tr AS (SELECT fold, CAST(cnt AS BIGINT) AS n_test,
        |    CAST(cntT - cnt AS DOUBLE) AS n,
        |    CAST(s1T - s1 AS DOUBLE) AS sx1, CAST(s2T - s2 AS DOUBLE) AS sx2,
        |    CAST(syT - sy0 AS DOUBLE) AS sy,
        |    CAST(s11T - s11 AS DOUBLE) AS sx1x1, CAST(s12T - s12 AS DOUBLE) AS sx1x2,
        |    CAST(s22T - s22 AS DOUBLE) AS sx2x2,
        |    CAST(s1yT - s1y AS DOUBLE) AS sx1y, CAST(s2yT - s2y AS DOUBLE) AS sx2y,
        |    CAST(cnt AS DOUBLE) AS nf,
        |    CAST(s1 AS DOUBLE) AS f1, CAST(s2 AS DOUBLE) AS f2,
        |    CAST(sy0 AS DOUBLE) AS fy,
        |    CAST(s11 AS DOUBLE) AS f11, CAST(s12 AS DOUBLE) AS f12,
        |    CAST(s22 AS DOUBLE) AS f22,
        |    CAST(s1y AS DOUBLE) AS f1y, CAST(s2y AS DOUBLE) AS f2y,
        |    CAST(syy AS DOUBLE) AS fyy
        |  FROM fm CROSS JOIN tot),
        |co AS (SELECT fold, n_test, n, sx1, sx2, sy, nf, f1, f2, fy,
        |    f11, f12, f22, f1y, f2y, fyy,
        |    (sx1x1 - (sx1*sx1)/n) + 1000.0 AS c11,
        |    (sx2x2 - (sx2*sx2)/n) + 1000.0 AS c22,
        |    sx1x2 - (sx1*sx2)/n AS c12,
        |    sx1y - (sx1*sy)/n AS cy1,
        |    sx2y - (sx2*sy)/n AS cy2
        |  FROM tr),
        |bb AS (SELECT fold, n_test, nf, f1, f2, fy, f11, f12, f22, f1y, f2y, fyy,
        |    CAST(n AS BIGINT) AS n_train,
        |    ((cy1*c22) - (c12*cy2)) / ((c11*c22) - (c12*c12)) AS b1,
        |    ((cy2*c11) - (c12*cy1)) / ((c11*c22) - (c12*c12)) AS b2,
        |    sy, sx1, sx2, n
        |  FROM co),
        |ev AS (SELECT fold, n_train, n_test, b1, b2,
        |    (sy - (b1*sx1) - (b2*sx2)) / n AS b0,
        |    nf, f1, f2, fy, f11, f12, f22, f1y, f2y, fyy
        |  FROM bb)
        |SELECT fold, n_train, n_test,
        |  round(b0, 6) + 0.0 AS b0, round(b1, 6) + 0.0 AS b1,
        |  round(b2, 6) + 0.0 AS b2,
        |  round(sqrt(greatest(
        |    fyy + (nf*(b0*b0)) + ((b1*b1)*f11) + ((b2*b2)*f22)
        |      - (2.0*((b0*fy) + (b1*f1y) + (b2*f2y)))
        |      + (2.0*((b0*(b1*f1)) + (b0*(b2*f2)) + (b1*(b2*f12)))),
        |    0.0) / nf), 6) + 0.0 AS rmse6
        |FROM ev ORDER BY fold""") { (s, dir) =>
      val j = T.t(s, dir, "lineitem")
        .join(T.t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(
          (T.hash32(col("l_orderkey"), 2654435761L) % 5).as("fold"),
          col("l_quantity").cast(T.dec).as("x1"),
          col("p_retailprice").cast(T.dec).as("x2"),
          col("l_extendedprice").cast(T.dec).as("y"))
      val fm = j.groupBy("fold").agg(
        count(lit(1)).as("cnt"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("y")).as("sy0"),
        sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"), sum(col("x2") * col("y")).as("s2y"),
        sum(col("y") * col("y")).as("syy"))
      val tot = fm.agg(
        sum(col("cnt")).cast(LongType).as("cntT"),
        sum(col("s1")).as("s1T"), sum(col("s2")).as("s2T"),
        sum(col("sy0")).as("syT"),
        sum(col("s11")).as("s11T"), sum(col("s12")).as("s12T"),
        sum(col("s22")).as("s22T"),
        sum(col("s1y")).as("s1yT"), sum(col("s2y")).as("s2yT"))
      // decimal subtraction (total − fold) is exact; ONE double cast after
      val tr = fm.crossJoin(broadcast(tot)).select(col("fold"),
        col("cnt").cast(LongType).as("n_test"),
        (col("cntT") - col("cnt")).cast(DoubleType).as("n"),
        (col("s1T") - col("s1")).cast(DoubleType).as("sx1"),
        (col("s2T") - col("s2")).cast(DoubleType).as("sx2"),
        (col("syT") - col("sy0")).cast(DoubleType).as("sy"),
        (col("s11T") - col("s11")).cast(DoubleType).as("sx1x1"),
        (col("s12T") - col("s12")).cast(DoubleType).as("sx1x2"),
        (col("s22T") - col("s22")).cast(DoubleType).as("sx2x2"),
        (col("s1yT") - col("s1y")).cast(DoubleType).as("sx1y"),
        (col("s2yT") - col("s2y")).cast(DoubleType).as("sx2y"),
        col("cnt").cast(DoubleType).as("nf"),
        col("s1").cast(DoubleType).as("f1"), col("s2").cast(DoubleType).as("f2"),
        col("sy0").cast(DoubleType).as("fy"),
        col("s11").cast(DoubleType).as("f11"),
        col("s12").cast(DoubleType).as("f12"),
        col("s22").cast(DoubleType).as("f22"),
        col("s1y").cast(DoubleType).as("f1y"),
        col("s2y").cast(DoubleType).as("f2y"),
        col("syy").cast(DoubleType).as("fyy"))
      val co = tr
        .withColumn("c11", (col("sx1x1") - (col("sx1") * col("sx1")) / col("n")) + 1000.0)
        .withColumn("c22", (col("sx2x2") - (col("sx2") * col("sx2")) / col("n")) + 1000.0)
        .withColumn("c12", col("sx1x2") - (col("sx1") * col("sx2")) / col("n"))
        .withColumn("cy1", col("sx1y") - (col("sx1") * col("sy")) / col("n"))
        .withColumn("cy2", col("sx2y") - (col("sx2") * col("sy")) / col("n"))
      val bb = co
        .withColumn("n_train", col("n").cast(LongType))
        .withColumn("b1", ((col("cy1") * col("c22")) - (col("c12") * col("cy2"))) /
          ((col("c11") * col("c22")) - (col("c12") * col("c12"))))
        .withColumn("b2", ((col("cy2") * col("c11")) - (col("c12") * col("cy1"))) /
          ((col("c11") * col("c22")) - (col("c12") * col("c12"))))
      val ev = bb.withColumn("b0",
        (col("sy") - (col("b1") * col("sx1")) - (col("b2") * col("sx2"))) / col("n"))
      ev.select(col("fold"), col("n_train"), col("n_test"),
          (round(col("b0"), 6) + 0.0).as("b0"),
          (round(col("b1"), 6) + 0.0).as("b1"),
          (round(col("b2"), 6) + 0.0).as("b2"),
          (round(sqrt(greatest(
            col("fyy") + (col("nf") * (col("b0") * col("b0")))
              + ((col("b1") * col("b1")) * col("f11"))
              + ((col("b2") * col("b2")) * col("f22"))
              - (lit(2.0) * ((col("b0") * col("fy")) + (col("b1") * col("f1y"))
                + (col("b2") * col("f2y"))))
              + (lit(2.0) * ((col("b0") * (col("b1") * col("f1")))
                + (col("b0") * (col("b2") * col("f2")))
                + (col("b1") * (col("b2") * col("f12"))))),
            lit(0.0)) / col("nf")), 6) + 0.0).as("rmse6"))
        .orderBy("fold")
    },

    // Cross-correlation at lags 0..7 between the daily purchase and click
    // series — the lead/lag-identification primitive next to
    // ts_autocorr_lag (which correlates a series with itself): purchase
    // day d vs click day d+L, exact integer count moments per lag, corr
    // as one identical IEEE chain at 6dp. The pair build is an equi-join
    // on the shifted ≤31-day spine fanned out ×8 lags — bounded by the
    // calendar, not the data.
    q("ts_cross_correlation_lag",
      """WITH p AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |c AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |pr AS (SELECT l.lag, p.x, c.y
        |  FROM p CROSS JOIN (SELECT unnest(range(8)) AS lag) l
        |  JOIN c ON c.d = p.d + CAST(l.lag AS INT)),
        |g AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy,
        |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM pr GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
        |  round(CAST(n*sxy - sx*sy AS DOUBLE)
        |    / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
        |      * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) + 0.0 AS xcorr6
        |FROM g ORDER BY lag""") { (s, dir) =>
      val ev = T.t(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .groupBy(col("ts").cast(DateType).as("d"))
        .agg(count(lit(1)).cast(LongType).as("x"))
      val c = ev.filter(col("event_type") === "click")
        .groupBy(col("ts").cast(DateType).as("dc"))
        .agg(count(lit(1)).cast(LongType).as("y"))
      val pr = p.withColumn("lag", explode(sequence(lit(0L), lit(7L))))
        .join(c, col("dc") === date_add(col("d"), col("lag").cast(IntegerType)))
      // x, y are daily counts (~1e12/day at 100 TB event volumes): x·y
      // ~1e24 overflows the long product PER ELEMENT, and the final
      // sx·sy cross-moment overflows a long result type even when each
      // sum fits — the whole moment chain runs in DECIMAL(38,0) and
      // casts to double exactly once inside the correlation (r15
      // overflow audit). Input is the ≤31×8 day-pair spine: free.
      val d38x = DecimalType(38, 0)
      pr.groupBy("lag").agg(
          count(lit(1)).cast(LongType).as("n"),
          sum("x").cast(d38x).as("sx"), sum("y").cast(d38x).as("sy"),
          sum(col("x").cast(d38x) * col("y")).as("sxy"),
          sum(col("x").cast(d38x) * col("x")).as("sxx"),
          sum(col("y").cast(d38x) * col("y")).as("syy"))
        .select(col("lag").cast(LongType).as("lag"), col("n").as("n_pairs"),
          (round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType))),
            6) + 0.0).as("xcorr6"))
        .orderBy("lag")
    },

    // Survivorship (golden-record construction, the MDM merge step): one
    // record per user assembled by per-FIELD rules — most RECENT non-null
    // email (FILTER'd arg-max on the composite (time, id) key), most
    // FREQUENT event type (count desc, name asc), max value, first-seen
    // timestamp, event count. A nullable email is synthesized
    // deterministically (every 7th event NULL) so the recency rule is
    // actually exercised. One grouped pass + one mode rank — two shuffles
    // on user_id at any scale.
    q("pipeline_dedup_survivorship",
      """WITH e AS (SELECT user_id, event_id, event_type, value, ts,
        |    (epoch_us(ts) - 1704067200000000) * 1000000 + event_id AS okey,
        |    CASE WHEN event_id % 7 = 0 THEN NULL
        |         ELSE printf('u%d_%d@ex.com', user_id, event_id % 5) END AS email
        |  FROM events),
        |base AS (SELECT user_id,
        |    arg_max(email, okey) FILTER (WHERE email IS NOT NULL) AS email_latest,
        |    max(value) AS value_max, min(ts) AS first_seen,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM e GROUP BY 1),
        |tc AS (SELECT user_id, event_type, count(*) AS cnt FROM e GROUP BY 1, 2),
        |md AS (SELECT user_id, event_type AS type_mode FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY cnt DESC, event_type) AS rn FROM tc) WHERE rn = 1)
        |SELECT b.user_id, b.email_latest, md.type_mode, b.value_max,
        |  b.first_seen, b.n_events
        |FROM base b JOIN md ON b.user_id = md.user_id
        |ORDER BY b.user_id""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .withColumn("okey",
          (expr("unix_micros(cast(ts as timestamp))") - lit(1704067200000000L))
            * 1000000L + col("event_id"))
        .withColumn("email",
          when(col("event_id") % 7 === 0, lit(null).cast(StringType))
            .otherwise(format_string("u%d_%d@ex.com", col("user_id"),
              col("event_id") % 5)))
      val base = e.groupBy("user_id").agg(
        expr("max_by(email, okey) FILTER (WHERE email IS NOT NULL)")
          .as("email_latest"),
        max(col("value")).as("value_max"),
        min(col("ts")).as("first_seen"),
        count(lit(1)).cast(LongType).as("n_events"))
      val md = e.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("cnt").desc, col("event_type"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("type_mode"))
      base.join(md, "user_id")
        .select(col("user_id"), col("email_latest"), col("type_mode"),
          col("value_max"), col("first_seen"), col("n_events"))
        .orderBy("user_id")
    },

    // Farthest-point sampling (maxmin diversity / k-means++-style
    // initialization): greedily pick 5 vectors, each the one with the
    // SMALLEST maximum similarity to everything already chosen — coreset
    // construction for clustering seeds and diverse eval sets. Unit-norm
    // embeddings make max-cosine the coverage radius. k is a small
    // constant, so the k−1 sequential refinement layers are each ONE
    // scan + 1-row TakeOrdered — the inherently-greedy part stays k-bounded
    // while every scan parallelizes; similarities go through the codegen'd
    // vec_dot at 6dp so the argmin ordering is engine-exact.
    q("vector_maxmin_diversity",
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |c1 AS (SELECT vec_id, e FROM v WHERE vec_id = 0),
        |m1 AS (SELECT v.vec_id, v.e,
        |    round(list_dot_product(v.e, c1.e), 6) AS ms FROM v CROSS JOIN c1),
        |p2 AS (SELECT vec_id, e, ms FROM m1 ORDER BY ms, vec_id LIMIT 1),
        |m2 AS (SELECT m1.vec_id, m1.e,
        |    greatest(m1.ms, round(list_dot_product(m1.e, p2.e), 6)) AS ms
        |  FROM m1 CROSS JOIN p2),
        |p3 AS (SELECT vec_id, e, ms FROM m2 ORDER BY ms, vec_id LIMIT 1),
        |m3 AS (SELECT m2.vec_id, m2.e,
        |    greatest(m2.ms, round(list_dot_product(m2.e, p3.e), 6)) AS ms
        |  FROM m2 CROSS JOIN p3),
        |p4 AS (SELECT vec_id, e, ms FROM m3 ORDER BY ms, vec_id LIMIT 1),
        |m4 AS (SELECT m3.vec_id, m3.e,
        |    greatest(m3.ms, round(list_dot_product(m3.e, p4.e), 6)) AS ms
        |  FROM m3 CROSS JOIN p4),
        |p5 AS (SELECT vec_id, e, ms FROM m4 ORDER BY ms, vec_id LIMIT 1)
        |SELECT * FROM (
        |  SELECT 1 AS r, CAST(vec_id AS BIGINT) AS vec_id,
        |    CAST(NULL AS DOUBLE) AS cover_sim FROM c1
        |  UNION ALL SELECT 2, vec_id, ms FROM p2
        |  UNION ALL SELECT 3, vec_id, ms FROM p3
        |  UNION ALL SELECT 4, vec_id, ms FROM p4
        |  UNION ALL SELECT 5, vec_id, ms FROM p5) ORDER BY r""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val dot = (a: Column, b: Column) => call_function("vec_dot", a, b)
      val v = T.t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("e"))
      val c1 = v.filter(col("vec_id") === 0)
        .select(col("vec_id").as("cid"), col("e").as("ce"))
      // layer k: ms_k = max(ms_{k-1}, sim to the newly chosen point);
      // the next pick is a 1-row TakeOrdered on (ms, vec_id).
      // r17 (VERDICT r16 #3): each refinement layer is lazily
      // localCheckpoint'd — without it, p2..p5 and the final union each
      // re-executed the ENTIRE greedy lineage from the scan (~15 redundant
      // passes over the embeddings table; the board's worst 32-core
      // anti-scaler at 0.20, and at 100 TB each redundant pass is a full
      // table scan). The first consuming job materializes each layer once;
      // every later reference (next layer's broadcast pick, the union
      // branches) reads the cached generation. Values unchanged —
      // checkpointing only truncates lineage.
      def refine(m: DataFrame, pick: DataFrame): DataFrame =
        m.crossJoin(broadcast(pick.select(col("e").as("pe"))))
          .withColumn("ms", greatest(col("ms"), round(dot(col("e"), col("pe")), 6)))
          .drop("pe")
          .localCheckpoint(false)
      val m1 = v.crossJoin(broadcast(c1))
        .withColumn("ms", round(dot(col("e"), col("ce")), 6))
        .select("vec_id", "e", "ms")
        .localCheckpoint(false)
      val p2 = m1.orderBy(col("ms"), col("vec_id")).limit(1)
      val m2 = refine(m1, p2)
      val p3 = m2.orderBy(col("ms"), col("vec_id")).limit(1)
      val m3 = refine(m2, p3)
      val p4 = m3.orderBy(col("ms"), col("vec_id")).limit(1)
      val m4 = refine(m3, p4)
      val p5 = m4.orderBy(col("ms"), col("vec_id")).limit(1)
      def row(r: Int, p: DataFrame): DataFrame =
        p.select(lit(r).as("r"), col("vec_id").cast(LongType).as("vec_id"),
          col("ms").cast(DoubleType).as("cover_sim"))
      c1.select(lit(1).as("r"), col("cid").cast(LongType).as("vec_id"),
          lit(null).cast(DoubleType).as("cover_sim"))
        .unionAll(row(2, p2)).unionAll(row(3, p3))
        .unionAll(row(4, p4)).unionAll(row(5, p5))
        .orderBy("r")
    },

    // ViT-style tile manifest from image metadata — the preprocessing PLAN
    // every vision pipeline computes before patching: 32×32 tile grid per
    // frame, padding to the tile boundary, 16-tile batch count. The
    // (stubbed) decode runs in mapPartitions exactly like multimodal_meta
    // (image libs absent in this container — mandate), and everything
    // after the decode is scan-level integer arithmetic: at 100 TB the
    // manifest job is one map stage that never shuffles before its
    // presentation sort.
    q("multimodal_tile_manifest",
      """WITH m AS (SELECT doc_id,
        |    CAST(64 + (n_chars % 64) AS BIGINT) AS w,
        |    CAST(64 + ((n_chars * 7) % 64) AS BIGINT) AS h,
        |    CAST(1 + (n_chars % 5) AS BIGINT) AS n_frames
        |  FROM documents)
        |SELECT doc_id, w, h,
        |  (w + 31) // 32 AS tiles_x, (h + 31) // 32 AS tiles_y,
        |  ((w + 31) // 32) * 32 - w AS pad_w,
        |  ((h + 31) // 32) * 32 - h AS pad_h,
        |  ((w + 31) // 32) * ((h + 31) // 32) * n_frames AS n_tiles,
        |  (((w + 31) // 32) * ((h + 31) // 32) * n_frames + 15) // 16 AS n_batches
        |FROM m ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      T.t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, payload) =>
            // stubbed decode (multimodal_meta's contract): deterministic
            // pseudo-dimensions from the payload
            val n = payload.length
            (id, (64 + (n % 64)).toLong, (64 + ((n * 7) % 64)).toLong,
              (1 + (n % 5)).toLong)
          }
        }
        .toDF("doc_id", "w", "h", "n_frames")
        .select(col("doc_id"), col("w"), col("h"),
          expr("(w + 31) div 32").as("tiles_x"),
          expr("(h + 31) div 32").as("tiles_y"),
          expr("((w + 31) div 32) * 32 - w").as("pad_w"),
          expr("((h + 31) div 32) * 32 - h").as("pad_h"),
          expr("((w + 31) div 32) * ((h + 31) div 32) * n_frames").as("n_tiles"),
          expr("(((w + 31) div 32) * ((h + 31) div 32) * n_frames + 15) div 16")
            .as("n_batches"))
        .orderBy("doc_id")
    },

    // URL canonicalization + dedup — the CommonCrawl-style "same page,
    // different URL dressing" collapse: messy URLs (mixed-case host,
    // trailing slash, utm_* tracking params — synthesized
    // deterministically so every dressing variant occurs) are canonicalized
    // by regex (lower host, strip tracking query, trim trailing slash) and
    // deduped on the canonical form with a min-id survivor. One scan of
    // regex projections + one canonical-key shuffle at any scale.
    q("text_dedup_url_canonical",
      """WITH u AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'https://CDN.Example.COM/page/' || CAST(doc_id % 250 AS VARCHAR)
        |      WHEN doc_id % 3 = 1
        |      THEN 'https://cdn.example.com/page/' || CAST(doc_id % 250 AS VARCHAR) || '/'
        |      ELSE 'https://cdn.example.com/page/' || CAST(doc_id % 250 AS VARCHAR)
        |        || '?utm_source=feed&utm_campaign=x' END AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    'https://' || lower(regexp_extract(url, '://([^/]+)/', 1)) ||
        |      rtrim(regexp_extract(url, '://[^/]+(/[^?]*)', 1), '/') AS canonical
        |  FROM u)
        |SELECT canonical, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS survivor_id
        |FROM c GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1""") { (s, dir) =>
      val u = T.t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit("https://CDN.Example.COM/page/"), col("doc_id") % 250))
          .when(col("doc_id") % 3 === 1,
            concat(lit("https://cdn.example.com/page/"), col("doc_id") % 250,
              lit("/")))
          .otherwise(concat(lit("https://cdn.example.com/page/"),
            col("doc_id") % 250, lit("?utm_source=feed&utm_campaign=x")))
          .as("url"))
      u.select(col("doc_id"),
          concat(lit("https://"),
            lower(regexp_extract(col("url"), "://([^/]+)/", 1)),
            rtrim(regexp_extract(col("url"), "://[^/]+(/[^?]*)", 1), "/"))
            .as("canonical"))
        .groupBy("canonical")
        .agg(count(lit(1)).cast(LongType).as("n_docs"),
          min(col("doc_id")).cast(LongType).as("survivor_id"))
        .filter(col("n_docs") >= 2)
        .orderBy("canonical")
    },

    // Tokenizer-vocabulary coverage: OOV rate per source against the
    // corpus top-1000 vocabulary — the "will my tokenizer fragment this
    // shard" report run before committing a vocab. The vocab is a
    // TakeOrdered-style rank cut broadcast to the token stream; counts and
    // the OOV share are exact integers (T.r6). Two explode+count shuffles
    // (vocab build, per-source classify) — both map-side combinable.
    q("text_oov_rate",
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |vocab AS (SELECT term FROM (
        |    SELECT term, row_number() OVER (
        |      ORDER BY count(*) DESC, term) AS rn
        |    FROM tok GROUP BY term) WHERE rn <= 1000),
        |cl AS (SELECT t.source,
        |    CAST(count(*) AS BIGINT) AS n_tok,
        |    CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM tok t LEFT JOIN vocab v ON t.term = v.term GROUP BY 1)
        |SELECT source, n_tok, n_oov,
        |  CAST((2000000*n_oov + n_tok) // (2*n_tok) AS BIGINT) / 1000000.0 AS oov_rate
        |FROM cl ORDER BY source""") { (s, dir) =>
      val tok = T.t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
      val vocab = tok.groupBy("term").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(1000)
        .select(col("term").as("vterm"))
      tok.join(broadcast(vocab), col("term") === col("vterm"), "left")
        .groupBy("source").agg(
          count(lit(1)).cast(LongType).as("n_tok"),
          sum(when(col("vterm").isNull, 1).otherwise(0)).cast(LongType).as("n_oov"))
        .select(col("source"), col("n_tok"), col("n_oov"),
          T.r6("n_oov", "n_tok").as("oov_rate"))
        .orderBy("source")
    },

    // NATIVE as-of join (graft.plans.AsOfJoin — the second whole-operator
    // extension beside operator_topk_native): each purchase matched to the
    // LAST click of the same user at-or-before its timestamp through a
    // custom LogicalPlan → SparkStrategy → BinaryExecNode that declares
    // ClusteredDistribution per side and per-side (key, ts) orderings —
    // two independent exchanges/sorts + one O(1)-state forward merge,
    // instead of the declarative union + mixed-stream window sort. The
    // oracle is the declarative running-max-window twin; TenSpec
    // additionally pins native ≡ declarative inside Spark and the exec's
    // presence in the plan.
    q("operator_asof_native",
      """WITH base AS (SELECT event_id, user_id, ts,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
        |    CAST(epoch_us(ts) - 1704067200000000 AS HUGEINT) * 10000000000
        |      + event_id AS okey
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |w AS (SELECT event_id, user_id, ts, is_p,
        |    max(CASE WHEN is_p = 0 THEN okey END) OVER (
        |      PARTITION BY user_id ORDER BY ts, is_p, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cok
        |  FROM base)
        |SELECT event_id, user_id, ts,
        |  CAST(cok % 10000000000 AS BIGINT) AS c_id,
        |  CAST(((epoch_us(ts) - 1704067200000000) - (cok // 10000000000))
        |    // 1000000 AS BIGINT) AS gap_s
        |FROM w WHERE is_p = 1 ORDER BY event_id""") { (s, dir) =>
      // okey packs (ts-delta, event_id) into one orderable number so the
      // running max IS the as-of pick; the id slot is 1e10 wide (HUGEINT
      // packing) — the r11 sf1 probe showed the old 1e6 slot silently
      // mangling the decoded c_id once generated event_ids crossed 1e6,
      // while the native operator was right
      val ev = T.t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      graft.plans.AsOf.asofJoin(purchases, clicks,
          Seq("user_id"), Seq("c_user"), "ts", "c_ts", Seq("c_id"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("c_id"),
          expr("(unix_micros(cast(ts as timestamp)) - " +
            "unix_micros(cast(c_ts as timestamp))) DIV 1000000").as("gap_s"))
        .orderBy("event_id")
    },

    // Schema contract check — data-contract testing (the CI gate every
    // producer/consumer handshake runs): a DECLARED column/type contract is
    // diffed against the table's actual schema, emitting one row per
    // violation (missing column, unexpected column, type mismatch). The
    // contract deliberately mis-declares l_linenumber as int64, declares a
    // nonexistent l_comment, and omits l_tax — exercising all three
    // violation classes. Types normalize to an engine-neutral vocabulary
    // (Spark simpleString / DuckDB DESCRIBE both map into it). Metadata
    // only — no data is read at any scale.
    q("dq_schema_contract_check",
      """WITH actual AS (SELECT column_name AS col,
        |    CASE column_type WHEN 'BIGINT' THEN 'int64'
        |      WHEN 'INTEGER' THEN 'int32' WHEN 'DOUBLE' THEN 'float64'
        |      WHEN 'VARCHAR' THEN 'string' WHEN 'TIMESTAMP' THEN 'timestamp'
        |      ELSE lower(column_type) END AS atype
        |  FROM (DESCRIBE lineitem)),
        |contract(col, etype) AS (VALUES
        |  ('l_orderkey', 'int64'), ('l_partkey', 'int64'),
        |  ('l_suppkey', 'int64'), ('l_linenumber', 'int64'),
        |  ('l_quantity', 'float64'), ('l_extendedprice', 'float64'),
        |  ('l_discount', 'float64'), ('l_returnflag', 'string'),
        |  ('l_linestatus', 'string'), ('l_shipdate', 'timestamp'),
        |  ('l_comment', 'string'))
        |SELECT COALESCE(c.col, a.col) AS col, c.etype AS expected_type,
        |  a.atype AS actual_type,
        |  CASE WHEN a.col IS NULL THEN 'missing_column'
        |       WHEN c.col IS NULL THEN 'unexpected_column'
        |       ELSE 'type_mismatch' END AS violation
        |FROM contract c FULL JOIN actual a ON c.col = a.col
        |WHERE a.col IS NULL OR c.col IS NULL OR c.etype <> a.atype
        |ORDER BY 1""") { (s, dir) =>
      import s.implicits._
      val norm = Map("bigint" -> "int64", "int" -> "int32",
        "double" -> "float64", "string" -> "string",
        "timestamp_ntz" -> "timestamp", "timestamp" -> "timestamp")
      val actual = T.t(s, dir, "lineitem").schema.fields.toSeq
        .map(f => (f.name,
          norm.getOrElse(f.dataType.simpleString, f.dataType.simpleString)))
        .toDF("acol", "atype")
      val contract = Seq(
        ("l_orderkey", "int64"), ("l_partkey", "int64"),
        ("l_suppkey", "int64"), ("l_linenumber", "int64"),
        ("l_quantity", "float64"), ("l_extendedprice", "float64"),
        ("l_discount", "float64"), ("l_returnflag", "string"),
        ("l_linestatus", "string"), ("l_shipdate", "timestamp"),
        ("l_comment", "string")).toDF("ccol", "etype")
      contract.join(actual, col("ccol") === col("acol"), "full_outer")
        .filter(col("acol").isNull || col("ccol").isNull ||
          col("etype") =!= col("atype"))
        .select(coalesce(col("ccol"), col("acol")).as("col"),
          col("etype").as("expected_type"), col("atype").as("actual_type"),
          when(col("acol").isNull, "missing_column")
            .when(col("ccol").isNull, "unexpected_column")
            .otherwise("type_mismatch").as("violation"))
        .orderBy("col")
    },

    // Cramér's V — the normalized effect size on top of the chi² machinery
    // (stat_chi2_independence emits per-cell contributions; V needs the
    // SUM, which must never be a float sum across cells): each cell's
    // (n·o − rt·ct)²·10⁶ div (n·rt·ct) is ONE exact integer division in
    // DECIMAL(38,0) micro-units (the anova fixed-point trick), the
    // micro-contributions SUM exactly, and V = √(χ²/(n·min(r−1,c−1)))
    // ends in a single IEEE chain at 6dp.
    q("stat_cramers_v",
      """WITH base AS (SELECT event_type AS et,
        |    CAST(date_part('dow', ts) AS INT) AS dow FROM events),
        |o AS (SELECT et, dow, CAST(count(*) AS HUGEINT) AS o FROM base GROUP BY 1, 2),
        |rt AS (SELECT et, CAST(count(*) AS HUGEINT) AS rt FROM base GROUP BY 1),
        |ct AS (SELECT dow, CAST(count(*) AS HUGEINT) AS ct FROM base GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM base),
        |cells AS (SELECT ((n*o - rt*ct)*(n*o - rt*ct)*1000000) // (n*rt*ct) AS cm
        |  FROM o JOIN rt USING (et) JOIN ct USING (dow) CROSS JOIN n),
        |agg AS (SELECT CAST(sum(cm) AS HUGEINT) AS chi2_micro,
        |    (SELECT CAST(count(*) AS BIGINT) FROM rt) AS r,
        |    (SELECT CAST(count(*) AS BIGINT) FROM ct) AS c,
        |    (SELECT CAST(n AS BIGINT) FROM n) AS n
        |  FROM cells)
        |SELECT r, c, n, CAST(chi2_micro AS BIGINT) AS chi2_micro,
        |  round(sqrt(CAST(chi2_micro AS DOUBLE) /
        |    (1000000.0 * CAST(n AS DOUBLE) *
        |     CAST(least(r - 1, c - 1) AS DOUBLE))), 6) + 0.0 AS cramers_v
        |FROM agg""") { (s, dir) =>
      val base = T.t(s, dir, "events")
        .select(col("event_type").as("et"),
          (dayofweek(col("ts")) - 1).cast(IntegerType).as("dow"))
      val o = base.groupBy("et", "dow").agg(count(lit(1)).as("o"))
      val rt = base.groupBy("et").agg(count(lit(1)).as("rt"))
      val ct = base.groupBy("dow").agg(count(lit(1)).as("ct"))
      val n = base.agg(count(lit(1)).as("n"))
      val d38 = DecimalType(38, 0)
      val cells = o.join(broadcast(rt), "et").join(broadcast(ct), "dow")
        .crossJoin(broadcast(n))
        .select(expr(
          """((cast(n as decimal(38,0))*o - cast(rt as decimal(38,0))*ct) *
            |  (cast(n as decimal(38,0))*o - cast(rt as decimal(38,0))*ct) *
            |  1000000L)
            |div (cast(n as decimal(38,0)) * rt * ct)""".stripMargin).as("cm"))
      val rc = rt.agg(count(lit(1)).cast(LongType).as("r"))
        .crossJoin(ct.agg(count(lit(1)).cast(LongType).as("c")))
        .crossJoin(n.select(col("n").cast(LongType).as("n")))
      cells.agg(sum(col("cm")).cast(d38).as("chi2_micro"))
        .crossJoin(broadcast(rc))
        .select(col("r"), col("c"), col("n"),
          col("chi2_micro").cast(LongType).as("chi2_micro"),
          (round(sqrt(col("chi2_micro").cast(DoubleType) /
            (lit(1000000.0) * col("n").cast(DoubleType) *
              least(col("r") - 1, col("c") - 1).cast(DoubleType))), 6) + 0.0)
            .as("cramers_v"))
    },

    // Mutual information of the (event type × JSON-prop decile) contingency
    // table, emitted PER CELL (the dq_population_stability contract: each
    // cell's p·ln(p_ij·n/(p_i·p_j·…)) term comes from exact integer counts
    // through one identically-parenthesized ln chain at 6dp — a float sum
    // across cells never happens in-engine). The association screen for
    // feature selection over categorical pairs.
    q("stat_mutual_information",
      """WITH base AS (SELECT event_type AS et,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) % 10 AS kb
        |  FROM events),
        |o AS (SELECT et, kb, CAST(count(*) AS BIGINT) AS o FROM base GROUP BY 1, 2),
        |rt AS (SELECT et, CAST(count(*) AS BIGINT) AS rt FROM base GROUP BY 1),
        |ct AS (SELECT kb, CAST(count(*) AS BIGINT) AS ct FROM base GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
        |SELECT et, kb, o,
        |  round((CAST(o AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    ln((CAST(o AS DOUBLE) * CAST(n AS DOUBLE)) /
        |       (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))), 6) + 0.0 AS mi_contrib
        |FROM o JOIN rt USING (et) JOIN ct USING (kb) CROSS JOIN n
        |ORDER BY et, kb""") { (s, dir) =>
      val base = T.t(s, dir, "events")
        .select(col("event_type").as("et"),
          (get_json_object(col("props"), "$.k").cast(IntegerType) % 10).as("kb"))
      val o = base.groupBy("et", "kb").agg(count(lit(1)).cast(LongType).as("o"))
      val rt = base.groupBy("et").agg(count(lit(1)).cast(LongType).as("rt"))
      val ct = base.groupBy("kb").agg(count(lit(1)).cast(LongType).as("ct"))
      val n = base.agg(count(lit(1)).cast(LongType).as("n"))
      o.join(broadcast(rt), "et").join(broadcast(ct), "kb")
        .crossJoin(broadcast(n))
        .select(col("et"), col("kb"), col("o"),
          (round((col("o").cast(DoubleType) / col("n").cast(DoubleType)) *
            expr("ln((CAST(o AS DOUBLE) * CAST(n AS DOUBLE)) /" +
              " (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))"), 6) + 0.0)
            .as("mi_contrib"))
        .orderBy("et", "kb")
    },

    // Holt's linear-trend double exponential smoothing (α = β = ½) over the
    // daily view-count series — the forecasting sibling of the truncated
    // window_ewma_kernel. With dyadic smoothing weights every level/trend
    // value is an EXACT binary rational (≤43 significant bits over the
    // ≤31-day spine — halving is lossless in IEEE doubles), so both engines
    // produce bit-identical UNROUNDED doubles: the recursion is emitted
    // raw, no 6dp boundary at all. The sequential recursion runs inside
    // one task over the calendar-bounded spine (≤31 rows after the
    // distributed day aggregation) — the same bounded-spine argument as
    // the CUSUM/SPRT keys; everything data-sized stays distributed.
    q("ts_holt_linear",
      """WITH RECURSIVE daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |idx AS (SELECT d, y, row_number() OVER (ORDER BY d) AS rn FROM daily),
        |rec AS (
        |  SELECT rn, d, y, y AS l, CAST(0 AS DOUBLE) AS b
        |  FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT i.rn, i.d, i.y,
        |    (i.y + (r.l + r.b)) / 2,
        |    (((i.y + (r.l + r.b)) / 2 - r.l) + r.b) / 2
        |  FROM idx i JOIN rec r ON i.rn = r.rn + 1)
        |SELECT d, y, l AS level, b AS trend, l + b AS forecast_next
        |FROM rec ORDER BY d""") { (s, dir) =>
      import s.implicits._
      T.t(s, dir, "events").filter(col("event_type") === "view")
        .groupBy(col("ts").cast(DateType).as("d"))
        .agg(count(lit(1)).cast(DoubleType).as("y"))
        .orderBy("d").coalesce(1)
        .as[(java.sql.Date, Double)]
        .mapPartitions { it =>
          // sequential Holt recursion over the ≤31-row sorted spine; the
          // formulas mirror the oracle's recursive CTE token-for-token
          var l = 0.0; var b = 0.0; var first = true
          it.map { case (d, y) =>
            if (first) { l = y; b = 0.0; first = false }
            else {
              val lN = (y + (l + b)) / 2
              val bN = ((lN - l) + b) / 2
              l = lN; b = bN
            }
            (d, y, l, b, l + b)
          }
        }
        .toDF("d", "y", "level", "trend", "forecast_next")
        .orderBy("d")
    },

    // Bollinger bands over the trailing 20-row price window per supplier —
    // the control-band monitor beside window_rolling_corr (same exact
    // integer-cent windowed moments): mid = exact cent rational (T.r6),
    // σ = √(n·Σy²−(Σy)²)/(100n) one IEEE chain, bands mid±2σ, and the
    // breakout flag compares bit-identical doubles so it is engine-exact.
    q("window_bollinger_bands",
      """WITH li AS (SELECT l_suppkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |    l_shipdate, l_orderkey, l_linenumber
        |  FROM lineitem WHERE l_suppkey <= 2),
        |w AS (SELECT l_suppkey,
        |    row_number() OVER win AS rn, y,
        |    count(*) OVER winf AS n,
        |    sum(y) OVER winf AS sy, sum(y*y) OVER winf AS syy
        |  FROM li
        |  WINDOW win AS (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber, y),
        |    winf AS (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber, y
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |b AS (SELECT l_suppkey, CAST(rn AS BIGINT) AS rn,
        |    CAST(y AS DOUBLE) / 100.0 AS price,
        |    CAST((2000000*sy + 100*n) // (2*(100*n)) AS BIGINT) / 1000000.0 AS mid,
        |    sqrt(CAST(n*syy - sy*sy AS DOUBLE)) / (100.0 * CAST(n AS DOUBLE)) AS sd
        |  FROM w WHERE rn >= 20)
        |SELECT l_suppkey, rn, price, mid,
        |  round(mid + (2.0 * sd), 6) + 0.0 AS upper_band,
        |  round(mid - (2.0 * sd), 6) + 0.0 AS lower_band,
        |  (price > mid + (2.0 * sd) OR price < mid - (2.0 * sd)) AS is_breakout
        |FROM b ORDER BY l_suppkey, rn""") { (s, dir) =>
      val li = T.t(s, dir, "lineitem").filter(col("l_suppkey") <= 2)
        .withColumn("y", (col("l_extendedprice").cast(T.dec) * 100).cast(LongType))
      val ord = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("y"))
      val win = Window.partitionBy("l_suppkey").orderBy(ord: _*)
      val winf = win.rowsBetween(-19, Window.currentRow)
      val b = li.withColumn("rn", row_number().over(win))
        .withColumn("n", count(lit(1)).over(winf))
        .withColumn("sy", sum(col("y")).over(winf))
        .withColumn("syy", sum(col("y") * col("y")).over(winf))
        .filter(col("rn") >= 20)
        .select(col("l_suppkey"), col("rn").cast(LongType).as("rn"),
          (col("y").cast(DoubleType) / 100.0).as("price"),
          T.r6("sy", "100 * n").as("mid"),
          (sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType))
            / (lit(100.0) * col("n").cast(DoubleType))).as("sd"))
      b.select(col("l_suppkey"), col("rn"), col("price"), col("mid"),
          (round(col("mid") + (lit(2.0) * col("sd")), 6) + 0.0).as("upper_band"),
          (round(col("mid") - (lit(2.0) * col("sd")), 6) + 0.0).as("lower_band"),
          (col("price") > col("mid") + (lit(2.0) * col("sd")) ||
           col("price") < col("mid") - (lit(2.0) * col("sd"))).as("is_breakout"))
        .orderBy("l_suppkey", "rn")
    },

    // Length-bucket batching report — the padding-efficiency planning step
    // of training-batch construction (bucketing by length minimizes pad
    // waste): docs binned into 16-token buckets, per bucket the used vs
    // padded token counts (pad to the bucket ceiling) and the exact pad
    // share (T.r6). One scan + one enum-sized agg.
    q("pipeline_length_buckets",
      """WITH d AS (SELECT len(string_split(text, ' ')) AS toks FROM documents),
        |b AS (SELECT (toks // 16) * 16 AS bucket, toks FROM d)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS tokens_used,
        |  CAST(count(*) * (bucket + 16) - sum(toks) AS BIGINT) AS tokens_padded,
        |  CAST((2000000*(count(*) * (bucket + 16) - sum(toks))
        |      + count(*) * (bucket + 16))
        |    // (2*(count(*) * (bucket + 16))) AS BIGINT) / 1000000.0 AS pad_share
        |FROM b GROUP BY bucket ORDER BY bucket""") { (s, dir) =>
      T.t(s, dir, "documents")
        .select(size(split(col("text"), " ")).cast(LongType).as("toks"))
        .withColumn("bucket", expr("(toks div 16) * 16"))
        .groupBy("bucket").agg(
          count(lit(1)).cast(LongType).as("n_docs"),
          sum(col("toks")).cast(LongType).as("tokens_used"))
        .withColumn("tokens_padded",
          (col("n_docs") * (col("bucket") + 16) - col("tokens_used"))
            .cast(LongType))
        .select(col("bucket").cast(LongType).as("bucket"), col("n_docs"),
          col("tokens_used"), col("tokens_padded"),
          T.r6("tokens_padded", "n_docs * (bucket + 16)").as("pad_share"))
        .orderBy("bucket")
    },

    // Share-of-parent down a dimension hierarchy — the BI ratio every
    // drill-down report carries (nation share of its region, region share
    // of the total): all revenue in exact integer cents, every share a
    // pure-integer rational (T.r6). Two broadcast dim joins + one fact
    // agg + two tiny re-aggregations — the fact table shuffles once.
    q("agg_share_of_parent",
      """WITH rev AS (SELECT n.n_name AS nation, r.r_name AS region,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2),
        |reg AS (SELECT region, CAST(sum(cents) AS HUGEINT) AS rcents FROM rev GROUP BY 1),
        |tot AS (SELECT CAST(sum(cents) AS HUGEINT) AS tcents FROM rev)
        |SELECT rev.region, rev.nation,
        |  CAST((2000000*rev.cents + reg.rcents) // (2*reg.rcents) AS BIGINT)
        |    / 1000000.0 AS nation_share_of_region,
        |  CAST((2000000*reg.rcents + tot.tcents) // (2*tot.tcents) AS BIGINT)
        |    / 1000000.0 AS region_share_of_total
        |FROM rev JOIN reg USING (region) CROSS JOIN tot
        |ORDER BY rev.region, rev.nation""") { (s, dir) =>
      val d38 = DecimalType(38, 0)
      val rev = T.t(s, dir, "orders")
        .join(T.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T.t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T.t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name").as("nation"), col("r_name").as("region"))
        .agg(sum(col("o_totalprice").cast(T.dec) * 100).cast(d38).as("cents"))
      val reg = rev.groupBy("region").agg(sum(col("cents")).cast(d38).as("rcents"))
      val tot = rev.agg(sum(col("cents")).cast(d38).as("tcents"))
      rev.join(broadcast(reg), "region").crossJoin(broadcast(tot))
        .select(col("region"), col("nation"),
          T.r6("cents", "rcents").as("nation_share_of_region"),
          T.r6("rcents", "tcents").as("region_share_of_total"))
        .orderBy("region", "nation")
    },

    // Freshness SLA audit — the data-observability staleness monitor: per
    // event type, lag of its latest event behind the stream head (the
    // global max timestamp — the pipeline's "now"), classified against
    // 1 h / 24 h SLA tiers. All exact integer micro/second arithmetic; one
    // scan + enum agg + 1-row head broadcast.
    q("dq_freshness_sla",
      """WITH m AS (SELECT event_type, max(ts) AS last_ts FROM events GROUP BY 1),
        |h AS (SELECT max(ts) AS head_ts FROM events)
        |SELECT event_type, last_ts,
        |  CAST((epoch_us(head_ts) - epoch_us(last_ts)) // 1000000 AS BIGINT)
        |    AS staleness_s,
        |  CASE WHEN epoch_us(head_ts) - epoch_us(last_ts) <= 3600000000
        |         THEN 'fresh'
        |       WHEN epoch_us(head_ts) - epoch_us(last_ts) <= 86400000000
        |         THEN 'stale' ELSE 'critical' END AS status
        |FROM m CROSS JOIN h ORDER BY event_type""") { (s, dir) =>
      val e = T.t(s, dir, "events")
      val m = e.groupBy("event_type").agg(max(col("ts")).as("last_ts"))
      val h = e.agg(max(col("ts")).as("head_ts"))
      m.crossJoin(broadcast(h))
        .withColumn("lag_us",
          expr("unix_micros(cast(head_ts as timestamp))") -
            expr("unix_micros(cast(last_ts as timestamp))"))
        .select(col("event_type"), col("last_ts"),
          expr("lag_us div 1000000").cast(LongType).as("staleness_s"),
          when(col("lag_us") <= 3600000000L, "fresh")
            .when(col("lag_us") <= 86400000000L, "stale")
            .otherwise("critical").as("status"))
        .orderBy("event_type")
    },

    // ROC AUC by rank statistic — the scale path for classifier evaluation:
    // AUC = U/(n₁n₀) via the Mann–Whitney identity, so it needs NO sorted
    // sweep over raw rows, only the DISTINCT-VALUE spine (the
    // stat_wilcoxon_rank_sum machinery, domain-bounded) with positive/
    // negative counts and one bounded cumulative window per weekday.
    // 2U = Σ na·(2·cum_nb + nb) is an exact integer (ties get half credit
    // by construction), so AUC and Gini = 2·AUC−1 are pure-integer
    // rationals through T.r6/r6s — no float ever sums across rows. Scoring
    // rule audited: does `value` rank purchases above other events?
    q("ml_auc_roc",
      """WITH e AS (SELECT CAST(date_part('dow', ts) AS INT) AS dow, value,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |vc AS (SELECT dow, value,
        |    CAST(sum(pos) AS BIGINT) AS na,
        |    CAST(sum(1 - pos) AS BIGINT) AS nb
        |  FROM e GROUP BY 1, 2),
        |cb AS (SELECT dow, na, nb,
        |    COALESCE(sum(nb) OVER (PARTITION BY dow ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_b
        |  FROM vc),
        |m AS (SELECT dow,
        |    CAST(sum(na) AS HUGEINT) AS nat, CAST(sum(nb) AS HUGEINT) AS nbt,
        |    CAST(sum(na*(2*cum_b + nb)) AS HUGEINT) AS u2
        |  FROM cb GROUP BY 1)
        |SELECT dow, CAST(nat AS BIGINT) AS n_pos, CAST(nbt AS BIGINT) AS n_neg,
        |  CASE WHEN nat*nbt > 0 THEN
        |    CAST((2000000*u2 + 2*nat*nbt) // (4*nat*nbt) AS BIGINT) / 1000000.0
        |  END AS auc6,
        |  CASE WHEN nat*nbt > 0 THEN
        |    (CASE WHEN u2 - nat*nbt < 0 THEN -1 ELSE 1 END) *
        |      CAST((2000000*abs(u2 - nat*nbt) + nat*nbt)
        |        // (2*nat*nbt) AS BIGINT) / 1000000.0
        |  END AS gini6
        |FROM m ORDER BY dow""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .select((dayofweek(col("ts")) - 1).cast(IntegerType).as("dow"),
          col("value"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("pos"))
      val vc = e.groupBy("dow", "value").agg(
        sum(col("pos")).cast(LongType).as("na"),
        sum(lit(1) - col("pos")).cast(LongType).as("nb"))
      val wcum = Window.partitionBy("dow").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cb = vc.withColumn("cum_b",
        coalesce(sum(col("nb")).over(wcum), lit(0L)))
      val d38 = DecimalType(38, 0)
      cb.groupBy("dow").agg(
          sum(col("na")).cast(d38).as("nat"),
          sum(col("nb")).cast(d38).as("nbt"),
          // same per-element overflow class as stat_wilcoxon_rank_sum:
          // na·(2·cum_b+nb) is count×running-total (~1e19 at 100 TB), so
          // the product runs in decimal over the bounded value spine
          sum(col("na").cast(d38) * (lit(2) * col("cum_b") + col("nb")))
            .as("u2"))
        .select(col("dow"),
          col("nat").cast(LongType).as("n_pos"),
          col("nbt").cast(LongType).as("n_neg"),
          when(col("nat") * col("nbt") > 0,
            T.r6("u2", "2*nat*nbt")).as("auc6"),
          when(col("nat") * col("nbt") > 0,
            T.r6s("u2 - nat*nbt", "nat*nbt")).as("gini6"))
        .orderBy("dow")
    },

    // Longest-prefix-match lookup join — the routing-table / geo-IP
    // enrichment shape (CIDR rules at /8, /16, /24). Re-planned from the
    // naive "most specific rule wins" theta join to an EQUI-join on the
    // first octet (every rule carries its /8 bucket; the probe side
    // shuffles nothing extra since the rule table broadcasts), with the
    // /16 and /24 octet matches as residual predicates and the LPM winner
    // chosen by a per-user rank on (prefix_len DESC, rule). Rule table is
    // synthesized deterministically from odd-multiplier sequences (each
    // rule set injective in k, so no duplicate prefixes); unmatched users
    // fall to the 'default' route via left join. Pure integer arithmetic.
    q("join_ip_prefix_lookup",
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |p AS (SELECT user_id, CAST((CAST(user_id AS HUGEINT) * 2654435761)
        |    % 4294967296 AS BIGINT) AS ip FROM u),
        |po AS (SELECT user_id, ip, ip // 16777216 AS o1,
        |    (ip // 65536) % 256 AS o2, (ip // 256) % 256 AS o3 FROM p),
        |r8 AS (SELECT k*2 AS o1, CAST(NULL AS BIGINT) AS o2,
        |    CAST(NULL AS BIGINT) AS o3, 8 AS plen,
        |    'r8-' || CAST(k*2 AS VARCHAR) AS rule FROM range(128) t(k)),
        |r16 AS (SELECT (k*37) % 256, (k*101) % 256, CAST(NULL AS BIGINT),
        |    16, 'r16-' || CAST(k AS VARCHAR) FROM range(128) t(k)),
        |r24 AS (SELECT (k*53) % 256, (k*29) % 256, (k*11) % 256,
        |    24, 'r24-' || CAST(k AS VARCHAR) FROM range(64) t(k)),
        |rules AS (SELECT * FROM r8 UNION ALL SELECT * FROM r16
        |  UNION ALL SELECT * FROM r24),
        |m AS (SELECT po.user_id, r.plen, r.rule
        |  FROM po JOIN rules r ON po.o1 = r.o1
        |    AND (r.plen = 8 OR (r.plen = 16 AND r.o2 = po.o2)
        |      OR (r.plen = 24 AND r.o2 = po.o2 AND r.o3 = po.o3))),
        |best AS (SELECT user_id, plen, rule, row_number() OVER (
        |    PARTITION BY user_id ORDER BY plen DESC, rule) AS rn FROM m)
        |SELECT po.user_id, CAST(po.ip AS BIGINT) AS ip,
        |  CAST(COALESCE(b.plen, 0) AS INT) AS plen,
        |  COALESCE(b.rule, 'default') AS rule
        |FROM po LEFT JOIN best b ON b.user_id = po.user_id AND b.rn = 1
        |ORDER BY po.user_id""") { (s, dir) =>
      val po = T.t(s, dir, "events").select("user_id").distinct()
        .withColumn("ip", T.hash32(col("user_id"), 2654435761L))
        .withColumn("o1", expr("ip div 16777216"))
        .withColumn("o2", expr("(ip div 65536) % 256"))
        .withColumn("o3", expr("(ip div 256) % 256"))
      val r8 = s.range(128).select((col("id") * 2).as("o1"),
        lit(null).cast(LongType).as("o2"), lit(null).cast(LongType).as("o3"),
        lit(8).as("plen"), concat(lit("r8-"), col("id") * 2).as("rule"))
      val r16 = s.range(128).select(((col("id") * 37) % 256).as("o1"),
        ((col("id") * 101) % 256).as("o2"), lit(null).cast(LongType).as("o3"),
        lit(16).as("plen"), concat(lit("r16-"), col("id")).as("rule"))
      val r24 = s.range(64).select(((col("id") * 53) % 256).as("o1"),
        ((col("id") * 29) % 256).as("o2"), ((col("id") * 11) % 256).as("o3"),
        lit(24).as("plen"), concat(lit("r24-"), col("id")).as("rule"))
      val rules = r8.unionAll(r16).unionAll(r24)
      val m = po.join(broadcast(rules),
        po("o1") === rules("o1") &&
          (rules("plen") === 8 ||
            (rules("plen") === 16 && rules("o2") === po("o2")) ||
            (rules("plen") === 24 && rules("o2") === po("o2") &&
              rules("o3") === po("o3"))))
        .select(po("user_id"), rules("plen"), rules("rule"))
      val wbest = Window.partitionBy("user_id")
        .orderBy(col("plen").desc, col("rule"))
      val best = m.withColumn("rn", row_number().over(wbest))
        .filter(col("rn") === 1).select(col("user_id").as("bu"),
          col("plen"), col("rule"))
      po.join(best, po("user_id") === best("bu"), "left")
        .select(po("user_id"), col("ip").cast(LongType).as("ip"),
          coalesce(col("plen"), lit(0)).cast(IntegerType).as("plen"),
          coalesce(col("rule"), lit("default")).as("rule"))
        .orderBy("user_id")
    },

    // Per-term KL-divergence contributions of each source's unigram
    // distribution against the corpus (the "which shard drifted, and on
    // what vocabulary" curation screen) — top-10 terms by contribution per
    // source. The PSI/mutual-information emission contract: the single
    // transcendental ln(c_st·n / (n_s·c_t)) is QUANTIZED immediately
    // (round(ln·10⁶) → BIGINT, both ln operands exact-integer products
    // cast to double once), after which the contribution c_st·lnq/(n_s·10⁶)
    // is a pure-integer rational (T.r6s) and the top-10 rank orders by the
    // exact integer c_st·lnq — no float ever decides a rank or sums across
    // terms. Two map-side-combinable shuffles (term counts, corpus re-agg).
    q("text_kl_divergence",
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |ct AS (SELECT term, CAST(sum(c) AS BIGINT) AS c_t FROM st GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM st),
        |qz AS (SELECT st.source, st.term, st.c, ns.n_s,
        |    CAST(round(ln(CAST(st.c * tot.n AS DOUBLE)
        |      / CAST(ns.n_s * ct.c_t AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS lnq
        |  FROM st JOIN ns USING (source) JOIN ct USING (term) CROSS JOIN tot),
        |rk AS (SELECT source, term, c, n_s, lnq, row_number() OVER (
        |    PARTITION BY source ORDER BY c * lnq DESC, term) AS rn FROM qz)
        |SELECT source, term, c AS cnt, CAST(rn AS BIGINT) AS rn,
        |  (CASE WHEN c*lnq < 0 THEN -1 ELSE 1 END) *
        |    CAST((2000000*abs(c*lnq) + n_s*1000000)
        |      // (2*n_s*1000000) AS BIGINT) / 1000000.0 AS contrib6
        |FROM rk WHERE rn <= 10 ORDER BY source, rn""") { (s, dir) =>
      val st = T.t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).cast(LongType).as("c"))
      val ns = st.groupBy("source").agg(sum("c").cast(LongType).as("n_s"))
      val ct = st.groupBy("term").agg(sum("c").cast(LongType).as("c_t"))
      val tot = st.agg(sum("c").cast(LongType).as("n"))
      val qz = st.join(ns, "source").join(ct, "term").crossJoin(broadcast(tot))
        .withColumn("lnq",
          round(log((col("c") * col("n")).cast(DoubleType) /
            (col("n_s") * col("c_t")).cast(DoubleType)) * 1000000.0, 0)
            .cast(LongType))
      val wrk = Window.partitionBy("source")
        .orderBy((col("c") * col("lnq")).desc, col("term"))
      qz.withColumn("rn", row_number().over(wrk))
        .filter(col("rn") <= 10)
        .select(col("source"), col("term"), col("c").as("cnt"),
          col("rn").cast(LongType).as("rn"),
          T.r6s("c * lnq", "n_s * 1000000L").as("contrib6"))
        .orderBy("source", "rn")
    },

    // Log2-bucketed histogram of order value per priority — the
    // latency-histogram shape every observability stack uses (power-of-two
    // buckets, constant bucket count regardless of domain). The bucket is
    // floor(log2(cents)) computed EXACTLY as length(bin(cents))−1 — a pure
    // integer/string op in both engines, no float log near a power-of-two
    // boundary can ever misbucket. One map-side-combinable hash agg + an
    // enum-sized share re-agg; shares are pure-integer rationals (T.r6).
    q("agg_histogram_log2",
      """WITH o AS (SELECT o_orderpriority AS pri,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT pri, CAST(length(bin(cents)) - 1 AS INT) AS bucket FROM o),
        |g AS (SELECT pri, bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2),
        |t AS (SELECT pri, CAST(sum(n) AS BIGINT) AS tot FROM g GROUP BY 1)
        |SELECT g.pri, g.bucket,
        |  CAST((CAST(1 AS BIGINT) << g.bucket) AS BIGINT) AS lo_cents, g.n,
        |  CAST((2000000*g.n + t.tot) // (2*t.tot) AS BIGINT) / 1000000.0
        |    AS share6
        |FROM g JOIN t ON g.pri = t.pri ORDER BY g.pri, g.bucket""") { (s, dir) =>
      val g = T.t(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"),
          (col("o_totalprice").cast(T.dec) * 100).cast(LongType).as("cents"))
        .withColumn("bucket", (length(bin(col("cents"))) - 1).cast(IntegerType))
        .groupBy("pri", "bucket").agg(count(lit(1)).cast(LongType).as("n"))
      val t = g.groupBy("pri").agg(sum("n").cast(LongType).as("tot"))
      g.join(broadcast(t), "pri")
        .select(col("pri"), col("bucket"),
          expr("shiftleft(1L, bucket)").cast(LongType).as("lo_cents"),
          col("n"), T.r6("n", "tot").as("share6"))
        .orderBy("pri", "bucket")
    },

    // Dedup-index quality audit — vector_recall_at_k's contract applied to
    // the near-dup index: grade the SimHash band index (the pairs
    // dedup_simhash reports, Hamming ≤ 8) against the exact shingle-Jaccard
    // ≥ 0.8 ground truth (the inverted-index path dedup_ngram_jaccard
    // materializes). This is the continuous-evaluation loop a production
    // dedup pipeline runs after retuning bands/thresholds: recall = how
    // much true near-duplication the index surfaces, precision = how much
    // of what it surfaces is real. Counts are exact integers; the shares
    // are pure-integer rationals (T.r6), NULL when a denominator is empty.
    // Both sides reuse the STAGED shingle index / shared helper — the audit
    // adds one candidates⋈truth equi-join over pair keys, nothing else.
    q("dedup_simhash_recall_audit",
      s"""WITH dd AS (SELECT doc_id, string_split(text,' ') AS arr FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(arr)-2),
        |      i -> arr[i+1]||' '||arr[i+2]||' '||arr[i+3])) AS sh
        |  FROM dd),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |keep AS (SELECT sh FROM sh GROUP BY sh
        |  HAVING count(*) BETWEEN 2 AND 10000),
        |common AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN keep ON a.sh = keep.sh
        |  JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |truth AS (SELECT ia, ib
        |  FROM common JOIN sizes sa ON sa.doc_id = ia
        |  JOIN sizes sb ON sb.doc_id = ib
        |  WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.8),
        |${GroupPipeline.simhashOracleCtes},
        |h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
        |  FROM truth t JOIN scand c ON t.ia = c.ia AND t.ib = c.ib),
        |m AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
        |    (SELECT CAST(count(*) AS BIGINT) FROM scand) AS n_cand,
        |    n_hit FROM h)
        |SELECT n_truth, n_cand, n_hit,
        |  CASE WHEN n_truth > 0 THEN
        |    CAST((2000000*n_hit + n_truth) // (2*n_truth) AS BIGINT) / 1000000.0
        |  END AS recall6,
        |  CASE WHEN n_cand > 0 THEN
        |    CAST((2000000*n_hit + n_cand) // (2*n_cand) AS BIGINT) / 1000000.0
        |  END AS precision6
        |FROM m""") { (s, dir) =>
      val truth = GroupPipeline.exactJaccardPairs(s, dir, 0.8)
        .select("ia", "ib")
      val cand = GroupPipeline.simhashNearPairs(s, dir).select("ia", "ib")
      val nTruth = truth.agg(count(lit(1)).cast(LongType).as("n_truth"))
      val nCand = cand.agg(count(lit(1)).cast(LongType).as("n_cand"))
      val nHit = truth.join(cand, Seq("ia", "ib"))
        .agg(count(lit(1)).cast(LongType).as("n_hit"))
      nTruth.crossJoin(broadcast(nCand)).crossJoin(broadcast(nHit))
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          when(col("n_truth") > 0, T.r6("n_hit", "n_truth")).as("recall6"),
          when(col("n_cand") > 0, T.r6("n_hit", "n_cand")).as("precision6"))
    },

    // Cohen's kappa — inter-rater agreement between two rule labelers
    // (the label-quality audit run before trusting any weak-supervision
    // source): two 3-band raters over `value` with offset thresholds, 3×3
    // confusion, κ = (n·agree − Σ rowₘ·colₘ)/(n² − Σ rowₘ·colₘ) — a
    // pure-integer rational (T.r6s; DECIMAL(38,0) since n² is 10¹⁰ at
    // sf0.1 and grows quadratically). One enum-sized confusion agg; the
    // marginal product join is 3×3.
    q("stat_cohens_kappa",
      """WITH r AS (SELECT
        |    CASE WHEN value >= 75 THEN 'hi' WHEN value >= 25 THEN 'mid'
        |      ELSE 'lo' END AS a,
        |    CASE WHEN value >= 70 THEN 'hi' WHEN value >= 30 THEN 'mid'
        |      ELSE 'lo' END AS b
        |  FROM events),
        |cm AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2),
        |mg AS (SELECT CAST(sum(c) AS HUGEINT) AS n,
        |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS HUGEINT) AS agree
        |  FROM cm),
        |ra AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM cm GROUP BY 1),
        |rb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cm GROUP BY 1),
        |pe AS (SELECT CAST(sum(CAST(ra.ca AS HUGEINT) * rb.cb) AS HUGEINT)
        |    AS chance
        |  FROM ra JOIN rb ON ra.a = rb.b)
        |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
        |  CAST((2000000*agree + n) // (2*n) AS BIGINT) / 1000000.0 AS po6,
        |  CAST((2000000*chance + n*n) // (2*n*n) AS BIGINT) / 1000000.0 AS pe6,
        |  (CASE WHEN n*agree - chance < 0 THEN -1 ELSE 1 END) *
        |    CAST((2000000*abs(n*agree - chance) + (n*n - chance))
        |      // (2*(n*n - chance)) AS BIGINT) / 1000000.0 AS kappa6
        |FROM mg CROSS JOIN pe""") { (s, dir) =>
      val d38 = DecimalType(38, 0)
      val cm = T.t(s, dir, "events").select(
          when(col("value") >= 75, "hi").when(col("value") >= 25, "mid")
            .otherwise("lo").as("a"),
          when(col("value") >= 70, "hi").when(col("value") >= 30, "mid")
            .otherwise("lo").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).cast(LongType).as("c"))
      val mg = cm.agg(sum("c").cast(d38).as("n"),
        sum(when(col("a") === col("b"), col("c")).otherwise(0L))
          .cast(d38).as("agree"))
      val ra = cm.groupBy("a").agg(sum("c").cast(LongType).as("ca"))
      val rb = cm.groupBy("b").agg(sum("c").cast(LongType).as("cb"))
      val pe = ra.join(rb, col("a") === col("b"))
        .agg(sum(col("ca").cast(d38) * col("cb")).cast(d38).as("chance"))
      mg.crossJoin(broadcast(pe))
        .select(col("n").cast(LongType).as("n"),
          col("agree").cast(LongType).as("agree"),
          T.r6("agree", "n").as("po6"),
          T.r6("chance", "n*n").as("pe6"),
          T.r6s("n*agree - chance", "n*n - chance").as("kappa6"))
    },

    // HITS hubs & authorities over the directed nation co-purchase graph
    // (customer-nation → supplier-nation, weighted) — the link-analysis
    // sibling of graph_pagerank, and like it re-planned into EXACT integer
    // fixed-point: scores live in integer micro-units, each half-round is
    // one edges⋈scores join + a max-NORMALIZATION by pure integer division
    // (v·10⁶ div max) — no float ever enters the loop, so both engines
    // iterate bit-identically (the 9dp round-tie lesson from the PageRank
    // loop). 3 full rounds; graph is nation-enum-sized after the one
    // star-join materialization, scores broadcast per round.
    q("graph_hits_hubs", {
      val round = (p: Int, c: Int) =>
        s"""h${c}r AS MATERIALIZED (SELECT n.node, coalesce((
           |    SELECT sum(e.w * a$p.av) FROM e JOIN a$p ON a$p.node = e.dst
           |    WHERE e.src = n.node), 0) AS v FROM n),
           |h$c AS MATERIALIZED (SELECT node,
           |    (v * 1000000) // (SELECT max(v) FROM h${c}r) AS hv FROM h${c}r),
           |a${c}r AS MATERIALIZED (SELECT n.node, coalesce((
           |    SELECT sum(e.w * h$c.hv) FROM e JOIN h$c ON h$c.node = e.src
           |    WHERE e.dst = n.node), 0) AS v FROM n),
           |a$c AS MATERIALIZED (SELECT node,
           |    (v * 1000000) // (SELECT max(v) FROM a${c}r) AS av FROM a${c}r)"""
          .stripMargin
      s"""WITH e AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2),
         |n AS (SELECT n_nationkey AS node FROM nation),
         |a0 AS (SELECT node, CAST(1000000 AS BIGINT) AS av FROM n),
         |${round(0, 1)},
         |${round(1, 2)},
         |${round(2, 3)}
         |SELECT node, CAST(hv AS DOUBLE) / 1000000.0 AS hub,
         |  CAST(av AS DOUBLE) / 1000000.0 AS auth
         |FROM h3 JOIN a3 USING (node) ORDER BY node"""
    }) { (s, dir) =>
      // staged shared artifact (r16): see GroupSeven.nationEdges — the
      // star join runs once per dataset, every consumer reads ≤625 rows
      val e = GroupSeven.nationEdges(s, dir)
        .select(col("src"), col("dst"), col("w").cast(LongType).as("w"))
        .localCheckpoint(false)
      val n = T.t(s, dir, "nation").select(col("n_nationkey").as("node"))
      // Per-phase localCheckpoint: REVERTED in r16, RE-FLIPPED in r17.
      // The r16 refutation (1.02 s no-ckpt vs 1.77 s ckpt) was measured
      // under the count() action, which PRUNES the score computation
      // entirely (the guide §1.4 artifact VERDICT r16 #1 called out) —
      // under the honest full-materialization metric the un-truncated
      // ladder costs 9.4 s/round-start run because every normalize's max
      // subquery and every phase's broadcast re-executes the whole
      // predecessor ladder (820-Exchange final tree). With each half-round
      // iterate (≤25 rows at ANY scale) lazily checkpointed, each phase
      // computes once. Same-window noop BenchOne min-of-5: 8.50 → 1.50 s.
      def normalize(raw0: DataFrame, vcol: String): DataFrame = {
        val raw = raw0.localCheckpoint(false)
        val mx = raw.agg(max(col("v")).as("mx"))
        raw.crossJoin(broadcast(mx))
          .select(col("node"), expr("(v * 1000000L) div mx").as(vcol))
          .localCheckpoint(false)
      }
      var auth = n.withColumn("av", lit(1000000L))
      var hub: DataFrame = null
      for (_ <- 1 to 3) {
        val hraw = n.join(
          e.join(broadcast(auth), col("dst") === col("node"))
            .groupBy("src").agg(sum(col("w") * col("av")).as("c")),
          col("node") === col("src"), "left")
          .select(col("node"), coalesce(col("c"), lit(0L)).as("v"))
        hub = normalize(hraw, "hv")
        val araw = n.join(
          e.join(broadcast(hub), col("src") === col("node"))
            .groupBy("dst").agg(sum(col("w") * col("hv")).as("c")),
          col("node") === col("dst"), "left")
          .select(col("node"), coalesce(col("c"), lit(0L)).as("v"))
        auth = normalize(araw, "av")
      }
      hub.join(auth, "node")
        .select(col("node"),
          (col("hv").cast(DoubleType) / 1000000.0).as("hub"),
          (col("av").cast(DoubleType) / 1000000.0).as("auth"))
        .orderBy("node")
    },

    // Ljung–Box portmanteau test (lags 1..7) on the daily view-count
    // series — "is this telemetry series white noise?" The autocovariances
    // use the n²-scaled centering trick (z = n·x − Σx, all exact
    // integers), each ρ is quantized to a micro-unit integer via the
    // exact-int HALF_UP division (|ρ̂ₖ| ≤ 1 by Cauchy–Schwarz, so no
    // overflow), and Q = n(n+2)·Σ ρₖ²/(n−k) clears its denominators
    // through the explicit product Π(n−k) — one exact integer rational in
    // DECIMAL(38,0) (Σ terms reach ~10²⁰), rounded once (T.r6). The series
    // is calendar-bounded (≤31 rows after the day agg), so the lag
    // self-join is ≤31×7 pairs in one task; only the day agg is
    // corpus-sized.
    q("stat_ljung_box",
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
        |  FROM daily),
        |ctr AS (SELECT row_number() OVER (ORDER BY d) AS t, n*x - sx AS z, n
        |  FROM daily CROSS JOIN st),
        |den AS (SELECT CAST(sum(z*z) AS HUGEINT) AS dd, max(n) AS n FROM ctr),
        |num AS (SELECT l.k, CAST(sum(a.z * b.z) AS HUGEINT) AS nk
        |  FROM range(1, 8) l(k) JOIN ctr a ON true JOIN ctr b ON b.t = a.t + l.k
        |  GROUP BY 1),
        |rho AS (SELECT k,
        |    (CASE WHEN nk < 0 THEN -1 ELSE 1 END) *
        |      ((2000000*abs(nk) + dd) // (2*dd)) AS rint, den.n
        |  FROM num CROSS JOIN den),
        |pp AS (SELECT n, (n-1)*(n-2)*(n-3)*(n-4)*(n-5)*(n-6)*(n-7) AS prod,
        |    CAST(sum(rint*rint*
        |      (((n-1)*(n-2)*(n-3)*(n-4)*(n-5)*(n-6)*(n-7)) // (n - k)))
        |      AS HUGEINT) AS sq
        |  FROM rho GROUP BY 1)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |  CAST((2000000*(n*(n+2)*sq) + CAST(prod AS HUGEINT)*1000000000000)
        |    // (2*CAST(prod AS HUGEINT)*1000000000000) AS BIGINT)
        |    / 1000000.0 AS q7_6
        |FROM pp""") { (s, dir) =>
      val d38 = DecimalType(38, 0)
      val daily = T.t(s, dir, "events")
        .filter(col("event_type") === "view")
        .groupBy(col("ts").cast(DateType).as("d"))
        .agg(count(lit(1)).cast(LongType).as("x"))
      val st = daily.agg(count(lit(1)).cast(LongType).as("n"),
        sum("x").cast(LongType).as("sx"))
      val ctr = daily.crossJoin(broadcast(st))
        .withColumn("t", row_number().over(Window.orderBy("d")))
        .select(col("t"), (col("n") * col("x") - col("sx")).as("z"), col("n"))
      // z = n·x − sx is daily-count-sized (~1e12 at 100 TB event volumes),
      // so z·z ~1e24 overflows the long product PER ELEMENT — the multiply
      // itself runs in decimal (r15 overflow audit). Input is the ≤31-row
      // day spine: the decimal cost is nil.
      val den = ctr.agg(sum(col("z").cast(d38) * col("z")).as("dd"),
        max("n").as("n"))
      val lags = s.range(1, 8).select(col("id").as("k"))
      val num = broadcast(lags).crossJoin(ctr.select(col("t"), col("z")))
        .join(ctr.select(col("t").as("t2"), col("z").as("z2")),
          col("t2") === col("t") + col("k"))
        .groupBy("k").agg(sum(col("z").cast(d38) * col("z2")).as("nk"))
      val rho = num.crossJoin(broadcast(den))
        .select(col("k"), col("n"),
          (when(col("nk") < 0, -1L).otherwise(1L) *
            expr("(2000000L * abs(nk) + dd) div (2L * dd)")).as("rint"))
      rho.groupBy("n").agg(
          // rint² · Π/(n−k) ≈ 10²⁰ — cast BEFORE the product, LONG wraps
          sum(col("rint").cast(d38) * col("rint") *
            expr("""((n-1)*(n-2)*(n-3)*(n-4)*(n-5)*(n-6)*(n-7)) div (n - k)"""))
            .cast(d38).as("sq"))
        .select(col("n").cast(LongType).as("n_days"),
          T.r6("CAST(n AS DECIMAL(38,0))*(n+2)*sq",
            "CAST((n-1)*(n-2)*(n-3)*(n-4)*(n-5)*(n-6)*(n-7) AS DECIMAL(38,0))" +
              "*1000000000000").as("q7_6"))
    },

    // Kaplan–Meier conversion-survival curve with right censoring — the
    // time-to-event analysis behind every activation/retention funnel:
    // event = first purchase (days since the user's first event), censor =
    // last observed activity for never-purchasers. The survival product
    // S(t) = Π(1 − dᵢ/nᵢ) is re-planned into the LOG DOMAIN: each step's
    // ln((nᵢ−dᵢ)/nᵢ) is quantized to an integer micro-unit immediately
    // (the Zipf machinery), the cumulative sum over steps is EXACT integer
    // arithmetic, and one final exp on the bit-identical quantized operand
    // (post-transcendental 6dp — tie measure zero) yields the curve. Risk
    // sets are pure integer cumulative windows over the ≤31-day spine;
    // only the per-user reduction is corpus-sized.
    q("window_kaplan_meier",
      """WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS t0,
        |    max(CAST(ts AS DATE)) AS tlast,
        |    min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
        |      AS tconv
        |  FROM events GROUP BY 1),
        |le AS (SELECT user_id,
        |    date_diff('day', t0, tconv) AS ct,
        |    date_diff('day', t0, tlast) AS cz,
        |    (tconv IS NOT NULL) AS converted FROM u),
        |byday AS (SELECT
        |    CAST(CASE WHEN converted THEN ct ELSE cz END AS INT) AS t,
        |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN converted THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM le GROUP BY 1),
        |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS total FROM byday),
        |risk AS (SELECT t, d, c,
        |    total - COALESCE(sum(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nr
        |  FROM byday CROSS JOIN tot),
        |lnq AS (SELECT t, d, c, nr,
        |    CASE WHEN nr > d THEN CAST(round(ln(CAST(nr - d AS DOUBLE)
        |      / CAST(nr AS DOUBLE)) * 1000000.0, 0) AS BIGINT) END AS lq
        |  FROM risk WHERE d > 0),
        |cum AS (SELECT t, d, c, nr,
        |    sum(CASE WHEN lq IS NULL THEN 0 ELSE lq END)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW) AS lns,
        |    max(CASE WHEN lq IS NULL THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW) AS dead
        |  FROM lnq)
        |SELECT t, CAST(nr AS BIGINT) AS n_risk, d AS deaths, c AS censored,
        |  CASE WHEN dead = 1 THEN 0.0
        |    ELSE round(exp(CAST(lns AS DOUBLE) / 1000000.0), 6) END AS surv6
        |FROM cum ORDER BY t""") { (s, dir) =>
      val u = T.t(s, dir, "events")
        .groupBy("user_id").agg(
          min(col("ts").cast(DateType)).as("t0"),
          max(col("ts").cast(DateType)).as("tlast"),
          min(when(col("event_type") === "purchase", col("ts").cast(DateType)))
            .as("tconv"))
      val le = u.select(col("user_id"),
        datediff(col("tconv"), col("t0")).as("ct"),
        datediff(col("tlast"), col("t0")).as("cz"),
        col("tconv").isNotNull.as("converted"))
      val byday = le.groupBy(
          when(col("converted"), col("ct")).otherwise(col("cz")).as("t"))
        .agg(sum(when(col("converted"), 1).otherwise(0)).cast(LongType).as("d"),
          sum(when(col("converted"), 0).otherwise(1)).cast(LongType).as("c"))
      val tot = byday.agg(sum(col("d") + col("c")).cast(LongType).as("total"))
      val wcum = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wrun = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byday.crossJoin(broadcast(tot))
        .withColumn("nr", col("total") -
          coalesce(sum(col("d") + col("c")).over(wcum), lit(0L)))
        .filter(col("d") > 0)
        .withColumn("lq", when(col("nr") > col("d"),
          round(log((col("nr") - col("d")).cast(DoubleType) /
            col("nr").cast(DoubleType)) * 1000000.0, 0).cast(LongType)))
        .withColumn("lns",
          sum(when(col("lq").isNull, 0L).otherwise(col("lq"))).over(wrun))
        .withColumn("dead",
          max(when(col("lq").isNull, 1).otherwise(0)).over(wrun))
        .select(col("t"), col("nr").cast(LongType).as("n_risk"),
          col("d").as("deaths"), col("c").as("censored"),
          when(col("dead") === 1, 0.0)
            .otherwise(round(exp(col("lns").cast(DoubleType) / 1000000.0), 6))
            .as("surv6"))
        .orderBy("t")
    },

    // Manifest/zone-map prune audit — the scan-planning decision a
    // lakehouse table format makes from file-level column statistics,
    // surfaced as data: "files" are month partitions of orders, each with
    // min/max stats on a NON-partition column (total price, integer
    // cents), and the audit reports which files a BETWEEN predicate can
    // skip without opening them. Metadata-shaped at any scale: the stats
    // agg is one map-side-combinable pass; the prune decision itself reads
    // zero data rows. Pure integer comparisons.
    sqlKey("etl_manifest_prune_audit",
      """WITH f AS (SELECT CAST(date_part('year', o_orderdate) * 100
        |      + date_part('month', o_orderdate) AS INT) AS yyyymm,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    min(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS min_cents,
        |    max(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS max_cents
        |  FROM orders GROUP BY 1)
        |SELECT yyyymm, n_rows, min_cents, max_cents,
        |  (max_cents < 5000000 OR min_cents > 20000000) AS pruned
        |FROM f ORDER BY yyyymm"""),

    // Decision-threshold sweep — pick the F1-optimal operating point of the
    // "value ≥ t ⇒ purchase" classifier by evaluating EVERY distinct score
    // as a candidate threshold. Pure spine machinery (the AUC key's): one
    // distinct-value agg, suffix-cumulative tp/fp via a DESC window over
    // the domain-bounded spine, and F1 quantized to an exact HALF_UP
    // micro-unit integer (the r6 integer itself) so the argmax compares
    // INTEGERS — no float ever decides the winner. TakeOrdered(1) final.
    q("ml_threshold_sweep",
      """WITH e AS (SELECT value,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |vc AS (SELECT value, CAST(sum(pos) AS BIGINT) AS na,
        |    CAST(sum(1 - pos) AS BIGINT) AS nb
        |  FROM e GROUP BY 1),
        |cum AS (SELECT value,
        |    sum(na) OVER (ORDER BY value DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |    sum(nb) OVER (ORDER BY value DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
        |    sum(na) OVER () AS p
        |  FROM vc),
        |f AS (SELECT value, tp, fp, p - tp AS fn,
        |    (2000000*(2*tp) + (2*tp + fp + (p - tp)))
        |      // (2*(2*tp + fp + (p - tp))) AS f1i
        |  FROM cum)
        |SELECT value AS thresh, CAST(tp AS BIGINT) AS tp,
        |  CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
        |  CAST(f1i AS BIGINT) / 1000000.0 AS f1_6,
        |  CAST((2000000*tp + (tp + fp)) // (2*(tp + fp)) AS BIGINT)
        |    / 1000000.0 AS prec6,
        |  CAST((2000000*tp + (tp + fn)) // (2*(tp + fn)) AS BIGINT)
        |    / 1000000.0 AS rec6
        |FROM f ORDER BY f1i DESC, value LIMIT 1""") { (s, dir) =>
      val vc = T.t(s, dir, "events")
        .select(col("value"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("pos"))
        .groupBy("value").agg(
          sum(col("pos")).cast(LongType).as("na"),
          sum(lit(1) - col("pos")).cast(LongType).as("nb"))
      val wdesc = Window.orderBy(col("value").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      vc.withColumn("tp", sum(col("na")).over(wdesc))
        .withColumn("fp", sum(col("nb")).over(wdesc))
        .withColumn("p", sum(col("na")).over(wall))
        .withColumn("fn", col("p") - col("tp"))
        .withColumn("f1i",
          expr("(2000000L*(2*tp) + (2*tp + fp + fn)) div (2L*(2*tp + fp + fn))"))
        .orderBy(col("f1i").desc, col("value")).limit(1)
        .select(col("value").as("thresh"),
          col("tp").cast(LongType).as("tp"), col("fp").cast(LongType).as("fp"),
          col("fn").cast(LongType).as("fn"),
          (col("f1i").cast(LongType) / 1000000.0).as("f1_6"),
          T.r6("tp", "tp + fp").as("prec6"),
          T.r6("tp", "tp + fn").as("rec6"))
    },

    // Leave-one-out k-NN evaluation over a deterministic CAPPED-ABSOLUTE
    // eval slice against the FULL corpus minus self — the embedding
    // label-consistency audit (does the space cluster by label?). The
    // slice modulus is DERIVED FROM THE CORPUS COUNT (md = max(10,
    // ceil(n/200)), declaratively — no driver action), so the panel is
    // ~200 rows at ANY scale: slice × corpus is linear in the corpus, not
    // quadratic (the r11 sf1 probe measured 39× wall at ×10 data with the
    // old fixed 10% slice — a fraction × corpus IS corpus²/10). The eval
    // slice BROADCASTS safely by construction (≤ ~200 vectors); 3-NN by
    // exact codegen'd dot, majority vote with (votes DESC, label)
    // tie-break, per-label accuracy as exact integer rationals (T.r6).
    // At sf0.01/sf0.001 the derived md = 10 reproduces the old slice
    // bit-for-bit; the oracle derives the identical md in lockstep.
    q("ml_knn_loocv",
      """WITH m AS (SELECT GREATEST(10, (count(*) + 199) // 200) AS md
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe, label AS tl
        |  FROM embeddings, m WHERE vec_id % md = 0),
        |c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce, label
        |  FROM embeddings),
        |sm AS (SELECT q_id, tl, c_id, label,
        |    round(list_dot_product(qe, ce), 6) AS sim
        |  FROM q CROSS JOIN c WHERE q_id <> c_id),
        |nn AS (SELECT * FROM (SELECT *, row_number() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn FROM sm)
        |  WHERE rn <= 3),
        |v AS (SELECT q_id, tl, label, count(*) AS votes FROM nn GROUP BY 1,2,3),
        |pred AS (SELECT q_id, tl, label AS pl FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY votes DESC, label) AS rn2 FROM v) WHERE rn2 = 1)
        |SELECT tl AS label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN pl = tl THEN 1 ELSE 0 END) AS BIGINT) AS correct,
        |  CAST((2000000*sum(CASE WHEN pl = tl THEN 1 ELSE 0 END) + count(*))
        |    // (2*count(*)) AS BIGINT) / 1000000.0 AS acc6
        |FROM pred GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val e = GroupVector.emb(s, dir)
      // capped-absolute slice modulus, computed in-plan (1-row broadcast)
      val md = e.agg(count(lit(1)).as("nrows"))
        .select(greatest(lit(10L), expr("(nrows + 199) div 200")).as("md"))
      val qs = e.crossJoin(broadcast(md))
        .filter(col("vec_id") % col("md") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("label").as("tl"))
      val cs = e.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        col("label"))
      val nn = cs.crossJoin(broadcast(qs))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("sim", round(
          call_function("vec_dot", col("qe"), col("ce")), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))))
        .filter(col("rn") <= 3)
      nn.groupBy("q_id", "tl", "label").agg(count(lit(1)).as("votes"))
        .withColumn("rn2", row_number().over(
          Window.partitionBy("q_id").orderBy(col("votes").desc, col("label"))))
        .filter(col("rn2") === 1)
        .groupBy(col("tl").as("label")).agg(
          count(lit(1)).cast(LongType).as("n"),
          sum(when(col("label") === col("tl"), 1).otherwise(0))
            .cast(LongType).as("correct"))
        .select(col("label"), col("n"), col("correct"),
          T.r6("correct", "n").as("acc6"))
        .orderBy("label")
    },

    // Fleiss' kappa for THREE rule raters (cohens_kappa widened to the
    // multi-rater panel): with exactly 3 raters the per-item agreement
    // Σⱼ nᵢⱼ(nᵢⱼ−1) collapses to a CASE on the three pairwise equalities
    // (6 / 2 / 0) — no per-item unpivot — and clearing denominators gives
    // κ = (3NS − 2ΣT²)/(18N² − 2ΣT²), a pure-integer rational
    // (DECIMAL(38,0): 18N² is ~10¹² at sf0.1, quadratic in corpus size).
    // Two map-side-combinable scans (agreement sum; label-total explode).
    q("stat_fleiss_kappa",
      """WITH r AS (SELECT
        |    CASE WHEN value >= 75 THEN 'hi' WHEN value >= 25 THEN 'mid'
        |      ELSE 'lo' END AS a,
        |    CASE WHEN value >= 70 THEN 'hi' WHEN value >= 30 THEN 'mid'
        |      ELSE 'lo' END AS b,
        |    CASE WHEN value >= 80 THEN 'hi' WHEN value >= 20 THEN 'mid'
        |      ELSE 'lo' END AS c
        |  FROM events),
        |sn AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CASE WHEN a = b AND b = c THEN 6
        |      WHEN a = b OR b = c OR a = c THEN 2 ELSE 0 END) AS HUGEINT) AS s
        |  FROM r),
        |t AS (SELECT lab, CAST(count(*) AS HUGEINT) AS tj
        |  FROM (SELECT unnest([a, b, c]) AS lab FROM r) GROUP BY 1),
        |t2 AS (SELECT CAST(sum(tj * tj) AS HUGEINT) AS st2 FROM t)
        |SELECT CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s_agree,
        |  CAST((2000000*s + 6*n) // (12*n) AS BIGINT) / 1000000.0 AS po6,
        |  CAST((2000000*st2 + 9*n*n) // (18*n*n) AS BIGINT) / 1000000.0 AS pe6,
        |  (CASE WHEN 3*n*s - 2*st2 < 0 THEN -1 ELSE 1 END) *
        |    CAST((2000000*abs(3*n*s - 2*st2) + (18*n*n - 2*st2))
        |      // (2*(18*n*n - 2*st2)) AS BIGINT) / 1000000.0 AS kappa6
        |FROM sn CROSS JOIN t2""") { (s, dir) =>
      val d38 = DecimalType(38, 0)
      val r = T.t(s, dir, "events").select(
        when(col("value") >= 75, "hi").when(col("value") >= 25, "mid")
          .otherwise("lo").as("a"),
        when(col("value") >= 70, "hi").when(col("value") >= 30, "mid")
          .otherwise("lo").as("b"),
        when(col("value") >= 80, "hi").when(col("value") >= 20, "mid")
          .otherwise("lo").as("c"))
      val sn = r.agg(count(lit(1)).cast(d38).as("n"),
        sum(when(col("a") === col("b") && col("b") === col("c"), 6)
          .when(col("a") === col("b") || col("b") === col("c") ||
            col("a") === col("c"), 2).otherwise(0)).cast(d38).as("s"))
      val t2 = r.select(explode(array(col("a"), col("b"), col("c"))).as("lab"))
        .groupBy("lab").agg(count(lit(1)).cast(d38).as("tj"))
        .agg(sum(col("tj") * col("tj")).cast(d38).as("st2"))
      sn.crossJoin(broadcast(t2))
        .select(col("n").cast(LongType).as("n"),
          col("s").cast(LongType).as("s_agree"),
          T.r6("s", "6*n").as("po6"),
          T.r6("st2", "9*n*n").as("pe6"),
          T.r6s("3*n*s - 2*st2", "18*n*n - 2*st2").as("kappa6"))
    },

    // Histogram-based join-cardinality ESTIMATION graded against truth —
    // the System-R estimator (est = n_l·n_p / max(d_l, d_p) per key-range
    // bucket, containment assumption) beside catalog_join_card_estimate's
    // exact key-count algebra: per 1000-key bucket, both sides' row and
    // distinct-key counts feed the estimate, the REAL join (grouped by the
    // same buckets) supplies actual, and the signed relative error (T.r6s,
    // NULL when a bucket is empty) shows where uniformity lies. The
    // estimate itself reads only per-bucket statistics — the CBO path
    // costs two stats aggs at any scale; only the truth column joins data.
    q("catalog_histogram_join_estimate",
      """WITH lb AS (SELECT l_partkey // 1000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_l,
        |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS d_l
        |  FROM lineitem GROUP BY 1),
        |pb AS (SELECT p_partkey // 1000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_p,
        |    CAST(count(DISTINCT p_partkey) AS BIGINT) AS d_p
        |  FROM part GROUP BY 1),
        |act AS (SELECT l_partkey // 1000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS actual
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
        |est AS (SELECT pb.bucket, COALESCE(lb.n_l, 0) AS n_l,
        |    COALESCE(lb.d_l, 0) AS d_l, pb.n_p, pb.d_p,
        |    CASE WHEN GREATEST(COALESCE(lb.d_l, 0), pb.d_p) > 0
        |      THEN (COALESCE(lb.n_l, 0) * pb.n_p)
        |        // GREATEST(COALESCE(lb.d_l, 0), pb.d_p) ELSE 0 END AS est
        |  FROM pb LEFT JOIN lb ON pb.bucket = lb.bucket)
        |SELECT est.bucket, n_l, d_l, n_p, d_p, CAST(est AS BIGINT) AS est,
        |  COALESCE(act.actual, 0) AS actual,
        |  CASE WHEN COALESCE(act.actual, 0) > 0 THEN
        |    (CASE WHEN est - act.actual < 0 THEN -1 ELSE 1 END) *
        |      CAST((2000000*abs(est - act.actual) + act.actual)
        |        // (2*act.actual) AS BIGINT) / 1000000.0
        |  END AS err6
        |FROM est LEFT JOIN act ON est.bucket = act.bucket
        |ORDER BY est.bucket""") { (s, dir) =>
      val li = T.t(s, dir, "lineitem")
      val lb = li.groupBy(expr("l_partkey div 1000").as("bucket"))
        .agg(count(lit(1)).cast(LongType).as("n_l"),
          countDistinct("l_partkey").cast(LongType).as("d_l"))
      val pb = T.t(s, dir, "part")
        .groupBy(expr("p_partkey div 1000").as("bucket"))
        .agg(count(lit(1)).cast(LongType).as("n_p"),
          countDistinct("p_partkey").cast(LongType).as("d_p"))
      val act = li.join(T.t(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(expr("l_partkey div 1000").as("bucket"))
        .agg(count(lit(1)).cast(LongType).as("actual"))
      pb.join(lb.withColumnRenamed("bucket", "lbucket"),
          col("bucket") === col("lbucket"), "left")
        .select(col("bucket"), coalesce(col("n_l"), lit(0L)).as("n_l"),
          coalesce(col("d_l"), lit(0L)).as("d_l"), col("n_p"), col("d_p"))
        .withColumn("est", when(greatest(col("d_l"), col("d_p")) > 0,
          expr("(n_l * n_p) div greatest(d_l, d_p)")).otherwise(0L))
        .join(act.withColumnRenamed("bucket", "abucket"),
          col("bucket") === col("abucket"), "left")
        .select(col("bucket"), col("n_l"), col("d_l"), col("n_p"), col("d_p"),
          col("est").cast(LongType).as("est"),
          coalesce(col("actual"), lit(0L)).as("actual"),
          when(coalesce(col("actual"), lit(0L)) > 0,
            T.r6s("est - actual", "actual")).as("err6"))
        .orderBy("bucket")
    },

    // Local-peak detection with neighbor prominence on the daily per-type
    // series — the alert-trigger primitive of every monitoring stack: a
    // strict local maximum (c > both calendar neighbors via lag/lead over
    // the type-partitioned day spine), reported with its height over the
    // taller neighbor. All exact integer comparisons; the day agg is the
    // only corpus-sized stage.
    sqlKey("ts_peak_detection",
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, d, c,
        |    lag(c) OVER (PARTITION BY event_type ORDER BY d) AS pv,
        |    lead(c) OVER (PARTITION BY event_type ORDER BY d) AS nx
        |  FROM daily)
        |SELECT event_type, d, c, c - GREATEST(pv, nx) AS height
        |FROM w WHERE pv IS NOT NULL AND nx IS NOT NULL
        |  AND c > pv AND c > nx
        |ORDER BY event_type, d"""),

    // Dominant eigenvector of the embedding second-moment (Gram) matrix by
    // POWER ITERATION — PCA's first component, train-by-aggregation style:
    // components are QUANTIZED to micro-unit integers at the scan, the
    // 64×64 moment matrix is ONE pair-explode + hash agg (exact integer
    // sums — float accumulation order never matters), and each of the 5
    // matvec rounds renormalizes by max-|component| using SIGN-DECOMPOSED
    // floor division (sign·(|v|·10⁶ div max) — both engines floor
    // non-negative ints identically, sidestepping the //-vs-DIV negative
    // divergence). The iteration state is a 64-row broadcast; only the
    // moment agg is corpus-sized. Start = all-ones (deterministic sign).
    q("ml_pca_power_iteration", {
      val step = (p: Int, c: Int) =>
        s"""wr$c AS MATERIALIZED (SELECT m.i,
           |    CAST(sum(m.mv * w$p.wv) AS HUGEINT) AS v
           |  FROM m JOIN w$p ON w$p.i = m.j GROUP BY 1),
           |w$c AS MATERIALIZED (SELECT i,
           |    (CASE WHEN v < 0 THEN -1 ELSE 1 END) *
           |      ((abs(v) * 1000000) // (SELECT max(abs(v)) FROM wr$c)) AS wv
           |  FROM wr$c)""".stripMargin
      s"""WITH qv AS (SELECT vec_id, CAST(t.i AS INT) AS i,
         |    CAST(round(embedding[t.i + 1]::DOUBLE * 1000000.0, 0) AS BIGINT)
         |      AS q
         |  FROM embeddings, range(64) t(i)),
         |m AS (SELECT a.i, b.i AS j, CAST(sum(a.q * b.q) AS HUGEINT) AS mv
         |  FROM qv a JOIN qv b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |w0 AS (SELECT CAST(i AS INT) AS i, CAST(1000000 AS HUGEINT) AS wv
         |  FROM range(64) t(i)),
         |${step(0, 1)},
         |${step(1, 2)},
         |${step(2, 3)},
         |${step(3, 4)},
         |${step(4, 5)}
         |SELECT i, CAST(wv AS DOUBLE) / 1000000.0 AS w6 FROM w5 ORDER BY i"""
    }) { (s, dir) =>
      val d38 = DecimalType(38, 0)
      // Gram pairs are WITHIN-ROW (every (i,j) element pair of one
      // vector), so no self-join is needed. The former qv⋈qv-on-vec_id
      // shape was arithmetically equivalent but its join crossed the
      // broadcast threshold between ×10 and ×100 — the r16 decade-3 probe
      // measured its shuffle jumping 2.85 MB → 490.7 MB (exponent 2.24),
      // purely the broadcast→shuffled-join transition repartitioning
      // 2×12.8M exploded rows. This shape explodes ONCE to (vec_id, i, q)
      // keeping the source array alongside, and aggregates the 64 row
      // sums q·arr[j] as 64 VECTORIZED long buffers per (i, band) group —
      // the same 64·n·64 fused multiply-adds in one codegen
      // HashAggregate, but with 64× fewer aggregate-input rows than a
      // pair-explode and zero data-sized shuffle at any scale (the only
      // shuffles are the array-sized range repartition below and the
      // 4096·bands Gram partials; r16 re-measure: exponent 0.99).
      // repartitionByRange keeps vec_id CONSECUTIVE per task — tasks span
      // ~⌈bands/parts⌉ bands, so partial-row volume stays tasks·64·O(1)
      // instead of tasks·64·bands under a hash scatter — while giving the
      // explode+agg stage full parallelism regardless of the parquet's
      // input split count.
      //
      // Overflow bounds (r15 audit, unchanged): per-element q·qj ≤ 1e12
      // is long-safe; a LONG sum buffer crosses 2⁶³ past ~9.2e6 vectors,
      // so level 1 groups by (i, vec_id»21) — a consecutive-id band holds
      // ≤ 2²¹ vectors BY CONSTRUCTION, each of the 64 long partials is
      // ≤ 2²¹·1e12 ≈ 2.1e18 < 2⁶³/4 — and level 2 decimal-sums the band
      // partials. Values are bit-identical to a single exact sum; the
      // data-sized pass stays pure long codegen. (A per-row decimal
      // buffer instead measured +32% on the board's 4th-heaviest key.)
      val qdim = 64
      // quantize ONCE per vector (round() on doubles is a BigDecimal path
      // — running it per (row × j) instead of per element measured 14×
      // the CPU); the inner 64-sum loop below then reads pure longs
      val qrow = GroupVector.emb(s, dir)
        .repartitionByRange(col("vec_id"))
        .select(shiftright(col("vec_id"), 21).as("band"),
          transform(col("embedding"),
            x => round(x.cast(DoubleType) * 1000000.0, 0)
              .cast(LongType)).as("qarr"))
        .select(col("band"), col("qarr"),
          posexplode(col("qarr")).as(Seq("i", "q")))
        .select(col("band"), col("qarr"),
          col("i").cast(IntegerType).as("i"), col("q"))
      val jSums = (0 until qdim).map { j =>
        sum(col("q") * element_at(col("qarr"), j + 1)).as(s"p$j")
      }
      val m = qrow.groupBy(col("i"), col("band"))
        .agg(jSums.head, jSums.tail: _*)
        .select(col("i"), posexplode(
          array((0 until qdim).map(j => col(s"p$j")): _*)).as(Seq("j", "p")))
        .select(col("i"), col("j").cast(IntegerType).as("j"), col("p"))
        .groupBy("i", "j").agg(sum(col("p").cast(d38)).as("mv"))
        .localCheckpoint(false)
      var w = s.range(64).select(col("id").cast(IntegerType).as("i"),
        lit(1000000L).cast(d38).as("wv"))
      // r16 optimization (guide §3.3): wr is referenced twice per round
      // (matvec + the max crossJoin) — un-truncated, the 64-row iterate's
      // plan doubled per round (PlanSweep measured 218 Exchange nodes
      // re-analyzed per invocation). Lazy localCheckpoint keeps it
      // per-round-sized; the next matvec's broadcast materializes it.
      for (_ <- 1 to 5) {
        val wr = m.join(broadcast(w.withColumnRenamed("i", "j")), "j")
          .groupBy("i").agg(sum(col("mv") * col("wv")).cast(d38).as("v"))
        val mx = wr.agg(max(abs(col("v"))).as("mxv"))
        w = wr.crossJoin(broadcast(mx))
          .select(col("i"),
            (when(col("v") < 0, -1L).otherwise(1L).cast(d38) *
              expr("(abs(v) * 1000000L) div mxv")).as("wv"))
          .localCheckpoint(false)
      }
      w.select(col("i"), (col("wv").cast(DoubleType) / 1000000.0).as("w6"))
        .orderBy("i")
    },

    // Deterministic hash-guided walk corpus over the weighted nation
    // co-purchase digraph — the node2vec-style corpus generation step of
    // graph-embedding pipelines, made REPRODUCIBLE AT ANY PARTITIONING:
    // each walker's next hop is the out-edge minimizing a pure-arithmetic
    // multiplicative hash of (start, walk, step, src, dst) — an argmin per
    // frontier row, so a step is one broadcast edges-join + rank, and the
    // 5 steps unroll statically (no driver loop over data). Dead ends hold
    // in place via left join. 3 walks per start node.
    q("graph_walk_corpus", {
      val step = (p: Int, c: Int) =>
        s"""s$c AS (SELECT start, wid, COALESCE(nx, v) AS v FROM (
           |  SELECT f.start, f.wid, f.v, e.dst AS nx, row_number() OVER (
           |      PARTITION BY f.start, f.wid ORDER BY
           |        ((f.start*3 + f.wid)*1000003 + $c*101 + f.v*257
           |          + e.dst*65537) * 2654435761 % 4294967296, e.dst) AS rn
           |  FROM s$p f LEFT JOIN e ON e.src = f.v)
           |WHERE rn = 1 OR nx IS NULL)""".stripMargin
      s"""WITH e AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2),
         |s0 AS (SELECT n_nationkey AS start, CAST(w.k AS BIGINT) AS wid,
         |    n_nationkey AS v
         |  FROM nation, range(3) w(k)),
         |${step(0, 1)},
         |${step(1, 2)},
         |${step(2, 3)},
         |${step(3, 4)},
         |${step(4, 5)}
         |SELECT start, wid, 0 AS step, v FROM s0
         |UNION ALL SELECT start, wid, 1, v FROM s1
         |UNION ALL SELECT start, wid, 2, v FROM s2
         |UNION ALL SELECT start, wid, 3, v FROM s3
         |UNION ALL SELECT start, wid, 4, v FROM s4
         |UNION ALL SELECT start, wid, 5, v FROM s5
         |ORDER BY start, wid, step"""
    }) { (s, dir) =>
      // staged shared artifact (r16): the distinct edge set is exactly the
      // key set of GroupSeven.nationEdges (w ≥ 1 per aggregated row)
      val e = GroupSeven.nationEdges(s, dir)
        .select("src", "dst").localCheckpoint(false)
      val s0 = T.t(s, dir, "nation")
        .select(col("n_nationkey").as("start"))
        .crossJoin(broadcast(s.range(3).select(col("id").as("wid"))))
        .withColumn("v", col("start"))
      var frontier = s0
      var acc = s0.withColumn("step", lit(0))
      for (st <- 1 to 5) {
        val nxt = frontier.join(broadcast(e), col("src") === col("v"), "left")
          .withColumn("hsel",
            ((col("start") * 3 + col("wid")) * 1000003L + lit(st) * 101L +
              col("v") * 257L + col("dst") * 65537L) * 2654435761L
              % 4294967296L)
          .withColumn("rn", row_number().over(
            Window.partitionBy("start", "wid").orderBy("hsel", "dst")))
          .filter(col("rn") === 1 || col("dst").isNull)
          .select(col("start"), col("wid"),
            coalesce(col("dst"), col("v")).as("v"))
        // per-step localCheckpoint tried and measured out (r16): 0.81 →
        // 0.89 s same-window. RE-EXAMINED under the honest noop metric in
        // r17 (hits/sssp/pagerank flipped there): this loop reads 0.90 s
        // noop at round start — each step is referenced only twice (next
        // hop + its union branch) and the union dedupes via ReusedExchange,
        // so the refutation STANDS here.
        frontier = nxt
        acc = acc.unionAll(nxt.withColumn("step", lit(st)))
      }
      acc.select(col("start"), col("wid"), col("step"), col("v"))
        .orderBy("start", "wid", "step")
    },

    // N-gram novelty curve — corpus-saturation measurement for dataset
    // curation ("are later shards still contributing new content?"): per
    // document, the share of its distinct 3-token shingles FIRST seen in
    // that document (first occurrence = min doc_id over the corpus, one
    // agg over the SHARED staged shingle index). Novelty shares are
    // pure-integer rationals (T.r6); two shingle-keyed shuffles total.
    q("text_ngram_novelty",
      """WITH dd AS (SELECT doc_id, string_split(text,' ') AS arr FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(arr)-2),
        |      i -> arr[i+1]||' '||arr[i+2]||' '||arr[i+3])) AS sh
        |  FROM dd),
        |fst AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1),
        |pd AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
        |    CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new
        |  FROM sh s JOIN fst f ON s.sh = f.sh GROUP BY 1)
        |SELECT doc_id, n_sh, n_new,
        |  CAST((2000000*n_new + n_sh) // (2*n_sh) AS BIGINT) / 1000000.0
        |    AS novelty6
        |FROM pd ORDER BY doc_id""") { (s, dir) =>
      val sh = GroupText.shingleRows(s, dir)
      val fst = sh.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
      sh.join(fst, "sh")
        .groupBy("doc_id").agg(
          count(lit(1)).cast(LongType).as("n_sh"),
          sum(when(col("first_doc") === col("doc_id"), 1).otherwise(0))
            .cast(LongType).as("n_new"))
        .select(col("doc_id"), col("n_sh"), col("n_new"),
          T.r6("n_new", "n_sh").as("novelty6"))
        .orderBy("doc_id")
    },

    // Clustering-depth audit — grades a physical LAYOUT by how well it
    // co-locates a probe column: two candidate layouts of orders (range-
    // bucketed by custkey vs by order date) are split into 32 "files" by
    // pure integer arithmetic (NO global sort — the file id is a scaled
    // division of the layout key), each file publishes min/max stats on
    // the probe column (custkey), and the audit reports the average
    // overlap depth — how many files a point lookup must open. The
    // custkey layout audits near 1 (clustered); the date layout audits
    // near 32 (scattered) — the number a table optimizer acts on. Stats
    // are one agg; the overlap self-join is 32×32 per layout.
    q("etl_clustering_depth_audit",
      """WITH bounds AS (SELECT max(o_custkey) AS maxk,
        |    min(o_orderdate) AS dmin, max(o_orderdate) AS dmax FROM orders),
        |f AS (SELECT layout, file_id,
        |    min(o_custkey) AS mn, max(o_custkey) AS mx
        |  FROM (
        |    SELECT 'custkey' AS layout,
        |      (o_custkey * 32) // (maxk + 1) AS file_id, o_custkey
        |    FROM orders CROSS JOIN bounds
        |    UNION ALL
        |    SELECT 'date',
        |      (date_diff('day', dmin, o_orderdate) * 32)
        |        // (date_diff('day', dmin, dmax) + 1), o_custkey
        |    FROM orders CROSS JOIN bounds)
        |  GROUP BY 1, 2),
        |d AS (SELECT a.layout, a.file_id, CAST(count(*) AS BIGINT) AS depth
        |  FROM f a JOIN f b ON a.layout = b.layout
        |    AND a.mn <= b.mx AND b.mn <= a.mx
        |  GROUP BY 1, 2)
        |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(max(depth) AS BIGINT) AS max_depth,
        |  CAST((2000000*sum(depth) + count(*)) // (2*count(*)) AS BIGINT)
        |    / 1000000.0 AS avg_depth6
        |FROM d GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val o = T.t(s, dir, "orders")
      val bounds = o.agg(max("o_custkey").as("maxk"),
        min("o_orderdate").as("dmin"), max("o_orderdate").as("dmax"))
      val ob = o.crossJoin(broadcast(bounds))
      val byKey = ob.select(lit("custkey").as("layout"),
        expr("(o_custkey * 32) div (maxk + 1)").as("file_id"), col("o_custkey"))
      val byDate = ob.select(lit("date").as("layout"),
        expr("(datediff(o_orderdate, dmin) * 32) div " +
          "(datediff(dmax, dmin) + 1)").as("file_id"), col("o_custkey"))
      val f = byKey.unionAll(byDate)
        .groupBy("layout", "file_id")
        .agg(min("o_custkey").as("mn"), max("o_custkey").as("mx"))
      val d = f.join(f.select(col("layout").as("l2"), col("mn").as("mn2"),
          col("mx").as("mx2")),
          col("layout") === col("l2") &&
            col("mn") <= col("mx2") && col("mn2") <= col("mx"))
        .groupBy("layout", "file_id")
        .agg(count(lit(1)).cast(LongType).as("depth"))
      d.groupBy("layout").agg(
          count(lit(1)).cast(LongType).as("n_files"),
          max("depth").cast(LongType).as("max_depth"),
          sum("depth").as("sd"), count(lit(1)).as("nf"))
        .select(col("layout"), col("n_files"), col("max_depth"),
          T.r6("sd", "nf").as("avg_depth6"))
        .orderBy("layout")
    },

    // One Newton/IRLS step of logistic regression from β = 0 — the
    // train-by-aggregation GLM (ml_ridge_2feature's shape on the logit):
    // at β=0 every p̂ is ½, so the step is β₁ = 2·A⁻¹·g₂ with A = X'X from
    // ONE moment pass (floor-dollar + hour features keep the 3×3
    // determinant inside DECIMAL(38,0)) and g₂ = Σx(2y−1) exact integers;
    // the solve is the explicit adjugate, so each coefficient is ONE
    // pure-integer rational (T.r6s; determinant sign folded into the
    // numerator so the denominator stays positive). No row ever sees a
    // float; the whole fit is a single map-side-combinable aggregate.
    q("ml_logreg_newton_step",
      """WITH f AS (SELECT
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS x1,
        |    CAST(date_part('hour', ts) AS BIGINT) AS x2,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS y2
        |  FROM events),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
        |    CAST(sum(x1*x1) AS HUGEINT) AS s11,
        |    CAST(sum(x1*x2) AS HUGEINT) AS s12,
        |    CAST(sum(x2*x2) AS HUGEINT) AS s22,
        |    CAST(sum(y2) AS HUGEINT) AS g0,
        |    CAST(sum(x1*y2) AS HUGEINT) AS g1,
        |    CAST(sum(x2*y2) AS HUGEINT) AS g2
        |  FROM f),
        |d AS (SELECT *,
        |    n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |      + s2*(s1*s12 - s11*s2) AS det,
        |    (s11*s22 - s12*s12)*g0 + (s2*s12 - s1*s22)*g1
        |      + (s1*s12 - s2*s11)*g2 AS a0,
        |    (s2*s12 - s1*s22)*g0 + (n*s22 - s2*s2)*g1
        |      + (s1*s2 - n*s12)*g2 AS a1,
        |    (s1*s12 - s2*s11)*g0 + (s1*s2 - n*s12)*g1
        |      + (n*s11 - s1*s1)*g2 AS a2
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n,
        |  (CASE WHEN 2*a0*(CASE WHEN det < 0 THEN -1 ELSE 1 END) < 0
        |    THEN -1 ELSE 1 END) *
        |    CAST((2000000*abs(2*a0) + abs(det)) // (2*abs(det)) AS BIGINT)
        |    / 1000000.0 AS beta0_6,
        |  (CASE WHEN 2*a1*(CASE WHEN det < 0 THEN -1 ELSE 1 END) < 0
        |    THEN -1 ELSE 1 END) *
        |    CAST((2000000*abs(2*a1) + abs(det)) // (2*abs(det)) AS BIGINT)
        |    / 1000000.0 AS beta1_6,
        |  (CASE WHEN 2*a2*(CASE WHEN det < 0 THEN -1 ELSE 1 END) < 0
        |    THEN -1 ELSE 1 END) *
        |    CAST((2000000*abs(2*a2) + abs(det)) // (2*abs(det)) AS BIGINT)
        |    / 1000000.0 AS beta2_6
        |FROM d""") { (s, dir) =>
      val d38 = DecimalType(38, 0)
      val f = T.t(s, dir, "events").select(
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint) div 100")
          .as("x1"),
        hour(col("ts")).cast(LongType).as("x2"),
        when(col("event_type") === "purchase", 1L).otherwise(-1L).as("y2"))
      val m = f.agg(
        count(lit(1)).cast(d38).as("n"),
        sum("x1").cast(d38).as("s1"), sum("x2").cast(d38).as("s2"),
        sum(col("x1") * col("x1")).cast(d38).as("s11"),
        sum(col("x1") * col("x2")).cast(d38).as("s12"),
        sum(col("x2") * col("x2")).cast(d38).as("s22"),
        sum("y2").cast(d38).as("g0"),
        sum(col("x1") * col("y2")).cast(d38).as("g1"),
        sum(col("x2") * col("y2")).cast(d38).as("g2"))
      val d = m.withColumn("det",
          expr("""n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
            + s2*(s1*s12 - s11*s2)"""))
        .withColumn("a0", expr("""(s11*s22 - s12*s12)*g0
          + (s2*s12 - s1*s22)*g1 + (s1*s12 - s2*s11)*g2"""))
        .withColumn("a1", expr("""(s2*s12 - s1*s22)*g0
          + (n*s22 - s2*s2)*g1 + (s1*s2 - n*s12)*g2"""))
        .withColumn("a2", expr("""(s1*s12 - s2*s11)*g0
          + (s1*s2 - n*s12)*g1 + (n*s11 - s1*s1)*g2"""))
      d.select(col("n").cast(LongType).as("n"),
        T.r6s("2*a0*(CASE WHEN det < 0 THEN -1L ELSE 1L END)", "abs(det)")
          .as("beta0_6"),
        T.r6s("2*a1*(CASE WHEN det < 0 THEN -1L ELSE 1L END)", "abs(det)")
          .as("beta1_6"),
        T.r6s("2*a2*(CASE WHEN det < 0 THEN -1L ELSE 1L END)", "abs(det)")
          .as("beta2_6"))
    },

    // Shard-rebalance move plan — the "water pouring" a storage manager
    // emits to level SKEWED shards to the balanced target (total div k,
    // the first remainder shards one heavier): surplus shards become
    // cumulative GIVER intervals, deficit shards TAKER intervals, and
    // every interval overlap is one move of exactly the overlap length —
    // a 16×16 bounded join, so the plan conserves items by construction
    // (spec-pinned). Shards are length-bucketed (the naturally-skewed
    // layout a size-tiered store accumulates — dense-id hash shards would
    // be vacuously level). Pure integer cumulative windows over the
    // enum-sized shard table.
    q("etl_shard_rebalance_plan",
      """WITH sz AS (SELECT LEAST(n_chars // 40, 15) AS shard,
        |    CAST(count(*) AS BIGINT) AS size FROM documents GROUP BY 1),
        |tt AS (SELECT CAST(sum(size) AS BIGINT) AS total FROM sz),
        |tg AS (SELECT shard, size, total,
        |    row_number() OVER (ORDER BY shard) AS r,
        |    count(*) OVER () AS n_sh
        |  FROM sz CROSS JOIN tt),
        |dl AS (SELECT shard, size - (total // n_sh
        |    + (CASE WHEN r <= total % n_sh THEN 1 ELSE 0 END)) AS delta
        |  FROM tg),
        |g AS (SELECT shard,
        |    COALESCE(sum(delta) OVER (ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gs,
        |    COALESCE(sum(delta) OVER (ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS ge
        |  FROM (SELECT shard, delta FROM dl WHERE delta > 0)),
        |t AS (SELECT shard AS tshard,
        |    COALESCE(sum(-delta) OVER (ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ts,
        |    COALESCE(sum(-delta) OVER (ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS te
        |  FROM (SELECT shard, delta FROM dl WHERE delta < 0))
        |SELECT g.shard AS from_shard, t.tshard AS to_shard,
        |  CAST(LEAST(g.ge, t.te) - GREATEST(g.gs, t.ts) AS BIGINT) AS n_move
        |FROM g JOIN t ON LEAST(g.ge, t.te) > GREATEST(g.gs, t.ts)
        |ORDER BY from_shard, to_shard""") { (s, dir) =>
      val sz = T.t(s, dir, "documents")
        .groupBy(least(expr("n_chars div 40"), lit(15L)).as("shard"))
        .agg(count(lit(1)).cast(LongType).as("size"))
      val tt = sz.agg(sum("size").cast(LongType).as("total"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val dl = sz.crossJoin(broadcast(tt))
        .withColumn("r", row_number().over(Window.orderBy("shard")))
        .withColumn("n_sh", count(lit(1)).over(wAll))
        .select(col("shard"),
          (col("size") - (expr("total div n_sh") +
            when(col("r") <= col("total") % col("n_sh"), 1L).otherwise(0L)))
            .as("delta"))
      val wPrev = Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCur = Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val g = dl.filter(col("delta") > 0)
        .withColumn("gs", coalesce(sum("delta").over(wPrev), lit(0L)))
        .withColumn("ge", coalesce(sum("delta").over(wCur), lit(0L)))
        .select(col("shard"), col("gs"), col("ge"))
      val t = dl.filter(col("delta") < 0)
        .withColumn("ts", coalesce(sum(-col("delta")).over(wPrev), lit(0L)))
        .withColumn("te", coalesce(sum(-col("delta")).over(wCur), lit(0L)))
        .select(col("shard").as("tshard"), col("ts"), col("te"))
      g.join(broadcast(t),
          least(col("ge"), col("te")) > greatest(col("gs"), col("ts")))
        .select(col("shard").as("from_shard"), col("tshard").as("to_shard"),
          (least(col("ge"), col("te")) - greatest(col("gs"), col("ts")))
            .cast(LongType).as("n_move"))
        .orderBy("from_shard", "to_shard")
    },

    // Two-sample Poisson rate test (weekday vs weekend purchase rates) —
    // the incident/arrival-rate comparison of operational analytics. The
    // Wald statistic collapses to z = (k₁t₂ − k₂t₁)/√(k₁t₂² + k₂t₁²):
    // an EXACT integer over one square root of an exact integer — a single
    // IEEE chain, 6dp-rounded post-sqrt (tie measure zero). Exposures are
    // calendar-day counts per class; everything before the √ is integer.
    q("stat_poisson_two_rate",
      """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
        |expo AS (SELECT
        |    CAST(sum(CASE WHEN date_part('dow', d) IN (0, 6)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS t1,
        |    CAST(sum(CASE WHEN date_part('dow', d) IN (0, 6)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS t2
        |  FROM days),
        |k AS (SELECT
        |    CAST(sum(CASE WHEN date_part('dow', ts) IN (0, 6)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS k1,
        |    CAST(sum(CASE WHEN date_part('dow', ts) IN (0, 6)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS k2
        |  FROM events WHERE event_type = 'purchase')
        |SELECT k1, t1, k2, t2,
        |  round(CAST(k1*t2 - k2*t1 AS DOUBLE)
        |    / sqrt(CAST(k1*t2*t2 + k2*t1*t1 AS DOUBLE)), 6) + 0.0 AS z6,
        |  CAST((2000000*k1 + (k1 + k2)) // (2*(k1 + k2)) AS BIGINT)
        |    / 1000000.0 AS share6,
        |  CAST((2000000*t1 + (t1 + t2)) // (2*(t1 + t2)) AS BIGINT)
        |    / 1000000.0 AS expected_share6
        |FROM k CROSS JOIN expo""") { (s, dir) =>
      val e = T.t(s, dir, "events")
      val isWknd = (dayofweek(col("ts")) - 1).isin(0, 6)
      val expo = e.select(col("ts").cast(DateType).as("d")).distinct()
        .agg(
          sum(when((dayofweek(col("d")) - 1).isin(0, 6), 0).otherwise(1))
            .cast(LongType).as("t1"),
          sum(when((dayofweek(col("d")) - 1).isin(0, 6), 1).otherwise(0))
            .cast(LongType).as("t2"))
      val k = e.filter(col("event_type") === "purchase")
        .agg(sum(when(isWknd, 0).otherwise(1)).cast(LongType).as("k1"),
          sum(when(isWknd, 1).otherwise(0)).cast(LongType).as("k2"))
      k.crossJoin(broadcast(expo))
        .select(col("k1"), col("t1"), col("k2"), col("t2"),
          (round((col("k1") * col("t2") - col("k2") * col("t1"))
            .cast(DoubleType) /
            sqrt((col("k1") * col("t2") * col("t2") +
              col("k2") * col("t1") * col("t1")).cast(DoubleType)), 6) + 0.0)
            .as("z6"),
          T.r6("k1", "k1 + k2").as("share6"),
          T.r6("t1", "t1 + t2").as("expected_share6"))
    },

    // Rolling discrete p95 over the trailing 20-row price window per
    // supplier — the per-entity tail-latency monitor. NO engine-native
    // windowed exact quantile is portable (Spark's percentile interpolates,
    // DuckDB's quantile_disc picks its own boundary), so BOTH engines run
    // the identical rank-selection plan: each row equi-joins its ≤19
    // predecessors by row offset (a bounded 20× fan-out on the partition
    // key — O(k·n), the frame is the index), and the 19th-smallest of the
    // 20 integer cents is selected by an exact (cents, offset) rank. Zero
    // float arithmetic anywhere.
    sqlKey("window_rolling_p95",
      """WITH li AS (SELECT l_suppkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    row_number() OVER (PARTITION BY l_suppkey ORDER BY
        |      l_shipdate, l_orderkey, l_linenumber, l_extendedprice) AS rn
        |  FROM lineitem WHERE l_suppkey <= 2),
        |pr AS (SELECT a.l_suppkey, a.rn, b.cents AS c, b.rn AS brn,
        |    row_number() OVER (PARTITION BY a.l_suppkey, a.rn
        |      ORDER BY b.cents, b.rn) AS rk
        |  FROM li a JOIN li b ON a.l_suppkey = b.l_suppkey
        |    AND b.rn BETWEEN a.rn - 19 AND a.rn
        |  WHERE a.rn >= 20)
        |SELECT l_suppkey, CAST(rn AS BIGINT) AS rn, c AS p95_cents
        |FROM pr WHERE rk = 19 ORDER BY l_suppkey, rn"""),

    // Term dispersion (variance-to-mean ratio across the 20 sources) for
    // the top-100 corpus terms — "is this term corpus-wide vocabulary or
    // one shard's jargon?" (burstiness screening beside TF-IDF). With
    // source count n and per-source counts c (absent sources contribute
    // 0 to Σc² and S alike), VMR = (n·Σc² − S²)/(n·S) is a pure-integer
    // rational (T.r6; non-negative by Cauchy–Schwarz) — no float crosses
    // a term. Rank by exact (total, term); two count shuffles.
    q("text_term_dispersion",
      """WITH tok AS (SELECT source, unnest(string_split(text,' ')) AS term
        |  FROM documents),
        |st AS (SELECT term, source, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_src
        |  FROM documents),
        |tm AS (SELECT term, CAST(sum(c) AS BIGINT) AS total,
        |    CAST(sum(c*c) AS BIGINT) AS sq
        |  FROM st GROUP BY 1),
        |rk AS (SELECT term, total, sq, row_number() OVER (
        |    ORDER BY total DESC, term) AS rn FROM tm)
        |SELECT term, total, CAST(rn AS BIGINT) AS rn,
        |  CAST((2000000*(n_src*sq - total*total) + n_src*total)
        |    // (2*n_src*total) AS BIGINT) / 1000000.0 AS dispersion6
        |FROM rk CROSS JOIN ns WHERE rn <= 100 ORDER BY rn""") { (s, dir) =>
      val st = T.t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .groupBy("term", "source").agg(count(lit(1)).cast(LongType).as("c"))
      val ns = T.t(s, dir, "documents")
        .agg(countDistinct("source").cast(LongType).as("n_src"))
      val tm = st.groupBy("term").agg(
        sum("c").cast(LongType).as("total"),
        sum(col("c") * col("c")).cast(LongType).as("sq"))
      tm.orderBy(col("total").desc, col("term")).limit(100)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("total").desc, col("term"))))
        .crossJoin(broadcast(ns))
        .select(col("term"), col("total"), col("rn").cast(LongType).as("rn"),
          T.r6("n_src*sq - total*total", "n_src*total").as("dispersion6"))
        .orderBy("rn")
    },

    // Snapshot retention/expiry plan — the vacuum policy a lakehouse table
    // applies to its version history, as data: monthly snapshots (distinct
    // order months), policy = keep the 6 most recent + each year's first
    // snapshot (annual archive), expire the rest. Version recency is a
    // rank over the CALENDAR-bounded month table; all CASE logic on exact
    // integers. The month agg is the only corpus-sized stage.
    sqlKey("etl_snapshot_expire_plan",
      """WITH snap AS (SELECT DISTINCT
        |    CAST(date_part('year', o_orderdate) AS INT) AS yy,
        |    CAST(date_part('year', o_orderdate) * 100
        |      + date_part('month', o_orderdate) AS INT) AS yyyymm
        |  FROM orders),
        |rk AS (SELECT yy, yyyymm,
        |    row_number() OVER (ORDER BY yyyymm DESC) AS recency,
        |    row_number() OVER (PARTITION BY yy ORDER BY yyyymm) AS in_year
        |  FROM snap)
        |SELECT yyyymm, CAST(recency AS BIGINT) AS recency,
        |  CASE WHEN recency <= 6 THEN 'recent'
        |       WHEN in_year = 1 THEN 'annual'
        |       ELSE 'expire' END AS action
        |FROM rk ORDER BY yyyymm"""),

    // Wilson score confidence interval for a per-type proportion (share
    // of high-value events) — the small-count-safe CI every dashboard
    // should use instead of the normal approximation. k and n are exact
    // integers; p̂ = k/n is ONE IEEE division of identical operands, and
    // both engines evaluate the IDENTICAL Wilson chain (z² = 3.8416
    // parses to the same double everywhere) with 6dp rounding after the
    // sqrt — the post-transcendental boundary. One enum-sized agg.
    q("stat_wilson_ci",
      """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS k
        |  FROM events GROUP BY 1)
        |SELECT event_type, n, k,
        |  CAST((2000000*k + n) // (2*n) AS BIGINT) / 1000000.0 AS phat6,
        |  round(((CAST(k AS DOUBLE)/n + 1.9208/n)
        |    - 1.96 * sqrt((CAST(k AS DOUBLE)/n)*(1.0 - CAST(k AS DOUBLE)/n)/n
        |      + 0.9604/(CAST(n AS DOUBLE)*n)))
        |    / (1.0 + 3.8416/n), 6) + 0.0 AS lo6,
        |  round(((CAST(k AS DOUBLE)/n + 1.9208/n)
        |    + 1.96 * sqrt((CAST(k AS DOUBLE)/n)*(1.0 - CAST(k AS DOUBLE)/n)/n
        |      + 0.9604/(CAST(n AS DOUBLE)*n)))
        |    / (1.0 + 3.8416/n), 6) + 0.0 AS hi6
        |FROM g ORDER BY event_type""") { (s, dir) =>
      val g = T.t(s, dir, "events")
        .groupBy("event_type").agg(
          count(lit(1)).cast(LongType).as("n"),
          sum(when(col("value") >= 100, 1).otherwise(0))
            .cast(LongType).as("k"))
      val p = col("k").cast(DoubleType) / col("n")
      val half = lit(1.9208) / col("n")
      val rad = sqrt(p * (lit(1.0) - p) / col("n") +
        lit(0.9604) / (col("n").cast(DoubleType) * col("n")))
      val den = lit(1.0) + lit(3.8416) / col("n")
      g.select(col("event_type"), col("n"), col("k"),
          T.r6("k", "n").as("phat6"),
          (round((p + half - lit(1.96) * rad) / den, 6) + 0.0).as("lo6"),
          (round((p + half + lit(1.96) * rad) / den, 6) + 0.0).as("hi6"))
        .orderBy("event_type")
    },

    // Bloom-filter false-positive audit with a fully PORTABLE bloom built
    // in the engine itself (join_bloom_prefilter uses Spark's native
    // sketch, whose bits no oracle can reproduce — this one's k=3
    // multiplicative hashes and m=2¹⁷ bit positions are plain integer
    // arithmetic, so DuckDB builds the identical filter): the build side
    // sets DISTINCT positions from order custkeys, the probe side is 2000
    // synthetic keys past the key domain (guaranteed true negatives at
    // every scale — real no-order customers exist only at sf0.1), and a
    // probe "passes" iff all 3 of its positions are set (position
    // equi-join + per-key distinct-count match).
    // Every pass is by construction a FALSE POSITIVE — the measured rate
    // (T.r6) is the number the prefilter design note promises. Shapes:
    // distinct-agg + explode + position equi-join, all map-side friendly.
    q("join_bloom_fp_audit",
      """WITH bk AS (SELECT DISTINCT o_custkey AS key FROM orders),
        |pos AS (SELECT DISTINCT p FROM (
        |  SELECT CAST(CAST(key AS HUGEINT) * 2654435761
        |    % 4294967296 % 131072 AS BIGINT) AS p FROM bk
        |  UNION ALL
        |  SELECT CAST(CAST(key AS HUGEINT) * 2246822519
        |    % 4294967296 % 131072 AS BIGINT) FROM bk
        |  UNION ALL
        |  SELECT CAST(CAST(key AS HUGEINT) * 3266489917
        |    % 4294967296 % 131072 AS BIGINT) FROM bk)),
        |mx AS (SELECT max(key) AS maxk FROM bk),
        |probe AS (SELECT maxk + k + 1 AS key FROM range(2000) t(k)
        |  CROSS JOIN mx),
        |pp AS (SELECT key, CAST(CAST(key AS HUGEINT) * 2654435761
        |      % 4294967296 % 131072 AS BIGINT) AS p
        |    FROM probe
        |  UNION ALL SELECT key, CAST(CAST(key AS HUGEINT) * 2246822519
        |      % 4294967296 % 131072 AS BIGINT)
        |    FROM probe
        |  UNION ALL SELECT key, CAST(CAST(key AS HUGEINT) * 3266489917
        |      % 4294967296 % 131072 AS BIGINT)
        |    FROM probe),
        |need AS (SELECT key, count(DISTINCT p) AS need FROM pp GROUP BY 1),
        |got AS (SELECT pp.key, count(DISTINCT pp.p) AS got
        |  FROM pp JOIN pos ON pp.p = pos.p GROUP BY 1),
        |agg AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM probe) AS n_probes,
        |    (SELECT CAST(count(*) AS BIGINT) FROM need JOIN got
        |      ON need.key = got.key AND need.need = got.got) AS n_pass,
        |    (SELECT CAST(count(*) AS BIGINT) FROM pos) AS bits_set)
        |SELECT n_probes, n_pass, bits_set,
        |  CAST((2000000*n_pass + n_probes) // (2*n_probes) AS BIGINT)
        |    / 1000000.0 AS fp6
        |FROM agg""") { (s, dir) =>
      val bk = T.t(s, dir, "orders").select(col("o_custkey").as("key"))
        .distinct()
      def positions(df: DataFrame): DataFrame =
        df.select(col("key"), explode(array(
          T.hash32(col("key"), 2654435761L) % 131072L,
          T.hash32(col("key"), 2246822519L) % 131072L,
          T.hash32(col("key"), 3266489917L) % 131072L)).as("p"))
      val pos = positions(bk).select("p").distinct()
      val mx = bk.agg(max("key").as("maxk"))
      val probe = s.range(2000).crossJoin(broadcast(mx))
        .select((col("maxk") + col("id") + 1).as("key"))
      val pp = positions(probe)
      // a probe passes iff ALL its distinct positions are set
      val need = pp.groupBy("key").agg(countDistinct("p").as("need"))
      val got = pp.join(pos, "p").groupBy("key")
        .agg(countDistinct("p").as("got"))
      val nPass = need.join(got, "key")
        .filter(col("got") === col("need"))
        .agg(count(lit(1)).cast(LongType).as("n_pass"))
      val nProbes = probe.agg(count(lit(1)).cast(LongType).as("n_probes"))
      val bitsSet = pos.agg(count(lit(1)).cast(LongType).as("bits_set"))
      nProbes.crossJoin(broadcast(nPass)).crossJoin(broadcast(bitsSet))
        .select(col("n_probes"), col("n_pass"), col("bits_set"),
          T.r6("n_pass", "n_probes").as("fp6"))
    },

    // Deterministic UUID surface — content-derived stable identifiers
    // (UUIDv5's role: same input, same id, any engine, any partitioning):
    // md5 of a namespaced key, formatted 8-4-4-4-12 with the version and
    // variant nibbles pinned ('4'/'8'), plus the prefix-nibble shard
    // route every id-keyed store derives. Pure scalar projection; md5 hex
    // is bit-identical across engines.
    q("scalar_uuid_funcs",
      """WITH h AS (SELECT o_orderkey,
        |    md5('orders:' || CAST(o_orderkey AS VARCHAR)) AS hx
        |  FROM orders WHERE o_orderkey < 500)
        |SELECT o_orderkey,
        |  substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-4'
        |    || substr(hx, 14, 3) || '-8' || substr(hx, 18, 3) || '-'
        |    || substr(hx, 21, 12) AS uuid,
        |  '4' AS version, '8' AS variant,
        |  CAST(ascii(substr(hx, 1, 1)) % 16 AS INT) AS shard
        |FROM h ORDER BY o_orderkey""") { (s, dir) =>
      T.t(s, dir, "orders").filter(col("o_orderkey") < 500)
        .withColumn("hx", md5(concat(lit("orders:"), col("o_orderkey"))))
        .select(col("o_orderkey"),
          concat(substring(col("hx"), 1, 8), lit("-"),
            substring(col("hx"), 9, 4), lit("-4"),
            substring(col("hx"), 14, 3), lit("-8"),
            substring(col("hx"), 18, 3), lit("-"),
            substring(col("hx"), 21, 12)).as("uuid"),
          lit("4").as("version"), lit("8").as("variant"),
          (ascii(substring(col("hx"), 1, 1)) % 16).cast(IntegerType)
            .as("shard"))
        .orderBy("o_orderkey")
    },

    // Geohash encode/decode from the deterministic 2-D point kit (the
    // join_spatial_grid coordinates): 15-bit cells per axis interleaved
    // lon-first into a 30-bit code (the Z-order machinery), emitted as 6
    // base32 characters, then DE-interleaved back to prove the roundtrip
    // in-query. Pure integer bit arithmetic + substr on the alphabet —
    // no UDF, no float, identical in both engines.
    q("scalar_geohash_funcs", {
      val interleave = (0 until 15).map(i =>
        s"(((lonc >> $i) & 1) << ${2 * i + 1}) + (((latc >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      val delon = (0 until 15).map(i => s"(((z >> ${2 * i + 1}) & 1) << $i)")
        .mkString(" + ")
      val delat = (0 until 15).map(i => s"(((z >> ${2 * i}) & 1) << $i)")
        .mkString(" + ")
      val chars = (0 until 6).map(g =>
        s"substr('0123456789bcdefghjkmnpqrstuvwxyz', " +
          s"CAST(((z >> ${5 * (5 - g)}) & 31) + 1 AS INT), 1)")
        .mkString(" || ")
      s"""WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id < 200),
         |c AS (SELECT user_id,
         |    (user_id * 2654435761) % 4294967296 % 32768 AS lonc,
         |    (user_id * 2246822519) % 4294967296 % 32768 AS latc
         |  FROM u),
         |z AS (SELECT user_id, lonc, latc, $interleave AS z FROM c)
         |SELECT user_id, CAST(lonc AS BIGINT) AS lonc,
         |  CAST(latc AS BIGINT) AS latc,
         |  $chars AS geohash,
         |  CAST($delon AS BIGINT) AS lon_rt, CAST($delat AS BIGINT) AS lat_rt
         |FROM z ORDER BY user_id"""
    }) { (s, dir) =>
      val u = T.t(s, dir, "events").filter(col("user_id") < 200)
        .select("user_id").distinct()
        .withColumn("lonc",
          expr("(user_id * 2654435761L) % 4294967296L % 32768L"))
        .withColumn("latc",
          expr("(user_id * 2246822519L) % 4294967296L % 32768L"))
      val interleave = (0 until 15).map(i =>
        s"(shiftleft(shiftright(lonc, $i) & 1, ${2 * i + 1})) + " +
          s"(shiftleft(shiftright(latc, $i) & 1, ${2 * i}))")
        .mkString(" + ")
      val delon = (0 until 15).map(i =>
        s"shiftleft(shiftright(z, ${2 * i + 1}) & 1, $i)").mkString(" + ")
      val delat = (0 until 15).map(i =>
        s"shiftleft(shiftright(z, ${2 * i}) & 1, $i)").mkString(" + ")
      val chars = (0 until 6).map(g =>
        s"substr('0123456789bcdefghjkmnpqrstuvwxyz', " +
          s"cast((shiftright(z, ${5 * (5 - g)}) & 31) + 1 as int), 1)")
        .mkString(", ")
      u.withColumn("z", expr(interleave))
        .select(col("user_id"), col("lonc").cast(LongType).as("lonc"),
          col("latc").cast(LongType).as("latc"),
          expr(s"concat($chars)").as("geohash"),
          expr(delon).cast(LongType).as("lon_rt"),
          expr(delat).cast(LongType).as("lat_rt"))
        .orderBy("user_id")
    },

    // Fixed-window sequence packing audit — the GPT-style pretraining
    // packing shape: per source shard, documents are concatenated in
    // doc_id order into one token stream and cut into fixed 512-token
    // context windows; the audit reports, per window, how many documents
    // START in it, their token mass, and how many straddle the right
    // boundary (the cross-document-attention-mask accounting). One
    // window pass per shard (cumulative token offset, exclusive) — the
    // shard is the shuffle key, so at 100 TB each packing stream is an
    // independent partition with O(1) running state; no global order is
    // ever imposed on the corpus. Pure integer arithmetic end to end.
    q("pipeline_sequence_pack",
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, source, tok,
        |    COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM d)
        |SELECT source, CAST(off // 512 AS BIGINT) AS window_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS sum_tok,
        |  CAST(sum(CASE WHEN off + tok > (off // 512 + 1) * 512
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      val d = T.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast(LongType).as("tok"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn("off", coalesce(sum("tok").over(w), lit(0L)))
        .groupBy(col("source"), expr("off div 512").as("window_id"))
        .agg(count(lit(1)).cast(LongType).as("n_docs"),
          sum("tok").cast(LongType).as("sum_tok"),
          sum(when(expr("off + tok > (off div 512 + 1) * 512"), 1L)
            .otherwise(0L)).cast(LongType).as("n_straddle"))
        .orderBy("source", "window_id")
    },

    // First-order Markov transition matrix over per-user event sequences
    // — the session-modeling primitive (next-action prediction baselines,
    // anomalous-path scoring): one lead() pass per user partition gives
    // the (state, next-state) pairs, one agg counts them, and row
    // probabilities are pure-integer rationals (T.r6). All three shuffles
    // share the user_id prefix or the tiny state domain; per-user window
    // state is O(1) — the canonical sequence-mining shape at any scale.
    q("ml_markov_transitions",
      """WITH sq AS (SELECT user_id, event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS dst
        |  FROM events),
        |p AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM sq
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT src, sum(n) AS tot FROM p GROUP BY 1)
        |SELECT p.src AS src, p.dst AS dst, n,
        |  CAST((2000000 * n + tot) // (2 * tot) AS BIGINT)
        |    / 1000000.0 AS p6
        |FROM p JOIN t ON p.src = t.src ORDER BY p.src, p.dst""") { (s, dir) =>
      val sq = T.t(s, dir, "events")
        .withColumn("dst", lead("event_type", 1).over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")))
        .select(col("event_type").as("src"), col("dst"))
        .where(col("dst").isNotNull)
      val p = sq.groupBy("src", "dst")
        .agg(count(lit(1)).cast(LongType).as("n"))
      val t = p.groupBy("src").agg(sum("n").as("tot"))
      p.join(broadcast(t), "src")
        .select(col("src"), col("dst"), col("n"),
          T.r6("n", "tot").as("p6"))
        .orderBy("src", "dst")
    },

    // Running volume-weighted average price (VWAP) per part over its
    // shipment history — the weighted running-ratio window (execution
    // benchmarks, rolling unit economics): both running sums are exact
    // integer cents (quantity and price are 2dp-exact, FIXTURES.md), the
    // ratio is one pure-integer HALF_UP rational per row. One shuffle on
    // l_partkey; rows-frame running state is O(1) per partition. The
    // numerator crosses LONG range only inside T.r6's 2e6 scaling, so it
    // is pre-cast to DECIMAL(38,0) (DuckDB's SUM is already HUGEINT).
    q("window_vwap_running",
      """WITH li AS (SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qc,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem WHERE l_partkey < 100),
        |c AS (SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
        |    SUM(qc * pc) OVER w AS cpv, SUM(qc) OVER w AS cq
        |  FROM li WINDOW w AS (PARTITION BY l_partkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
        |  CAST((2000000 * cpv + 100 * cq) // (2 * 100 * cq) AS BIGINT)
        |    / 1000000.0 AS vwap6
        |FROM c ORDER BY l_partkey, l_shipdate, l_orderkey, l_linenumber""") {
      (s, dir) =>
      val li = T.t(s, dir, "lineitem").filter(col("l_partkey") < 100)
        .select(col("l_partkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"),
          round(col("l_quantity") * 100).cast(LongType).as("qc"),
          round(col("l_extendedprice") * 100).cast(LongType).as("pc"))
      val w = Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li.withColumn("cpv", sum(col("qc") * col("pc")).over(w))
        .withColumn("cq", sum("qc").over(w))
        .select(col("l_partkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"),
          T.r6("cast(cpv as decimal(38,0))", "100 * cq").as("vwap6"))
        .orderBy("l_partkey", "l_shipdate", "l_orderkey", "l_linenumber")
    },

    // Kruskal–Wallis rank test (one-way analysis on ranks): does the
    // event `value` distribution differ across the five event types?
    // Midrank tie handling stays integral by carrying 2·rank (2·avgrank
    // = 2·cum_before + tie_count + 1); the H statistic is assembled as
    // ONE integer rational — per-group squared rank sums cleared of
    // their n_i denominators by the product of the other four group
    // sizes — evaluated in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) and
    // rounded via the T.r6s HALF_UP integer path. No tie-correction
    // factor (documented uncorrected-H variant; midranks only). The
    // rank spine is domain-bounded (distinct cents values), so the only
    // data-sized passes are two hash aggs — scale-safe.
    q("stat_kruskal_wallis",
      """WITH e AS (SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE user_id < 50),
        |v AS (SELECT c, count(*) AS cnt FROM e GROUP BY 1),
        |tr AS (SELECT c, 2 * COALESCE(SUM(cnt) OVER (ORDER BY c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + cnt + 1 AS tr2 FROM v),
        |gv AS (SELECT g, c, count(*) AS m FROM e GROUP BY 1, 2),
        |r AS (SELECT g, SUM(m * tr2) AS r2, SUM(m) AS n
        |  FROM gv JOIN tr USING (c) GROUP BY 1),
        |p AS (SELECT
        |    max(CASE WHEN g = 'click' THEN n END) AS nc,
        |    max(CASE WHEN g = 'error' THEN n END) AS ne,
        |    max(CASE WHEN g = 'purchase' THEN n END) AS np,
        |    max(CASE WHEN g = 'signup' THEN n END) AS ns,
        |    max(CASE WHEN g = 'view' THEN n END) AS nv,
        |    max(CASE WHEN g = 'click' THEN r2 END) AS rc,
        |    max(CASE WHEN g = 'error' THEN r2 END) AS re,
        |    max(CASE WHEN g = 'purchase' THEN r2 END) AS rp,
        |    max(CASE WHEN g = 'signup' THEN r2 END) AS rs,
        |    max(CASE WHEN g = 'view' THEN r2 END) AS rv
        |  FROM r),
        |x AS (SELECT nc, ne, np, ns, nv,
        |    nc + ne + np + ns + nv AS nn,
        |    CAST(nc AS HUGEINT) * ne * np * ns * nv AS pp,
        |    CAST(rc AS HUGEINT) * rc * ne * np * ns * nv
        |      + CAST(re AS HUGEINT) * re * nc * np * ns * nv
        |      + CAST(rp AS HUGEINT) * rp * nc * ne * ns * nv
        |      + CAST(rs AS HUGEINT) * rs * nc * ne * np * nv
        |      + CAST(rv AS HUGEINT) * rv * nc * ne * np * ns AS tt
        |  FROM p),
        |y AS (SELECT nc, ne, np, ns, nv, nn,
        |    3 * tt - 3 * CAST(nn AS HUGEINT) * (nn + 1) * (nn + 1) * pp
        |      AS numr,
        |    CAST(nn AS HUGEINT) * (nn + 1) * pp AS denr
        |  FROM x)
        |SELECT CAST(nn AS BIGINT) AS n_total,
        |  CAST(nc AS BIGINT) AS n_click, CAST(ne AS BIGINT) AS n_error,
        |  CAST(np AS BIGINT) AS n_purchase, CAST(ns AS BIGINT) AS n_signup,
        |  CAST(nv AS BIGINT) AS n_view,
        |  (CASE WHEN numr < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(numr) + denr) // (2 * denr) AS BIGINT)
        |    / 1000000.0 AS kw6
        |FROM y""") { (s, dir) =>
      val e = T.t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("event_type").as("g"),
          round(col("value") * 100).cast(LongType).as("c"))
      val v = e.groupBy("c").agg(count(lit(1)).as("cnt"))
      // domain-bounded spine (distinct cents): the single-partition
      // window runs over ≤ |value domain| rows, never the fact table
      val tr = v.withColumn("tr2",
          lit(2L) * coalesce(sum("cnt").over(Window.orderBy("c")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            + col("cnt") + 1)
        .select("c", "tr2")
      val gv = e.groupBy("g", "c").agg(count(lit(1)).as("m"))
      val r = gv.join(broadcast(tr), "c").groupBy("g")
        .agg(sum(col("m") * col("tr2")).as("r2"), sum("m").as("n"))
      val p = r.agg(
        max(when(col("g") === "click", col("n"))).as("nc"),
        max(when(col("g") === "error", col("n"))).as("ne"),
        max(when(col("g") === "purchase", col("n"))).as("np"),
        max(when(col("g") === "signup", col("n"))).as("ns"),
        max(when(col("g") === "view", col("n"))).as("nv"),
        max(when(col("g") === "click", col("r2"))).as("rc"),
        max(when(col("g") === "error", col("r2"))).as("re"),
        max(when(col("g") === "purchase", col("r2"))).as("rp"),
        max(when(col("g") === "signup", col("r2"))).as("rs"),
        max(when(col("g") === "view", col("r2"))).as("rv"))
      p.withColumn("nn", expr("nc + ne + np + ns + nv"))
        .withColumn("pp",
          expr("cast(nc as decimal(38,0)) * ne * np * ns * nv"))
        .withColumn("tt", expr(
          "cast(rc as decimal(38,0)) * rc * ne * np * ns * nv" +
            " + cast(re as decimal(38,0)) * re * nc * np * ns * nv" +
            " + cast(rp as decimal(38,0)) * rp * nc * ne * ns * nv" +
            " + cast(rs as decimal(38,0)) * rs * nc * ne * np * nv" +
            " + cast(rv as decimal(38,0)) * rv * nc * ne * np * ns"))
        .withColumn("numr",
          expr("3 * tt - 3 * cast(nn as decimal(38,0)) * (nn + 1) * (nn + 1) * pp"))
        .withColumn("denr", expr("cast(nn as decimal(38,0)) * (nn + 1) * pp"))
        .select(col("nn").cast(LongType).as("n_total"),
          col("nc").cast(LongType).as("n_click"),
          col("ne").cast(LongType).as("n_error"),
          col("np").cast(LongType).as("n_purchase"),
          col("ns").cast(LongType).as("n_signup"),
          col("nv").cast(LongType).as("n_view"),
          T.r6s("numr", "denr").as("kw6"))
    },

    // SAX symbolic series (Lin et al.'s Symbolic Aggregate approXimation,
    // the motif/index representation for time series): per event type, the
    // daily value series is PAA-reduced (daily integer-cent sums), each
    // segment discretized to a 4-letter alphabet by EXACT rank-selected
    // quartile breakpoints of that type's own distribution, and the
    // letters concatenate into the SAX word. Everything before the letters
    // is integer (cent sums, row_number rank selection); the word is a
    // deterministic string. One data-sized agg; the rank window runs on
    // the bounded day×type spine.
    q("ts_sax_words",
      """WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE)
        |    AS day, SUM(CAST(round(value * 100) AS BIGINT)) AS ws
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, day, ws,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ws, day)
        |      AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |qs AS (SELECT event_type,
        |    max(CASE WHEN rn = (n + 3) // 4 THEN ws END) AS q1,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN ws END) AS q2,
        |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN ws END) AS q3
        |  FROM r GROUP BY 1),
        |sym AS (SELECT r.event_type AS event_type, day,
        |    CASE WHEN ws <= q1 THEN 'a' WHEN ws <= q2 THEN 'b'
        |         WHEN ws <= q3 THEN 'c' ELSE 'd' END AS letter
        |  FROM r JOIN qs ON r.event_type = qs.event_type)
        |SELECT event_type, string_agg(letter, '' ORDER BY day) AS sax_word,
        |  CAST(count(*) AS BIGINT) AS n_segments
        |FROM sym GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("ws"))
      val wr = Window.partitionBy("event_type").orderBy("ws", "day")
      val wn = Window.partitionBy("event_type")
      val r = d.withColumn("rn", row_number().over(wr))
        .withColumn("n", count(lit(1)).over(wn))
      val qs = r.groupBy(col("event_type").as("et"))
        .agg(max(when(expr("rn = (n + 3) div 4"), col("ws"))).as("q1"),
          max(when(expr("rn = (n + 1) div 2"), col("ws"))).as("q2"),
          max(when(expr("rn = (3 * n + 3) div 4"), col("ws"))).as("q3"))
      r.join(broadcast(qs), col("event_type") === col("et"))
        .withColumn("letter",
          when(col("ws") <= col("q1"), "a")
            .when(col("ws") <= col("q2"), "b")
            .when(col("ws") <= col("q3"), "c").otherwise("d"))
        .groupBy("event_type")
        .agg(concat_ws("", transform(
            sort_array(collect_list(struct(col("day"), col("letter")))),
            x => x.getField("letter"))).as("sax_word"),
          count(lit(1)).cast(LongType).as("n_segments"))
        .orderBy("event_type")
    },

    // RAKE keyword extraction (Rose et al. — Rapid Automatic Keyword
    // Extraction): candidate phrases are maximal stopword-free token runs
    // (gaps-and-islands on token position), a word's degree is the total
    // length of the phrases it appears in, and score = degree/frequency.
    // The ranking key is the exact HALF_UP micro-unit INTEGER (the r6
    // numerator itself), so the top-20 cut compares integers — no float
    // decides placement. Shapes: posexplode, per-doc island window (doc
    // is the shuffle key), two hash aggs — corpus-parallel at any scale.
    q("text_rake_keywords",
      """WITH dd AS (SELECT doc_id, string_split(text, ' ') AS arr
        |  FROM documents),
        |tk AS (SELECT doc_id, unnest(arr) AS tok,
        |    unnest(range(len(arr))) AS ord FROM dd),
        |ph AS (SELECT doc_id, tok,
        |    ord - row_number() OVER (PARTITION BY doc_id ORDER BY ord)
        |      AS grp
        |  FROM tk WHERE tok NOT IN ('the', 'a', 'and', 'of', 'in', 'to')),
        |plen AS (SELECT doc_id, grp, count(*) AS plen FROM ph
        |  GROUP BY 1, 2),
        |wo AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq,
        |    CAST(SUM(plen) AS BIGINT) AS degree
        |  FROM ph JOIN plen USING (doc_id, grp) GROUP BY 1),
        |sc AS (SELECT tok, freq, degree,
        |    (2000000 * degree + freq) // (2 * freq) AS micro FROM wo)
        |SELECT tok, freq, degree,
        |  CAST(micro AS BIGINT) / 1000000.0 AS score6
        |FROM sc ORDER BY micro DESC, tok LIMIT 20""") { (s, dir) =>
      val tk = T.t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("ord", "tok")))
      val ph = tk
        .where(!col("tok").isin("the", "a", "and", "of", "in", "to"))
        .withColumn("grp", col("ord") - row_number().over(
          Window.partitionBy("doc_id").orderBy("ord")))
      val plen = ph.groupBy("doc_id", "grp")
        .agg(count(lit(1)).as("plen"))
      val wo = ph.join(plen, Seq("doc_id", "grp"))
        .groupBy("tok")
        .agg(count(lit(1)).cast(LongType).as("freq"),
          sum("plen").cast(LongType).as("degree"))
      wo.withColumn("micro",
          expr("(2000000L * degree + freq) div (2L * freq)"))
        .orderBy(col("micro").desc, col("tok")).limit(20)
        .select(col("tok"), col("freq"), col("degree"),
          (col("micro").cast(DoubleType) / 1000000.0d).as("score6"))
    },

    // Heavy-change detection (the sketch-literature "heavy changers"
    // question — whose traffic shifted most between two periods?): events
    // split at the integer-micros midpoint of the observed span, per-user
    // counts in each half via conditional aggregation (one scan), top 20
    // by absolute delta. All integer; the period boundary derives from
    // min/max epoch micros with integer halving, so it is identical in
    // both engines. One map-side-combinable agg + a 20-row TakeOrdered.
    q("agg_heavy_change_topk",
      """WITH b AS (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2
        |    AS mid FROM events),
        |c AS (SELECT user_id,
        |    SUM(CASE WHEN epoch_us(ts) <= mid THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN epoch_us(ts) > mid THEN 1 ELSE 0 END) AS n2
        |  FROM events CROSS JOIN b GROUP BY 1)
        |SELECT user_id, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(abs(n1 - n2) AS BIGINT) AS delta
        |FROM c ORDER BY abs(n1 - n2) DESC, user_id LIMIT 20""") { (s, dir) =>
      val e = T.t(s, dir, "events")
      // midpoint of the observed span, in integer micros
      val mid = e.agg(
        expr("(min(unix_micros(cast(ts as timestamp)))" +
          " + max(unix_micros(cast(ts as timestamp)))) div 2").as("mid"))
      e.crossJoin(broadcast(mid))
        .groupBy("user_id")
        .agg(
          sum(when(expr("unix_micros(cast(ts as timestamp)) <= mid"), 1L)
            .otherwise(0L)).cast(LongType).as("n1"),
          sum(when(expr("unix_micros(cast(ts as timestamp)) > mid"), 1L)
            .otherwise(0L)).cast(LongType).as("n2"))
        .withColumn("delta", abs(col("n1") - col("n2")).cast(LongType))
        .orderBy(col("delta").desc, col("user_id")).limit(20)
        .select("user_id", "n1", "n2", "delta")
    },

    // Luhn checksum surface (ISO/IEC 7812 mod-10 — the id-validation
    // scalar every ingest pipeline runs on card/IMEI-shaped fields):
    // deterministic 16-digit PANs derived from order keys (multiplicative
    // hash, zero-padded), checksum as 16 explicit digit terms with the
    // double-every-second-from-the-right rule (2d > 9 → 2d − 9), validity
    // = sum mod 10. Pure integer + substr projection, no UDF, identical
    // in both engines.
    q("scalar_luhn_check", {
      // position i (1-based from the LEFT, length 16): doubled when i odd
      val terms = (1 to 16).map { i =>
        val d = s"CAST(substr(pan, $i, 1) AS INT)"
        if (i % 2 == 1) s"(CASE WHEN 2 * $d > 9 THEN 2 * $d - 9 ELSE 2 * $d END)"
        else d
      }.mkString(" + ")
      s"""WITH p AS (SELECT o_orderkey,
         |    '4' || lpad(CAST(o_orderkey * 2654435761 % 1000000000000000
         |      AS VARCHAR), 15, '0') AS pan
         |  FROM orders WHERE o_orderkey < 500)
         |SELECT o_orderkey, pan,
         |  CAST($terms AS BIGINT) AS luhn_sum,
         |  ($terms) % 10 = 0 AS valid
         |FROM p ORDER BY o_orderkey"""
    }) { (s, dir) =>
      val terms = (1 to 16).map { i =>
        val d = s"CAST(substr(pan, $i, 1) AS INT)"
        if (i % 2 == 1) s"(CASE WHEN 2 * $d > 9 THEN 2 * $d - 9 ELSE 2 * $d END)"
        else d
      }.mkString(" + ")
      T.t(s, dir, "orders").filter(col("o_orderkey") < 500)
        .withColumn("pan", concat(lit("4"),
          lpad(expr("CAST(o_orderkey * 2654435761L % 1000000000000000L" +
            " AS STRING)"), 15, "0")))
        .select(col("o_orderkey"), col("pan"),
          expr(s"CAST($terms AS BIGINT)").as("luhn_sum"),
          expr(s"($terms) % 10 = 0").as("valid"))
        .orderBy("o_orderkey")
    },

    // ABC / Pareto classification per brand (the 80/95 cumulative-revenue
    // inventory cut): parts ranked by revenue within their brand, running
    // share held as integer cents, class boundaries decided by pure
    // integer cross-multiplication (cum·100 ≤ total·80 / ·95 — no float
    // ever classifies). The rank window is KEYED by brand (bounded
    // domain), mirroring agg_gini_concentration's scale rule: no
    // unpartitioned data-sized window. Class rollup emits part counts and
    // exact revenue share per class.
    q("agg_pareto_abc",
      """WITH rev AS (SELECT p.p_brand AS brand, l.l_partkey AS pk,
        |    SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT brand, pk, cents,
        |    SUM(cents) OVER (PARTITION BY brand ORDER BY cents DESC, pk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cents) OVER (PARTITION BY brand) AS total
        |  FROM rev),
        |cl AS (SELECT brand, pk, cents,
        |    CASE WHEN cum * 100 <= total * 80 THEN 'A'
        |         WHEN cum * 100 <= total * 95 THEN 'B'
        |         ELSE 'C' END AS abc, total
        |  FROM rk)
        |SELECT brand, abc, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(cents) AS BIGINT) AS class_cents,
        |  CAST((2000000 * SUM(cents) + max(total))
        |    // (2 * max(total)) AS BIGINT) / 1000000.0 AS share6
        |FROM cl GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      val rev = T.t(s, dir, "lineitem")
        .join(T.t(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"), col("l_partkey").as("pk"))
        .agg(sum(round(col("l_extendedprice") * 100).cast(LongType))
          .as("cents"))
      val wcum = Window.partitionBy("brand")
        .orderBy(col("cents").desc, col("pk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wtot = Window.partitionBy("brand")
      rev.withColumn("cum", sum("cents").over(wcum))
        .withColumn("total", sum("cents").over(wtot))
        .withColumn("abc",
          when(col("cum") * 100 <= col("total") * 80, "A")
            .when(col("cum") * 100 <= col("total") * 95, "B")
            .otherwise("C"))
        .groupBy("brand", "abc")
        .agg(count(lit(1)).cast(LongType).as("n_parts"),
          sum("cents").cast(LongType).as("class_cents"),
          T.r6("sum(cents)", "max(total)").as("share6"))
        .orderBy("brand", "abc")
    },

    // RFM segmentation (recency / frequency / monetary quintiles — the
    // classic CRM partitioning): per ordered customer, days since last
    // order (vs the global max order date), order count, exact cents;
    // each dimension scored 1..5 by ntile(5) KEYED by the customer's
    // nation (relative-to-national-peers scoring keeps every window on a
    // bounded partition key), ties broken by custkey so the bucketing is
    // a total order — deterministic in both engines. Output: per
    // (nation, 'rfm' digit string) segment, customer count and average
    // monetary value as an exact rational.
    q("window_rfm_segments",
      """WITH mx AS (SELECT max(o_orderdate) AS anchor FROM orders),
        |per AS (SELECT c.c_nationkey AS nk, o.o_custkey AS ck,
        |    CAST(date_diff('day', max(o.o_orderdate), max(mx.anchor))
        |      AS BIGINT) AS r_days,
        |    CAST(count(*) AS BIGINT) AS f_cnt,
        |    SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS m_cents
        |  FROM orders o CROSS JOIN mx
        |    JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |sc AS (SELECT nk, ck, m_cents,
        |    ntile(5) OVER (PARTITION BY nk ORDER BY r_days, ck) AS rq,
        |    ntile(5) OVER (PARTITION BY nk ORDER BY f_cnt DESC, ck) AS fq,
        |    ntile(5) OVER (PARTITION BY nk ORDER BY m_cents DESC, ck) AS mq
        |  FROM per)
        |SELECT nk, CAST(rq AS VARCHAR) || CAST(fq AS VARCHAR)
        |    || CAST(mq AS VARCHAR) AS segment,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST((2000000 * SUM(m_cents) + 100 * count(*))
        |    // (2 * 100 * count(*)) AS BIGINT) / 1000000.0 AS avg_monetary6
        |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      val mx = T.t(s, dir, "orders").agg(max("o_orderdate").as("anchor"))
      val per = T.t(s, dir, "orders").crossJoin(broadcast(mx))
        .join(T.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"), col("o_custkey").as("ck"))
        .agg(datediff(max(col("anchor")), max(col("o_orderdate")))
          .cast(LongType).as("r_days"),
          count(lit(1)).cast(LongType).as("f_cnt"),
          sum(round(col("o_totalprice") * 100).cast(LongType)).as("m_cents"))
      val byNk = (c: Column) => Window.partitionBy("nk").orderBy(c, col("ck"))
      per
        .withColumn("rq", ntile(5).over(byNk(col("r_days"))))
        .withColumn("fq", ntile(5).over(byNk(col("f_cnt").desc)))
        .withColumn("mq", ntile(5).over(byNk(col("m_cents").desc)))
        .groupBy(col("nk"),
          concat(col("rq").cast(StringType), col("fq").cast(StringType),
            col("mq").cast(StringType)).as("segment"))
        .agg(count(lit(1)).cast(LongType).as("n_customers"),
          T.r6("sum(m_cents)", "100 * count(*)").as("avg_monetary6"))
        .orderBy("nk", "segment")
    },

    // Cohort LTV accumulation curve — cumulative purchase revenue per
    // signup cohort, by cohort age in days (the growth-analytics
    // companion to window_retention_cohort's activity counts): cohort =
    // each user's first event day, revenue = purchase `value` in exact
    // cents, the cumulative curve is a running integer sum KEYED by
    // cohort day, and LTV-per-user is one exact rational per point. Ages
    // with zero purchase revenue don't emit a row (the curve carries
    // forward at the next observed age).
    q("window_cohort_ltv",
      """WITH coh AS (SELECT user_id, min(CAST(ts AS DATE)) AS cd
        |  FROM events GROUP BY 1),
        |csize AS (SELECT cd, CAST(count(*) AS BIGINT) AS cohort_users
        |  FROM coh GROUP BY 1),
        |rev AS (SELECT coh.cd AS cd,
        |    CAST(CAST(e.ts AS DATE) - coh.cd AS INT) AS age,
        |    SUM(CAST(round(e.value * 100) AS BIGINT)) AS cents
        |  FROM events e JOIN coh ON e.user_id = coh.user_id
        |  WHERE e.event_type = 'purchase' GROUP BY 1, 2),
        |cum AS (SELECT cd, age,
        |    SUM(cents) OVER (PARTITION BY cd ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
        |  FROM rev)
        |SELECT cum.cd AS cohort_day, age, cohort_users,
        |  CAST((2000000 * cc + 100) // 200 AS BIGINT) / 1000000.0
        |    AS cum_revenue6,
        |  CAST((2000000 * cc + 100 * cohort_users)
        |    // (2 * 100 * cohort_users) AS BIGINT) / 1000000.0 AS ltv6
        |FROM cum JOIN csize ON cum.cd = csize.cd
        |ORDER BY cohort_day, age""") { (s, dir) =>
      val ev = T.t(s, dir, "events")
      val coh = ev.groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("cd"))
      val csize = coh.groupBy("cd")
        .agg(count(lit(1)).cast(LongType).as("cohort_users"))
      val rev = ev.filter(col("event_type") === "purchase")
        .join(coh, "user_id")
        .groupBy(col("cd"), datediff(to_date(col("ts")), col("cd"))
          .cast(IntegerType).as("age"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("cents"))
      val w = Window.partitionBy("cd").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("cc", sum("cents").over(w))
        .join(broadcast(csize), "cd")
        .select(col("cd").as("cohort_day"), col("age"), col("cohort_users"),
          T.r6("cc", "100").as("cum_revenue6"),
          T.r6("cc", "100 * cohort_users").as("ltv6"))
        .orderBy("cohort_day", "age")
    },

    // Association rules with confidence and lift (the directed completion
    // of agg_frequent_pairs' support-only view): for the top-20 co-order
    // part pairs, both rule directions a→b and b→a score conf =
    // c(ab)/c(a) and lift = c(ab)·N/(c(a)·c(b)) as pure-integer rationals
    // (T.r6). Reuses the staged co-occurrence pairs artifact; item
    // supports are one distinct-agg; the 40-rule output joins only
    // against the 20-pair cut, so the expensive pair scan happens once at
    // any scale.
    q("agg_assoc_rules_lift",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pc AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |top AS (SELECT pa, pb, c FROM pc ORDER BY c DESC, pa, pb LIMIT 20),
        |rules AS (SELECT pa AS ante, pb AS cons, c FROM top
        |  UNION ALL SELECT pb, pa, c FROM top),
        |items AS (SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS ic
        |  FROM li GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_orders FROM orders)
        |SELECT ante, cons, CAST(c AS BIGINT) AS c_ab,
        |  CAST((2000000 * c + ia.ic) // (2 * ia.ic) AS BIGINT)
        |    / 1000000.0 AS conf6,
        |  CAST((2000000 * c * n_orders + ia.ic * ib.ic)
        |    // (2 * ia.ic * ib.ic) AS BIGINT) / 1000000.0 AS lift6
        |FROM rules JOIN items ia ON rules.ante = ia.pk
        |  JOIN items ib ON rules.cons = ib.pk CROSS JOIN n
        |ORDER BY c_ab DESC, ante, cons""") { (s, dir) =>
      val pc = GroupSeven.pairSupport(s, dir)
        .withColumnRenamed("sup", "c")
      val top = pc.orderBy(col("c").desc, col("pa"), col("pb")).limit(20)
      val rules = top.select(col("pa").as("ante"), col("pb").as("cons"),
          col("c"))
        .unionAll(top.select(col("pb").as("ante"), col("pa").as("cons"),
          col("c")))
      val items = T.t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
        .groupBy(col("l_partkey").as("pk"))
        .agg(count(lit(1)).cast(LongType).as("ic"))
      val n = T.t(s, dir, "orders")
        .agg(count(lit(1)).cast(LongType).as("n_orders"))
      rules
        .join(broadcast(items.select(col("pk").as("pka"),
          col("ic").as("ia"))), col("ante") === col("pka"))
        .join(broadcast(items.select(col("pk").as("pkb"),
          col("ic").as("ib"))), col("cons") === col("pkb"))
        .crossJoin(broadcast(n))
        .select(col("ante"), col("cons"), col("c").cast(LongType).as("c_ab"),
          T.r6("c", "ia").as("conf6"),
          T.r6("c * n_orders", "ia * ib").as("lift6"))
        .orderBy(col("c_ab").desc, col("ante"), col("cons"))
    },

    // STL-lite seasonal decomposition of the daily revenue series —
    // classical additive decomposition (trend = centered 7-day moving
    // average, seasonal = per-weekday mean of the detrended series,
    // residual = remainder), kept EXACT end to end: detrended values are
    // carried ×7 (7x − Σ7, integer), weekday means are integer rationals,
    // and every emitted component goes through the T.r6/r6s HALF_UP
    // path. x = trend + seasonal + residual holds as an exact rational
    // identity. Windows run on the bounded day spine (≤31 rows); the
    // only data-sized pass is the daily agg.
    q("ts_stl_decompose",
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1),
        |w AS (SELECT day, x,
        |    SUM(x) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
        |      AND 3 FOLLOWING) AS s7,
        |    COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
        |      AND 3 FOLLOWING) AS c7
        |  FROM d),
        |inter AS (SELECT day, x, s7, 7 * x - s7 AS det7,
        |    CAST(date_part('dow', day) AS INT) AS dow
        |  FROM w WHERE c7 = 7),
        |sdow AS (SELECT dow, SUM(det7) AS sdet,
        |    CAST(count(*) AS BIGINT) AS nd
        |  FROM inter GROUP BY 1)
        |SELECT day, inter.dow AS dow,
        |  CAST((2000000 * s7 + 700) // 1400 AS BIGINT) / 1000000.0
        |    AS trend6,
        |  (CASE WHEN sdet < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(sdet) + 700 * nd) // (2 * 700 * nd)
        |      AS BIGINT) / 1000000.0 AS seasonal6,
        |  (CASE WHEN nd * det7 - sdet < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(nd * det7 - sdet) + 700 * nd)
        |      // (2 * 700 * nd) AS BIGINT) / 1000000.0 AS resid6
        |FROM inter JOIN sdow ON inter.dow = sdow.dow
        |ORDER BY day""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("x"))
      val w7 = Window.orderBy("day").rowsBetween(-3, 3)
      val inter = d
        .withColumn("s7", sum("x").over(w7))
        .withColumn("c7", count(lit(1)).over(w7))
        .where(col("c7") === 7)
        .withColumn("det7", lit(7) * col("x") - col("s7"))
        .withColumn("dow", (dayofweek(col("day")) - 1).cast(IntegerType))
      val sdow = inter.groupBy(col("dow").as("sd"))
        .agg(sum("det7").as("sdet"), count(lit(1)).cast(LongType).as("nd"))
      inter.join(broadcast(sdow), col("dow") === col("sd"))
        .select(col("day"), col("dow"),
          T.r6("s7", "700").as("trend6"),
          T.r6s("sdet", "700 * nd").as("seasonal6"),
          T.r6s("nd * det7 - sdet", "700 * nd").as("resid6"))
        .orderBy("day")
    },

    // Rolling MAD (median absolute deviation over the trailing 7 events
    // per user — the robust rolling outlier band, companion to
    // window_rolling_median's location estimate): the window materializes
    // its frame as a list, and BOTH medians are exact lower-median
    // selections on integer cents (sorted-array element picks — no
    // interpolation, no float until the final ÷100). Per-user O(7) state;
    // one shuffle on user_id.
    q("window_rolling_mad",
      """WITH e AS (SELECT event_id, user_id, ts,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |w AS (SELECT event_id, user_id,
        |    list(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS l
        |  FROM e),
        |m AS (SELECT event_id, user_id, l,
        |    list_sort(l)[(len(l) + 1) // 2] AS med FROM w)
        |SELECT event_id, user_id, CAST(med AS BIGINT) / 100.0 AS med7,
        |  CAST(list_sort(list_transform(l, x -> abs(x - med)))
        |    [(len(l) + 1) // 2] AS BIGINT) / 100.0 AS mad7
        |FROM m ORDER BY event_id LIMIT 2000""") { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
      T.t(s, dir, "events")
        .withColumn("c", round(col("value") * 100).cast(LongType))
        .withColumn("l", collect_list("c").over(w))
        .withColumn("med",
          expr("element_at(sort_array(l), cast((size(l) + 1) div 2 as int))"))
        .select(col("event_id"), col("user_id"),
          (col("med").cast(DoubleType) / 100.0d).as("med7"),
          (expr("element_at(sort_array(transform(l, x -> abs(x - med)))," +
            " cast((size(l) + 1) div 2 as int))").cast(DoubleType) / 100.0d).as("mad7"))
        .orderBy("event_id").limit(2000)
    },

    // Cramér–von Mises two-sample statistic (purchase vs click `value`
    // distributions — the integrated-distance complement to the KS
    // supremum test): combined midranks carried as integers (the 2·rank
    // trick), within-sample positions by row_number with an event_id
    // tiebreak (identical total order in both engines), and T assembled
    // as ONE integer rational — T = (3·U2 − 2nm(4nm−1)) / (12nm(n+m))
    // with U2 = n·Σ(2r−2i)² + m·Σ(2s−2j)² — through the T.r6s HALF_UP
    // path (numerator pre-cast DECIMAL(38,0); DuckDB sums are HUGEINT).
    // Midrank-ties variant, documented as such.
    q("stat_cvm_two_sample",
      """WITH e AS (SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS c, event_id
        |  FROM events WHERE user_id < 200
        |    AND event_type IN ('purchase', 'click')),
        |v AS (SELECT c, count(*) AS cnt FROM e GROUP BY 1),
        |tr AS (SELECT c, 2 * COALESCE(SUM(cnt) OVER (ORDER BY c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + cnt + 1 AS tr2 FROM v),
        |rk AS (SELECT g, e.c, tr2,
        |    row_number() OVER (PARTITION BY g ORDER BY e.c, event_id) AS i
        |  FROM e JOIN tr ON e.c = tr.c),
        |agg AS (SELECT
        |    SUM(CASE WHEN g = 'purchase'
        |      THEN (tr2 - 2 * i) * (tr2 - 2 * i) END) AS sx,
        |    SUM(CASE WHEN g = 'click'
        |      THEN (tr2 - 2 * i) * (tr2 - 2 * i) END) AS sy,
        |    SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS n,
        |    SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS m
        |  FROM rk),
        |y AS (SELECT n, m,
        |    3 * (n * sx + m * sy) - 2 * n * m * (4 * n * m - 1) AS numr,
        |    12 * n * m * (n + m) AS denr FROM agg)
        |SELECT CAST(n AS BIGINT) AS n_purchase, CAST(m AS BIGINT) AS n_click,
        |  (CASE WHEN numr < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(numr) + denr) // (2 * denr) AS BIGINT)
        |    / 1000000.0 AS cvm6
        |FROM y""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .filter(col("user_id") < 200 &&
          col("event_type").isin("purchase", "click"))
        .select(col("event_type").as("g"),
          round(col("value") * 100).cast(LongType).as("c"), col("event_id"))
      val v = e.groupBy("c").agg(count(lit(1)).as("cnt"))
      val tr = v.withColumn("tr2",
          lit(2L) * coalesce(sum("cnt").over(Window.orderBy("c")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            + col("cnt") + 1)
        .select("c", "tr2")
      val rk = e.join(broadcast(tr), "c")
        .withColumn("i", row_number().over(
          Window.partitionBy("g").orderBy("c", "event_id")))
      rk.agg(
          sum(when(col("g") === "purchase",
            (col("tr2") - col("i") * 2) * (col("tr2") - col("i") * 2)))
            .as("sx"),
          sum(when(col("g") === "click",
            (col("tr2") - col("i") * 2) * (col("tr2") - col("i") * 2)))
            .as("sy"),
          sum(when(col("g") === "purchase", 1L).otherwise(0L)).as("n"),
          sum(when(col("g") === "click", 1L).otherwise(0L)).as("m"))
        .withColumn("numr",
          expr("3 * (n * sx + m * sy) - 2 * n * m * (4 * n * m - 1)"))
        .withColumn("denr", expr("12 * n * m * (n + m)"))
        .select(col("n").cast(LongType).as("n_purchase"),
          col("m").cast(LongType).as("n_click"),
          T.r6s("cast(numr as decimal(38,0))", "denr").as("cvm6"))
    },

    // Rescaled-range statistic R/S per event type (the Hurst-analysis
    // primitive for long-range dependence in the daily revenue series):
    // cumulative deviations cleared of the rational mean by carrying ×n
    // (n·cum_k − k·S, integer), R·n = max − min of that integer series,
    // and R/S = Rn/√(n·Σx² − S²) — the only float math is ONE sqrt and
    // ONE division on bit-identical integer operands, rounded at 6dp
    // (post-sqrt — no representability ties). Power sums run in
    // DECIMAL(38,0)/HUGEINT so the key survives scale-up.
    q("ts_rescaled_range",
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    SUM(x) AS s, SUM(x * x) AS sq FROM d GROUP BY 1),
        |cum AS (SELECT d.event_type AS event_type, day,
        |    SUM(x) OVER (PARTITION BY d.event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck,
        |    row_number() OVER (PARTITION BY d.event_type ORDER BY day) AS k
        |  FROM d),
        |dev AS (SELECT cum.event_type AS event_type,
        |    max(n * ck - k * s) AS mx, min(n * ck - k * s) AS mn
        |  FROM cum JOIN st ON cum.event_type = st.event_type GROUP BY 1)
        |SELECT st.event_type AS event_type, n,
        |  round(CAST(mx - mn AS DOUBLE)
        |    / sqrt(CAST(n * sq - s * s AS DOUBLE)), 6) AS rs6
        |FROM dev JOIN st ON dev.event_type = st.event_type
        |ORDER BY st.event_type""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("x"))
      val st = d.groupBy(col("event_type").as("et"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum(col("x").cast(DecimalType(38, 0))).as("s"),
          sum((col("x") * col("x")).cast(DecimalType(38, 0))).as("sq"))
      val wc = Window.partitionBy("event_type").orderBy("day")
      val cum = d
        .withColumn("ck", sum("x").over(
          wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("k", row_number().over(wc))
      val dev = cum.join(broadcast(st), col("event_type") === col("et"))
        .groupBy("event_type")
        .agg(max(expr("n * ck - k * s")).as("mx"),
          min(expr("n * ck - k * s")).as("mn"))
      dev.join(broadcast(st), col("event_type") === col("et"))
        .select(col("event_type"), col("n"),
          round((col("mx") - col("mn")).cast(DoubleType)
            / sqrt(expr("cast(n * sq - s * s as double)")), 6).as("rs6"))
        .orderBy("event_type")
    },

    // Truncated Katz centrality (3 attenuation steps, β = 1/4) over the
    // strong co-purchase edge set — the influence score that, unlike
    // degree, credits 2- and 3-hop reachability: kept EXACTLY integral by
    // working in micro-units with floor division per step
    // (v_{k+1}(u) = ⌊Σ_nbr v_k⌋/4 — same floor in both engines), so the
    // iterative float-drift trap (the PageRank lesson) never opens. Each
    // step is one co-partitioned join + agg on the bounded edge set;
    // the DuckDB ladder references each layer once (safe uninlined).
    q("graph_katz_centrality",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |sup AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    count(*) AS sup
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |pr AS (SELECT pa, pb FROM sup ORDER BY sup DESC, pa, pb
        |  LIMIT 2000),
        |e AS (SELECT pa AS src, pb AS dst FROM pr
        |  UNION ALL SELECT pb, pa FROM pr),
        |v0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS v
        |  FROM e),
        |v1 AS (SELECT e.src AS node, SUM(v0.v) // 4 AS v
        |  FROM e JOIN v0 ON e.dst = v0.node GROUP BY 1),
        |v2 AS (SELECT e.src AS node, SUM(v1.v) // 4 AS v
        |  FROM e JOIN v1 ON e.dst = v1.node GROUP BY 1),
        |v3 AS (SELECT e.src AS node, SUM(v2.v) // 4 AS v
        |  FROM e JOIN v2 ON e.dst = v2.node GROUP BY 1)
        |SELECT v1.node AS node,
        |  CAST(v1.v + v2.v + v3.v AS BIGINT) AS katz_micro
        |FROM v1 JOIN v2 ON v1.node = v2.node
        |  JOIN v3 ON v1.node = v3.node
        |ORDER BY katz_micro DESC, node LIMIT 20""") { (s, dir) =>
      val pr = GroupSeven.pairSupport(s, dir)
        .orderBy(col("sup").desc, col("pa"), col("pb")).limit(2000)
        .select("pa", "pb")
      val e = pr.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(pr.select(col("pb").as("src"), col("pa").as("dst")))
        .localCheckpoint(false)
      def step(v: DataFrame): DataFrame =
        e.join(v.withColumnRenamed("node", "vn"), col("dst") === col("vn"))
          .groupBy(col("src").as("node"))
          .agg(expr("sum(v) div 4").as("v"))
      val v0 = e.select(col("src").as("node")).distinct()
        .withColumn("v", lit(1000000L))
      val v1 = step(v0)
      val v2 = step(v1)
      val v3 = step(v2)
      v1.select(col("node"), col("v").as("va"))
        .join(v2.select(col("node"), col("v").as("vb")), "node")
        .join(v3.select(col("node"), col("v").as("vc")), "node")
        .select(col("node"),
          (col("va") + col("vb") + col("vc")).cast(LongType)
            .as("katz_micro"))
        .orderBy(col("katz_micro").desc, col("node")).limit(20)
    },

    // Time-decayed engagement score — the recency-weighted activity
    // ranking every feed/churn model starts from, kept EXACTLY integral:
    // one-day half-life as a pure bit shift (cents >> age_days, floor,
    // clamped to 0 at age >= 63 so Java's 6-bit shift mask and DuckDB's
    // zero-at->=64 semantics can never diverge on an old event),
    // so the per-user sum is an order-independent integer at any
    // partitioning — no float decay product whose merge order matters.
    // One scan + one agg; the date anchor is a broadcast scalar.
    q("agg_time_decay_engagement",
      """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS anchor FROM events),
        |sc AS (SELECT user_id,
        |    SUM(CASE WHEN (anchor - CAST(ts AS DATE)) >= 63 THEN 0
        |      ELSE CAST(round(value * 100) AS BIGINT)
        |        >> (anchor - CAST(ts AS DATE)) END) AS score_c,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events CROSS JOIN mx GROUP BY user_id)
        |SELECT user_id, n_events, CAST(score_c AS BIGINT) AS score_cents
        |FROM sc ORDER BY score_c DESC, user_id LIMIT 20""") { (s, dir) =>
      val mx = T.t(s, dir, "events")
        .agg(max(to_date(col("ts"))).as("anchor"))
      T.t(s, dir, "events").crossJoin(broadcast(mx))
        .groupBy("user_id")
        .agg(sum(expr(
            "CASE WHEN datediff(anchor, cast(ts as date)) >= 63 THEN 0L" +
            " ELSE shiftright(cast(round(value * 100) as bigint)," +
            " datediff(anchor, cast(ts as date))) END")).as("score_c"),
          count(lit(1)).cast(LongType).as("n_events"))
        .select(col("user_id"), col("n_events"),
          col("score_c").cast(LongType).as("score_cents"))
        .orderBy(col("score_cents").desc, col("user_id")).limit(20)
    },

    // Base58 encode/decode (the Bitcoin/IPFS id alphabet — no 0/O/I/l):
    // deterministic 8-symbol codes from hashed order keys via fixed
    // power-of-58 digit extraction (pure integer div/mod + alphabet
    // substr, the geohash kit's shape), then DE-coded back in-query
    // proving the exact roundtrip. No UDF; identical in both engines.
    q("scalar_base58_funcs", {
      val alpha =
        "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
      val enc = (0 until 8).map { i =>
        val p = math.pow(58.0, (7 - i).toDouble).toLong
        s"substr('$alpha', CAST((v // $p) % 58 + 1 AS INT), 1)"
      }.mkString(" || ")
      val dec = (0 until 8).map { i =>
        val p = math.pow(58.0, (7 - i).toDouble).toLong
        s"(strpos('$alpha', substr(code, ${i + 1}, 1)) - 1) * $p"
      }.mkString(" + ")
      s"""WITH h AS (SELECT o_orderkey,
         |    o_orderkey * 2654435761 % 128063081718016 AS v
         |  FROM orders WHERE o_orderkey < 500),
         |c AS (SELECT o_orderkey, v, $enc AS code FROM h)
         |SELECT o_orderkey, CAST(v AS BIGINT) AS v, code,
         |  CAST($dec AS BIGINT) AS v_rt
         |FROM c ORDER BY o_orderkey"""
    }) { (s, dir) =>
      val alpha =
        "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
      val enc = (0 until 8).map { i =>
        val p = math.pow(58.0, (7 - i).toDouble).toLong
        s"substr('$alpha', CAST((v div ${p}L) % 58 + 1 AS INT), 1)"
      }.mkString(", ")
      val dec = (0 until 8).map { i =>
        val p = math.pow(58.0, (7 - i).toDouble).toLong
        s"(instr('$alpha', substr(code, ${i + 1}, 1)) - 1) * ${p}L"
      }.mkString(" + ")
      T.t(s, dir, "orders").filter(col("o_orderkey") < 500)
        // 58^8 = 128063081718016 bounds the 8-symbol code domain
        .withColumn("v", expr("o_orderkey * 2654435761L % 128063081718016L"))
        .withColumn("code", expr(s"concat($enc)"))
        .select(col("o_orderkey"), col("v").cast(LongType).as("v"),
          col("code"), expr(s"CAST($dec AS BIGINT)").as("v_rt"))
        .orderBy("o_orderkey")
    },

    // Jarque–Bera normality test of `value` per event type — the
    // moment-based omnibus test (JB = n/6·(S² + K²/4)): power sums
    // S1..S4 are EXACT decimal sums (agg_skew_kurtosis_exact's
    // construction on DECIMAL(9,2)), and the float composition runs the
    // IDENTICAL operation sequence in both engines on those bit-identical
    // operands, rounded once at 6dp (post-division/sqrt — no
    // representability ties). One map-side-combinable agg; 5 output rows.
    // x² re-cast to DECIMAL(19,4) (exact — scale 4 is the true scale of
    // the product) so the x³/x⁴ chains stay inside decimal128 in BOTH
    // engines (DECIMAL(19) forces int128 physicals — DuckDB's int64
    // DECIMAL(18) product overflows)
    sqlKey("stat_jarque_bera",
      """WITH s AS (SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(9,2)) * CAST(value AS DECIMAL(9,2)) AS DECIMAL(19,4))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(9,2)) * CAST(value AS DECIMAL(9,2)) AS DECIMAL(19,4)) * CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS s3,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(9,2)) * CAST(value AS DECIMAL(9,2)) AS DECIMAL(19,4)) * CAST(CAST(value AS DECIMAL(9,2)) * CAST(value AS DECIMAL(9,2)) AS DECIMAL(19,4))) AS DOUBLE) AS s4
        |  FROM events GROUP BY 1),
        |m AS (SELECT event_type, n,
        |    s2 - s1 * s1 / n AS m2,
        |    s3 - 3 * (s1 / n) * s2 + 2 * (s1 / n) * (s1 / n) * s1 AS m3,
        |    s4 - 4 * (s1 / n) * s3 + 6 * (s1 / n) * (s1 / n) * s2
        |      - 3 * (s1 / n) * (s1 / n) * (s1 / n) * s1 AS m4
        |  FROM s),
        |k AS (SELECT event_type, n,
        |    sqrt(n) * m3 / pow(m2, 1.5) AS sk,
        |    n * m4 / (m2 * m2) - 3 AS ku
        |  FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS cnt,
        |  round(sk, 6) AS skew6, round(ku, 6) AS kurt6,
        |  round(n / 6 * (sk * sk + ku * ku / 4), 6) AS jb6
        |FROM k ORDER BY event_type"""),

    // Herfindahl–Hirschman concentration index per nation (the
    // market-concentration number antitrust and category management run):
    // HHI = Σ share² over each nation's suppliers by revenue, held as ONE
    // integer rational Σcents²/total² — squares in DECIMAL(38,0)/HUGEINT,
    // emitted through the T.r6 HALF_UP path. Sibling of the Gini key
    // (inequality) and the Pareto key (classification): concentration as
    // a scalar. Two map-side-combinable aggs.
    q("agg_hhi_concentration",
      """WITH rev AS (SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
        |    SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |agg AS (SELECT nk, CAST(count(*) AS BIGINT) AS n_suppliers,
        |    SUM(CAST(cents AS HUGEINT) * cents) AS sumsq,
        |    SUM(cents) AS total
        |  FROM rev GROUP BY 1)
        |SELECT nk, n_suppliers,
        |  CAST((2000000 * sumsq + total * total)
        |    // (2 * total * total) AS BIGINT) / 1000000.0 AS hhi6
        |FROM agg ORDER BY nk""") { (s, dir) =>
      val rev = T.t(s, dir, "lineitem")
        .join(broadcast(T.t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nk"), col("l_suppkey").as("sk"))
        .agg(sum(round(col("l_extendedprice") * 100).cast(LongType))
          .as("cents"))
      rev.groupBy("nk")
        .agg(count(lit(1)).cast(LongType).as("n_suppliers"),
          sum(col("cents").cast(DecimalType(38, 0)) * col("cents"))
            .as("sumsq"),
          sum(col("cents").cast(DecimalType(38, 0))).as("total"))
        .select(col("nk"), col("n_suppliers"),
          T.r6("sumsq", "total * total").as("hhi6"))
        .orderBy("nk")
    },

    // Split-conformal prediction interval (the distribution-free ML
    // uncertainty wrapper): train half fits the per-type mean, the
    // calibration quarter takes the ⌈0.9(n+1)⌉-smallest absolute residual
    // as interval half-width, the test quarter audits empirical coverage
    // (lands at ≈0.9 by the conformal guarantee). Residuals stay EXACT by
    // carrying ×n_train (|n·y − S|, integer — same denominator within a
    // type, so ranks are integer comparisons); the rank index is pure
    // integer ceil ((9(n+1)+9) div 10 — no 0.9·x float whose ulp moves
    // the index). Splits by event_id arithmetic: deterministic, disjoint.
    q("ml_conformal_interval",
      """WITH e AS (SELECT event_type AS g, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
        |tr AS (SELECT g, CAST(count(*) AS BIGINT) AS n, SUM(y) AS sy
        |  FROM e WHERE event_id % 2 = 0 GROUP BY 1),
        |cal AS (SELECT e.g AS g, abs(n * y - sy) AS r
        |  FROM e JOIN tr ON e.g = tr.g WHERE event_id % 4 = 1),
        |cn AS (SELECT g, CAST(count(*) AS BIGINT) AS n_cal FROM cal
        |  GROUP BY 1),
        |rk AS (SELECT cal.g AS g, r, n_cal, row_number() OVER (
        |    PARTITION BY cal.g ORDER BY r) AS rn
        |  FROM cal JOIN cn ON cal.g = cn.g),
        |q AS (SELECT g, n_cal,
        |    max(CASE WHEN rn = (9 * (n_cal + 1) + 9) // 10 THEN r END) AS qs
        |  FROM rk GROUP BY 1, 2),
        |tst AS (SELECT e.g AS g, CAST(count(*) AS BIGINT) AS n_test,
        |    SUM(CASE WHEN abs(n * y - sy) <= qs THEN 1 ELSE 0 END) AS cov
        |  FROM e JOIN tr ON e.g = tr.g JOIN q ON e.g = q.g
        |  WHERE event_id % 4 = 3 GROUP BY 1)
        |SELECT tr.g AS event_type, n AS n_train, n_cal, n_test,
        |  CAST((2000000 * qs + n * 100) // (2 * n * 100) AS BIGINT)
        |    / 1000000.0 AS width6,
        |  CAST((2000000 * cov + n_test) // (2 * n_test) AS BIGINT)
        |    / 1000000.0 AS coverage6
        |FROM tr JOIN q ON tr.g = q.g JOIN tst ON tr.g = tst.g
        |ORDER BY tr.g""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .select(col("event_type").as("g"), col("event_id"),
          round(col("value") * 100).cast(LongType).as("y"))
      val tr = e.filter(col("event_id") % 2 === 0).groupBy("g")
        .agg(count(lit(1)).cast(LongType).as("n"), sum("y").as("sy"))
      val cal = e.filter(col("event_id") % 4 === 1)
        .join(broadcast(tr), "g")
        .withColumn("r", abs(col("n") * col("y") - col("sy")))
      val cn = cal.groupBy("g").agg(count(lit(1)).cast(LongType).as("n_cal"))
      val rk = cal.join(broadcast(cn), "g")
        .withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy("r")))
      val q9 = rk.groupBy("g", "n_cal")
        .agg(max(when(expr("rn = (9 * (n_cal + 1) + 9) div 10"), col("r")))
          .as("qs"))
      val tst = e.filter(col("event_id") % 4 === 3)
        .join(broadcast(tr), "g").join(broadcast(q9), "g")
        .groupBy("g")
        .agg(count(lit(1)).cast(LongType).as("n_test"),
          sum(when(abs(col("n") * col("y") - col("sy")) <= col("qs"), 1L)
            .otherwise(0L)).as("cov"))
      tr.join(q9, "g").join(tst, "g")
        .select(col("g").as("event_type"), col("n").as("n_train"),
          col("n_cal"), col("n_test"),
          T.r6("qs", "n * 100").as("width6"),
          T.r6("cov", "n_test").as("coverage6"))
        .orderBy("event_type")
    },

    // Simpson diversity index per source (ecology's concentration dual,
    // used for corpus balance audits): D = Σ c(c−1)/(N(N−1)) — the
    // probability two sampled tokens repeat a term — as ONE pure-integer
    // rational per source, plus vocabulary richness. One token agg + one
    // per-source agg, both map-side-combinable.
    q("text_simpson_diversity",
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS richness,
        |    SUM(CAST(c AS HUGEINT) * (c - 1)) AS num, SUM(c) AS n
        |  FROM c GROUP BY 1)
        |SELECT source, richness, CAST(n AS BIGINT) AS n_tokens,
        |  CAST((2000000 * num + n * (n - 1)) // (2 * n * (n - 1))
        |    AS BIGINT) / 1000000.0 AS simpson6
        |FROM a ORDER BY source""") { (s, dir) =>
      val c = T.t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).cast(LongType).as("c"))
      c.groupBy("source")
        .agg(count(lit(1)).cast(LongType).as("richness"),
          sum(col("c").cast(DecimalType(38, 0)) * (col("c") - 1)).as("num"),
          sum("c").cast(LongType).as("n"))
        .select(col("source"), col("richness"), col("n").as("n_tokens"),
          T.r6("num", "n * (n - 1)").as("simpson6"))
        .orderBy("source")
    },

    // Click-to-purchase conversion latency quantiles — funnel TIMING (the
    // companion to window_funnel_stages' counts): per converting user,
    // minutes from first click to the first purchase at-or-after it;
    // p25/50/75/90 by exact cumulative rank selection over the
    // MINUTE-granular latency spine (domain-bounded — ≤ minutes-in-month
    // rows — so the unpartitioned cumsum window never sees data-sized
    // input). Pure integer micros arithmetic throughout.
    q("window_conversion_latency",
      """WITH fc AS (SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'click' GROUP BY 1),
        |fp AS (SELECT e.user_id AS user_id,
        |    (epoch_us(min(e.ts)) - epoch_us(min(fc.t0))) // 60000000
        |      AS lat_min
        |  FROM events e JOIN fc ON e.user_id = fc.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= fc.t0
        |  GROUP BY 1),
        |h AS (SELECT lat_min, count(*) AS cnt FROM fp GROUP BY 1),
        |r AS (SELECT lat_min, cnt,
        |    SUM(cnt) OVER (ORDER BY lat_min ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cum,
        |    (SELECT CAST(count(*) AS BIGINT) FROM fp) AS n FROM h)
        |SELECT CAST(max(n) AS BIGINT) AS n_converted,
        |  CAST(min(CASE WHEN cum * 4 >= n THEN lat_min END) AS BIGINT)
        |    AS q25_min,
        |  CAST(min(CASE WHEN cum * 2 >= n THEN lat_min END) AS BIGINT)
        |    AS q50_min,
        |  CAST(min(CASE WHEN cum * 4 >= 3 * n THEN lat_min END) AS BIGINT)
        |    AS q75_min,
        |  CAST(min(CASE WHEN cum * 10 >= 9 * n THEN lat_min END) AS BIGINT)
        |    AS q90_min
        |FROM r""") { (s, dir) =>
      val ev = T.t(s, dir, "events")
      val fc = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min("ts").as("t0"))
      val fp = ev.filter(col("event_type") === "purchase")
        .join(fc, "user_id")
        .filter(col("ts") >= col("t0"))
        .groupBy("user_id")
        .agg(expr("(unix_micros(cast(min(ts) as timestamp))" +
          " - unix_micros(cast(min(t0) as timestamp))) div 60000000")
          .as("lat_min"))
      val n = fp.agg(count(lit(1)).cast(LongType).as("n"))
      val h = fp.groupBy("lat_min").agg(count(lit(1)).as("cnt"))
      // minute-granular spine: bounded by the fixture's time span
      val cumW = Window.orderBy("lat_min")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("cum", sum("cnt").over(cumW))
        .crossJoin(broadcast(n))
        .agg(max("n").cast(LongType).as("n_converted"),
          min(when(col("cum") * 4 >= col("n"), col("lat_min")))
            .cast(LongType).as("q25_min"),
          min(when(col("cum") * 2 >= col("n"), col("lat_min")))
            .cast(LongType).as("q50_min"),
          min(when(col("cum") * 4 >= col("n") * 3, col("lat_min")))
            .cast(LongType).as("q75_min"),
          min(when(col("cum") * 10 >= col("n") * 9, col("lat_min")))
            .cast(LongType).as("q90_min"))
    },

    // Jensen–Shannon divergence between the src0/src1 unigram
    // distributions — the SYMMETRIC, bounded corpus-distance (the drift
    // metric that, unlike KL, tolerates disjoint vocabulary): per-term
    // log-ratios quantized to integer micro-nats (text_kl_divergence's
    // quantize-then-sum rule — integer sums are order-independent at any
    // partitioning), the two halves combined into ONE rational over the
    // common denominator 2·n_p·n_q. Vocabulary full-outer join; zero
    // counts contribute exactly zero.
    q("text_js_divergence",
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |n AS (SELECT
        |    (SELECT CAST(sum(c) AS BIGINT) FROM c WHERE source = 'src0')
        |      AS np,
        |    (SELECT CAST(sum(c) AS BIGINT) FROM c WHERE source = 'src1')
        |      AS nq),
        |j AS (SELECT COALESCE(p.term, q.term) AS term,
        |    COALESCE(p.c, 0) AS cp, COALESCE(q.c, 0) AS cq
        |  FROM (SELECT term, c FROM c WHERE source = 'src0') p
        |  FULL OUTER JOIN (SELECT term, c FROM c WHERE source = 'src1') q
        |    ON p.term = q.term),
        |z AS (SELECT term, cp, cq,
        |    CASE WHEN cp > 0 THEN cp * CAST(round(ln(
        |      CAST(2 * cp * nq AS DOUBLE) / CAST(cp * nq + cq * np
        |      AS DOUBLE)) * 1000000.0, 0) AS BIGINT) ELSE 0 END AS wp,
        |    CASE WHEN cq > 0 THEN cq * CAST(round(ln(
        |      CAST(2 * cq * np AS DOUBLE) / CAST(cp * nq + cq * np
        |      AS DOUBLE)) * 1000000.0, 0) AS BIGINT) ELSE 0 END AS wq
        |  FROM j CROSS JOIN n),
        |agg AS (SELECT SUM(wp) AS swp, SUM(wq) AS swq FROM z)
        |SELECT CAST(np AS BIGINT) AS n_src0, CAST(nq AS BIGINT) AS n_src1,
        |  (CASE WHEN nq * swp + np * swq < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(nq * swp + np * swq)
        |        + CAST(2 * np * nq AS HUGEINT) * 1000000)
        |      // (2 * CAST(2 * np * nq AS HUGEINT) * 1000000) AS BIGINT)
        |    / 1000000.0 AS js6
        |FROM agg CROSS JOIN n""") { (s, dir) =>
      val c = T.t(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).cast(LongType).as("c"))
      val np = c.filter(col("source") === "src0")
        .agg(sum("c").cast(LongType).as("np"))
      val nq = c.filter(col("source") === "src1")
        .agg(sum("c").cast(LongType).as("nq"))
      val p = c.filter(col("source") === "src0")
        .select(col("term").as("tp"), col("c").as("cp0"))
      val q2 = c.filter(col("source") === "src1")
        .select(col("term").as("tq"), col("c").as("cq0"))
      val j = p.join(q2, col("tp") === col("tq"), "full_outer")
        .select(coalesce(col("cp0"), lit(0L)).as("cp"),
          coalesce(col("cq0"), lit(0L)).as("cq"))
        .crossJoin(broadcast(np)).crossJoin(broadcast(nq))
      val z = j
        .withColumn("wp", when(col("cp") > 0,
          col("cp") * round(log((col("cp") * 2 * col("nq"))
            .cast(DoubleType) / (col("cp") * col("nq")
              + col("cq") * col("np")).cast(DoubleType)) * 1000000.0, 0)
            .cast(LongType)).otherwise(0L))
        .withColumn("wq", when(col("cq") > 0,
          col("cq") * round(log((col("cq") * 2 * col("np"))
            .cast(DoubleType) / (col("cp") * col("nq")
              + col("cq") * col("np")).cast(DoubleType)) * 1000000.0, 0)
            .cast(LongType)).otherwise(0L))
      z.agg(sum("wp").as("swp"), sum("wq").as("swq"),
          max("np").as("np"), max("nq").as("nq"))
        .select(col("np").cast(LongType).as("n_src0"),
          col("nq").cast(LongType).as("n_src1"),
          T.r6s("cast(nq * swp + np * swq as decimal(38,0))",
            "cast(2 * np * nq as decimal(38,0)) * 1000000").as("js6"))
    },

    // Permutation test for the purchase-vs-click mean difference — the
    // assumption-free significance test, made FULLY DETERMINISTIC by
    // replacing random label shuffles with 200 multiplicative-hash
    // relabelings (hash(event_id, b) parity — same permutation set on any
    // engine, any partitioning). Mean differences compare as exact
    // cross-multiplied integer rationals (|num_b|·den_0 ≥ |num_0|·den_b,
    // HUGEINT/DECIMAL(38,0)) so no float ever decides extremeness; the
    // p-value is the add-one rational (1+extreme)/(B+1). One conditional
    // agg over the ×200 replicated scan — embarrassingly parallel.
    q("stat_permutation_test",
      """WITH e AS (SELECT event_id, CAST(round(value * 100) AS BIGINT)
        |    AS y,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS grp
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |obs AS (SELECT
        |    SUM(CASE WHEN grp = 1 THEN y ELSE 0 END) AS s1,
        |    SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN grp = 2 THEN y ELSE 0 END) AS s2,
        |    SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS n2
        |  FROM e),
        |perms AS (SELECT b,
        |    SUM(CASE WHEN (CAST(event_id AS HUGEINT) * 2654435761
        |      + b * 40503) % 4294967296 % 2 = 0 THEN y ELSE 0 END) AS s1b,
        |    SUM(CASE WHEN (CAST(event_id AS HUGEINT) * 2654435761
        |      + b * 40503) % 4294967296 % 2 = 0 THEN 1 ELSE 0 END) AS n1b,
        |    SUM(CASE WHEN (CAST(event_id AS HUGEINT) * 2654435761
        |      + b * 40503) % 4294967296 % 2 = 1 THEN y ELSE 0 END) AS s2b,
        |    SUM(CASE WHEN (CAST(event_id AS HUGEINT) * 2654435761
        |      + b * 40503) % 4294967296 % 2 = 1 THEN 1 ELSE 0 END) AS n2b
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 201)) AS b)
        |  GROUP BY 1),
        |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_extreme
        |  FROM perms CROSS JOIN obs
        |  WHERE n1b > 0 AND n2b > 0
        |    AND abs(CAST(s1b * n2b - s2b * n1b AS HUGEINT)) * (n1 * n2)
        |      >= abs(CAST(s1 * n2 - s2 * n1 AS HUGEINT)) * (n1b * n2b))
        |SELECT CAST(n1 AS BIGINT) AS n_purchase,
        |  CAST(n2 AS BIGINT) AS n_click, n_extreme,
        |  CAST((2000000 * (1 + n_extreme) + 201) // 402 AS BIGINT)
        |    / 1000000.0 AS pvalue6
        |FROM cnt CROSS JOIN obs""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_id"),
          round(col("value") * 100).cast(LongType).as("y"),
          when(col("event_type") === "purchase", 1).otherwise(2).as("grp"))
      // r16 optimization (guide §1.2 — fix the algorithm before the
      // stage): the ×200 replicated scan COLLAPSES ARITHMETICALLY. The
      // relabeling hash is T.hash32(k, c, b·40503) mod 2 with c odd and
      // the hi term of hash32's split multiply a multiple of 2¹⁶, so
      //   side(k, b) = parity(lo + b·40503) = (k & 1) XOR (b & 1)
      // — every odd b draws the SAME labeling and every even b its
      // complement, and the extremeness inequality is invariant under
      // swapping the two sides (|s1b·n2b − s2b·n1b| and n1b·n2b are
      // symmetric). n_extreme is therefore 200·[one inequality] and the
      // whole test is ONE conditional agg over a single scan — no
      // crossJoin, no |e|×200 hash evaluations. The b=1 labeling is
      // still computed with the exact hash expression (not the parity
      // shortcut) so the per-row values are bit-identical to the old
      // plan's; the oracle keeps running the full 200-way SQL.
      val f = e.withColumn("so",
        T.hash32(col("event_id"), 2654435761L, lit(40503L)) % 2)
      val agg = f.agg(
        sum(when(col("grp") === 1, col("y")).otherwise(0L)).as("s1"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("grp") === 2, col("y")).otherwise(0L)).as("s2"),
        sum(when(col("grp") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("so") === 0, col("y")).otherwise(0L)).as("s1b"),
        sum(when(col("so") === 0, 1L).otherwise(0L)).as("n1b"),
        sum(when(col("so") === 1, col("y")).otherwise(0L)).as("s2b"),
        sum(when(col("so") === 1, 1L).otherwise(0L)).as("n2b"))
      agg
        .withColumn("n_extreme",
          when(col("n1b") > 0 && col("n2b") > 0 &&
            expr("abs(cast(s1b as decimal(38,0)) * n2b" +
              " - cast(s2b as decimal(38,0)) * n1b)" +
              " * (n1 * n2) >= " +
              "abs(cast(s1 as decimal(38,0)) * n2" +
              " - cast(s2 as decimal(38,0)) * n1) * (n1b * n2b)"),
            lit(200L)).otherwise(lit(0L)))
        .select(col("n1").cast(LongType).as("n_purchase"),
          col("n2").cast(LongType).as("n_click"), col("n_extreme"),
          T.r6("1 + n_extreme", "201").as("pvalue6"))
    },

    // Top-N + Other rollup (the BI presentation cut every dashboard
    // applies before a pie/bar): top-5 brands by exact-cent revenue keep
    // their name, the tail collapses into 'Other'; shares are
    // pure-integer rationals. The rank window runs on the BOUNDED brand
    // spine (25 rows), never the fact table.
    q("agg_topn_other_rollup",
      """WITH rev AS (SELECT p.p_brand AS brand,
        |    SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |rk AS (SELECT brand, cents,
        |    row_number() OVER (ORDER BY cents DESC, brand) AS rn FROM rev),
        |lab AS (SELECT CASE WHEN rn <= 5 THEN brand ELSE 'Other' END
        |    AS label,
        |    CASE WHEN rn <= 5 THEN rn ELSE 999 END AS ord, cents FROM rk),
        |tot AS (SELECT SUM(cents) AS t FROM rev)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_brands,
        |  CAST(SUM(cents) AS BIGINT) AS rev_cents,
        |  CAST((2000000 * SUM(cents) + t) // (2 * t) AS BIGINT)
        |    / 1000000.0 AS share6
        |FROM lab CROSS JOIN tot GROUP BY label, t
        |ORDER BY min(ord), label""") { (s, dir) =>
      val rev = T.t(s, dir, "lineitem")
        .join(broadcast(T.t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(round(col("l_extendedprice") * 100).cast(LongType))
          .as("cents"))
      val rk = rev.withColumn("rn", row_number().over(
        Window.orderBy(col("cents").desc, col("brand"))))
      val tot = rev.agg(sum("cents").as("t"))
      rk.select(
          when(col("rn") <= 5, col("brand")).otherwise("Other").as("label"),
          when(col("rn") <= 5, col("rn")).otherwise(999).as("ord"),
          col("cents"))
        .crossJoin(broadcast(tot))
        .groupBy("label", "t")
        .agg(count(lit(1)).cast(LongType).as("n_brands"),
          sum("cents").cast(LongType).as("rev_cents"),
          // 2e6·sum(cents) crosses LONG once total revenue cents exceed
          // ~4.6e12 (the r6 rule of thumb — hit at the r11 sf1 probe);
          // DECIMAL(38,0) pre-cast per T.r6's own overflow guidance
          T.r6("cast(sum(cents) as decimal(38,0))", "t").as("share6"),
          min("ord").as("o"))
        .orderBy("o", "label")
        .select("label", "n_brands", "rev_cents", "share6")
    },

    // Velocity / acceleration of the daily revenue series — first and
    // second discrete differences (the monitoring derivative pair:
    // "how fast is it moving, is the move speeding up"): two lag passes
    // on the bounded day spine, exact integer cents end to end.
    sqlKey("ts_velocity_accel",
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1),
        |v AS (SELECT day, x, x - lag(x) OVER (ORDER BY day) AS dx FROM d)
        |SELECT day, CAST(x AS BIGINT) AS x_cents,
        |  CAST(dx AS BIGINT) AS dx_cents,
        |  CAST(dx - lag(dx) OVER (ORDER BY day) AS BIGINT) AS d2x_cents
        |FROM v ORDER BY day"""),

    // Time-in-state accounting — total dwell time per event type, where
    // an event "holds the state" until the user's next event (the
    // session-analytics attribution of wall time to activities): one
    // lead() pass per user partition, integer-micros duration sums,
    // minutes by floor division, shares as exact rationals. Last event
    // per user holds no state (no successor) — documented.
    q("window_time_in_state",
      """WITH s AS (SELECT user_id, event_type, ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS nxt
        |  FROM events),
        |dur AS (SELECT event_type,
        |    SUM(epoch_us(nxt) - epoch_us(ts)) AS us
        |  FROM s WHERE nxt IS NOT NULL GROUP BY 1),
        |tot AS (SELECT SUM(us) AS t FROM dur)
        |SELECT event_type, CAST(us // 60000000 AS BIGINT) AS minutes,
        |  CAST((2000000 * us + t) // (2 * t) AS BIGINT) / 1000000.0
        |    AS share6
        |FROM dur CROSS JOIN tot ORDER BY event_type""") { (s, dir) =>
      val sq = T.t(s, dir, "events")
        .withColumn("nxt", lead("ts", 1).over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")))
        .where(col("nxt").isNotNull)
      val dur = sq.groupBy("event_type")
        .agg(sum(expr("unix_micros(cast(nxt as timestamp))" +
          " - unix_micros(cast(ts as timestamp))")).as("us"))
      val tot = dur.agg(sum("us").as("t"))
      dur.crossJoin(broadcast(tot))
        .select(col("event_type"),
          expr("us div 60000000").cast(LongType).as("minutes"),
          T.r6("cast(us as decimal(38,0))", "t").as("share6"))
        .orderBy("event_type")
    },

    // Pinball (quantile) loss evaluation — the scoring rule for quantile
    // forecasts: train-half P50/P90 by exact rank selection, test-half
    // pinball losses kept INTEGRAL by scaling (×2 for the median's ½
    // weights, ×10 for the 0.9/0.1 pair), one exact rational per metric.
    // The eval harness every quantile-forecasting pipeline needs; splits
    // by event_id parity — deterministic, disjoint.
    q("ml_pinball_loss_eval",
      """WITH e AS (SELECT event_type AS g, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
        |tr AS (SELECT g, y,
        |    row_number() OVER (PARTITION BY g ORDER BY y, event_id) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM e WHERE event_id % 2 = 0),
        |q AS (SELECT g,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN y END) AS p50,
        |    max(CASE WHEN rn = (9 * (n + 1) + 9) // 10 THEN y END) AS p90
        |  FROM tr GROUP BY 1),
        |tst AS (SELECT e.g AS g, CAST(count(*) AS BIGINT) AS n_test,
        |    SUM(CASE WHEN y > p50 THEN y - p50 ELSE p50 - y END) AS l50x2,
        |    SUM(CASE WHEN y > p90 THEN 9 * (y - p90) ELSE p90 - y END)
        |      AS l90x10
        |  FROM e JOIN q ON e.g = q.g WHERE event_id % 2 = 1 GROUP BY 1)
        |SELECT tst.g AS event_type, n_test,
        |  CAST(q.p50 AS BIGINT) AS p50_cents,
        |  CAST(q.p90 AS BIGINT) AS p90_cents,
        |  CAST((2000000 * l50x2 + 2 * n_test * 100)
        |    // (2 * 2 * n_test * 100) AS BIGINT) / 1000000.0
        |    AS pinball50_6,
        |  CAST((2000000 * l90x10 + 10 * n_test * 100)
        |    // (2 * 10 * n_test * 100) AS BIGINT) / 1000000.0
        |    AS pinball90_6
        |FROM tst JOIN q ON tst.g = q.g ORDER BY tst.g""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .select(col("event_type").as("g"), col("event_id"),
          round(col("value") * 100).cast(LongType).as("y"))
      val tr = e.filter(col("event_id") % 2 === 0)
        .withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy("y", "event_id")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
      val q9 = tr.groupBy("g")
        .agg(max(when(expr("rn = (n + 1) div 2"), col("y"))).as("p50"),
          max(when(expr("rn = (9 * (n + 1) + 9) div 10"), col("y")))
            .as("p90"))
      val tst = e.filter(col("event_id") % 2 === 1)
        .join(broadcast(q9), "g")
        .groupBy("g")
        .agg(count(lit(1)).cast(LongType).as("n_test"),
          sum(when(col("y") > col("p50"), col("y") - col("p50"))
            .otherwise(col("p50") - col("y"))).as("l50x2"),
          sum(when(col("y") > col("p90"), (col("y") - col("p90")) * 9)
            .otherwise(col("p90") - col("y"))).as("l90x10"))
      tst.join(broadcast(q9), "g")
        .select(col("g").as("event_type"), col("n_test"),
          col("p50").cast(LongType).as("p50_cents"),
          col("p90").cast(LongType).as("p90_cents"),
          T.r6("l50x2", "2 * n_test * 100").as("pinball50_6"),
          T.r6("l90x10", "10 * n_test * 100").as("pinball90_6"))
        .orderBy("event_type")
    },

    // Learning curve — test accuracy of the two-class mean-midpoint
    // threshold classifier at 25/50/75/100% of the training pool (the
    // "is more data still helping" diagnostic): nested training subsets
    // by pure event_id arithmetic, the decision threshold held as the
    // exact rational (μ₊+μ₋)/2 and applied by integer cross-
    // multiplication — no float ever classifies. One replicated train
    // agg (4 sizes) + one replicated test agg, both map-side-combinable.
    q("ml_learning_curve",
      """WITH e AS (SELECT event_id, CAST(round(value * 100) AS BIGINT)
        |    AS y,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |sizes AS (SELECT unnest([1, 2, 3, 4]) AS k),
        |tr AS (SELECT k,
        |    SUM(CASE WHEN pos = 1 THEN y ELSE 0 END) AS sp,
        |    SUM(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS np,
        |    SUM(CASE WHEN pos = 0 THEN y ELSE 0 END) AS sn,
        |    SUM(CASE WHEN pos = 0 THEN 1 ELSE 0 END) AS nn
        |  FROM e CROSS JOIN sizes
        |  WHERE event_id % 2 = 0 AND (event_id // 2) % 4 < k
        |  GROUP BY 1),
        |tst AS (SELECT k, np, nn, CAST(count(*) AS BIGINT) AS n_test,
        |    SUM(CASE WHEN
        |      (CASE WHEN CAST(y AS HUGEINT) * (2 * np * nn)
        |         > CAST(sp * nn + sn * np AS HUGEINT) * 1
        |         THEN 1 ELSE 0 END) = pos THEN 1 ELSE 0 END) AS correct
        |  FROM e CROSS JOIN tr WHERE event_id % 2 = 1
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(k * 25 AS BIGINT) AS train_pct,
        |  CAST(np + nn AS BIGINT) AS n_train, n_test,
        |  CAST((2000000 * correct + n_test) // (2 * n_test) AS BIGINT)
        |    / 1000000.0 AS accuracy6
        |FROM tst ORDER BY k""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .select(col("event_id"),
          round(col("value") * 100).cast(LongType).as("y"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
      val sizes = s.range(1, 5).select(col("id").as("k"))
      val tr = e.filter(col("event_id") % 2 === 0)
        .crossJoin(broadcast(sizes))
        .filter(expr("(event_id div 2) % 4 < k"))
        .groupBy("k")
        .agg(sum(when(col("pos") === 1, col("y")).otherwise(0L)).as("sp"),
          sum(col("pos")).as("np"),
          sum(when(col("pos") === 0, col("y")).otherwise(0L)).as("sn"),
          sum(when(col("pos") === 0, 1L).otherwise(0L)).as("nn"))
      e.filter(col("event_id") % 2 === 1)
        .crossJoin(broadcast(tr))
        .groupBy("k", "np", "nn")
        .agg(count(lit(1)).cast(LongType).as("n_test"),
          sum(when(
            (when(expr("cast(y as decimal(38,0)) * (2 * np * nn)" +
              " > cast(sp * nn + sn * np as decimal(38,0))"), 1L)
              .otherwise(0L)) === col("pos"), 1L).otherwise(0L))
            .as("correct"))
        .select((col("k") * 25).cast(LongType).as("train_pct"),
          (col("np") + col("nn")).cast(LongType).as("n_train"),
          col("n_test"),
          T.r6("correct", "n_test").as("accuracy6"))
        .orderBy("train_pct")
    },

    // Order-to-first-ship aging buckets — the fulfillment-lag report
    // (and an honest surface for the fixture's ship-before-order quirk,
    // which gets its own 'pre-dated' bucket instead of silently skewing
    // '0-7'): min-ship per order, integer day difference, CASE bucketing,
    // exact rational shares. Two map-side-combinable aggs + one
    // broadcast-total rollup.
    q("agg_aging_buckets",
      """WITH fs AS (SELECT l_orderkey, min(l_shipdate) AS ship
        |  FROM lineitem GROUP BY 1),
        |d AS (SELECT o.o_orderkey,
        |    CAST(CAST(fs.ship AS DATE) - CAST(o.o_orderdate AS DATE)
        |      AS INT) AS days
        |  FROM orders o JOIN fs ON o.o_orderkey = fs.l_orderkey),
        |b AS (SELECT CASE WHEN days < 0 THEN 'pre-dated'
        |    WHEN days <= 7 THEN '0-7'
        |    WHEN days <= 30 THEN '8-30' ELSE '31+' END AS bucket,
        |    CASE WHEN days < 0 THEN 0 WHEN days <= 7 THEN 1
        |    WHEN days <= 30 THEN 2 ELSE 3 END AS ord
        |  FROM d),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM b)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST((2000000 * count(*) + t) // (2 * t) AS BIGINT)
        |    / 1000000.0 AS share6
        |FROM b CROSS JOIN tot GROUP BY bucket, t
        |ORDER BY min(ord)""") { (s, dir) =>
      val fs = T.t(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(min("l_shipdate").as("ship"))
      val d = T.t(s, dir, "orders")
        .join(fs, col("o_orderkey") === col("l_orderkey"))
        .withColumn("days",
          datediff(to_date(col("ship")), to_date(col("o_orderdate"))))
      val b = d.select(
        when(col("days") < 0, "pre-dated")
          .when(col("days") <= 7, "0-7")
          .when(col("days") <= 30, "8-30").otherwise("31+").as("bucket"),
        when(col("days") < 0, 0).when(col("days") <= 7, 1)
          .when(col("days") <= 30, 2).otherwise(3).as("ord"))
      val tot = b.agg(count(lit(1)).cast(LongType).as("t"))
      b.crossJoin(broadcast(tot))
        .groupBy("bucket", "t")
        .agg(count(lit(1)).cast(LongType).as("n_orders"),
          T.r6("count(*)", "t").as("share6"), min("ord").as("o"))
        .orderBy("o")
        .select("bucket", "n_orders", "share6")
    },

    // Q-Q decile table — purchase vs click value distributions compared
    // quantile-by-quantile (the distribution-drift VIEW that KS/CvM
    // reduce to a scalar): exact rank-selected deciles per side on
    // integer cents, paired into one 9-row table with the per-decile
    // gap. Rank windows keyed by the bounded type domain.
    q("stat_qq_deciles",
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS y, event_id
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |rk AS (SELECT event_type, y,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY y, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |dec AS (SELECT unnest(range(1, 10)) AS d),
        |q AS (SELECT d, event_type,
        |    max(CASE WHEN rn = (d * (n + 1) + 9) // 10 THEN y END) AS qv
        |  FROM rk CROSS JOIN dec GROUP BY 1, 2)
        |SELECT d AS decile,
        |  CAST(max(CASE WHEN event_type = 'purchase' THEN qv END)
        |    AS BIGINT) AS purchase_cents,
        |  CAST(max(CASE WHEN event_type = 'click' THEN qv END)
        |    AS BIGINT) AS click_cents,
        |  CAST(max(CASE WHEN event_type = 'purchase' THEN qv END)
        |    - max(CASE WHEN event_type = 'click' THEN qv END)
        |    AS BIGINT) AS gap_cents
        |FROM q GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_type"),
          round(col("value") * 100).cast(LongType).as("y"), col("event_id"))
      val rk = e
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("y", "event_id")))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("event_type")))
      val dec = s.range(1, 10).select(col("id").as("d"))
      rk.crossJoin(broadcast(dec))
        .groupBy("d", "event_type")
        .agg(max(when(expr("rn = (d * (n + 1) + 9) div 10"), col("y")))
          .as("qv"))
        .groupBy(col("d").as("decile"))
        .agg(
          max(when(col("event_type") === "purchase", col("qv")))
            .cast(LongType).as("purchase_cents"),
          max(when(col("event_type") === "click", col("qv")))
            .cast(LongType).as("click_cents"))
        .withColumn("gap_cents",
          (col("purchase_cents") - col("click_cents")).cast(LongType))
        .orderBy("decile")
    },

    // Rolling 3-sigma alerts — the control-chart trigger, decided by PURE
    // INTEGER cross-multiplication: with the trailing-10 window's exact
    // cent sums S and Q (current row excluded), the alert condition
    // (x−μ)² > 9σ² clears its rational denominators to
    // (10x−S)² > 9(10Q−S²) — no sqrt, no float, no engine can disagree.
    // One user-keyed window with O(10) state; emits only alert rows.
    q("window_zscore_alerts",
      """WITH e AS (SELECT event_id, user_id, ts,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |w AS (SELECT event_id, user_id, x,
        |    SUM(x) OVER pw AS s, SUM(x * x) OVER pw AS q,
        |    COUNT(*) OVER pw AS n
        |  FROM e WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, CAST(x AS BIGINT) AS x_cents,
        |  CAST(10 * x - s AS BIGINT) AS dev10
        |FROM w WHERE n = 10
        |  AND (10 * x - s) * (10 * x - s) > 9 * (10 * q - s * s)
        |ORDER BY event_id LIMIT 2000""") { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
      T.t(s, dir, "events")
        .withColumn("x", round(col("value") * 100).cast(LongType))
        .withColumn("s", sum("x").over(w))
        .withColumn("q", sum(col("x") * col("x")).over(w))
        .withColumn("n", count(lit(1)).over(w))
        .where(col("n") === 10 &&
          expr("(10 * x - s) * (10 * x - s) > 9 * (10 * q - s * s)"))
        .select(col("event_id"), col("user_id"),
          col("x").cast(LongType).as("x_cents"),
          expr("10 * x - s").cast(LongType).as("dev10"))
        .orderBy("event_id").limit(2000)
    },

    // Vocabulary growth curve over BIGRAMS (the empirical Heaps-law table
    // that text_heaps_law_fit summarizes to two constants): each bigram
    // is attributed to the corpus decile where it FIRST appears (min
    // doc_id — one agg), cumulative vocabulary and token mass per decile
    // by a 10-row spine cumsum. All integer; the first-occurrence agg is
    // the only data-sized pass.
    q("text_vocab_growth",
      """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |dd AS (SELECT doc_id, string_split(text, ' ') AS arr
        |  FROM documents),
        |tk AS (SELECT doc_id, unnest(list_transform(range(len(arr) - 1),
        |    i -> arr[i+1] || ' ' || arr[i+2])) AS term FROM dd),
        |ft AS (SELECT term, min(doc_id) AS fd FROM tk GROUP BY 1),
        |vb AS (SELECT (fd * 10) // nd AS dec, count(*) AS v
        |  FROM ft CROSS JOIN nd GROUP BY 1),
        |tb AS (SELECT (doc_id * 10) // nd AS dec, count(*) AS t
        |  FROM tk CROSS JOIN nd GROUP BY 1),
        |sp AS (SELECT unnest(range(10)) AS dec),
        |c AS (SELECT sp.dec AS dec, COALESCE(v, 0) AS v, COALESCE(t, 0)
        |    AS t
        |  FROM sp LEFT JOIN vb ON sp.dec = vb.dec
        |    LEFT JOIN tb ON sp.dec = tb.dec)
        |SELECT CAST(dec AS BIGINT) AS decile,
        |  CAST(SUM(t) OVER (ORDER BY dec ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |  CAST(SUM(v) OVER (ORDER BY dec ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
        |FROM c ORDER BY decile""") { (s, dir) =>
      val docs = T.t(s, dir, "documents")
      val nd = docs.agg(count(lit(1)).cast(LongType).as("nd"))
      val tk = docs
        .select(col("doc_id"), split(col("text"), " ").as("arr"))
        .where(expr("size(arr) >= 2"))
        .select(col("doc_id"),
          explode(graft.api.Pipelines.shingleArray(col("arr"), 2)).as("term"))
      val ft = tk.groupBy("term").agg(min("doc_id").as("fd"))
      val vb = ft.crossJoin(broadcast(nd))
        .groupBy(expr("(fd * 10) div nd").as("dec"))
        .agg(count(lit(1)).as("v"))
      val tb = tk.crossJoin(broadcast(nd))
        .groupBy(expr("(doc_id * 10) div nd").as("dec"))
        .agg(count(lit(1)).as("t"))
      val sp = s.range(10).select(col("id").as("dec"))
      val c = sp
        .join(vb.withColumnRenamed("dec", "dv"), col("dec") === col("dv"),
          "left")
        .join(tb.withColumnRenamed("dec", "dt"), col("dec") === col("dt"),
          "left")
        .select(col("dec"), coalesce(col("v"), lit(0L)).as("v"),
          coalesce(col("t"), lit(0L)).as("t"))
      val cw = Window.orderBy("dec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      c.select(col("dec").cast(LongType).as("decile"),
          sum("t").over(cw).cast(LongType).as("cum_tokens"),
          sum("v").over(cw).cast(LongType).as("cum_vocab"))
        .orderBy("decile")
    },

    // Business-day arithmetic (the fiscal-calendar scalar every SLA and
    // settlement pipeline needs): weekday count between order date and
    // first ship date via a pure-integer closed form — epoch-day dow
    // ((days+3) mod 7, 0 = Monday), 5 per full week, remainder fixed by
    // six explicit weekday tests. Sign-aware (the fixture's pre-dated
    // ships come out negative, matching a calendar walk — verified
    // against an independent day-loop). No UDF, no calendar table.
    q("scalar_business_days", {
      val rem = (0 until 6).map(i =>
        s"(CASE WHEN $i < rem AND (dowa + $i) % 7 < 5 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH fs AS (SELECT l_orderkey, min(l_shipdate) AS ship
         |  FROM lineitem GROUP BY 1),
         |p AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d1,
         |    CAST(ship AS DATE) AS d2
         |  FROM orders o JOIN fs ON o.o_orderkey = fs.l_orderkey
         |  WHERE o_orderkey < 500),
         |n AS (SELECT o_orderkey, d1, d2,
         |    CASE WHEN d2 >= d1 THEN 1 ELSE -1 END AS sgn,
         |    least(d1, d2) AS lo, greatest(d1, d2) AS hi FROM p),
         |m AS (SELECT o_orderkey, d1, d2, sgn,
         |    CAST(hi - lo AS BIGINT) AS cal,
         |    (CAST(epoch_us(CAST(lo AS TIMESTAMP)) // 86400000000
         |      AS BIGINT) + 3) % 7 AS dowa,
         |    CAST(hi - lo AS BIGINT) % 7 AS rem,
         |    (CAST(hi - lo AS BIGINT) // 7) * 5 AS full5
         |  FROM n)
         |SELECT o_orderkey, d1, d2, CAST(sgn * cal AS BIGINT) AS cal_days,
         |  CAST(sgn * (full5 + $rem) AS BIGINT) AS biz_days
         |FROM m ORDER BY o_orderkey"""
    }) { (s, dir) =>
      val rem = (0 until 6).map(i =>
        s"(CASE WHEN $i < rem AND (dowa + $i) % 7 < 5 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val fs = T.t(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(min("l_shipdate").as("ship"))
      T.t(s, dir, "orders").filter(col("o_orderkey") < 500)
        .join(fs, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d1"),
          to_date(col("ship")).as("d2"))
        .withColumn("sgn", when(col("d2") >= col("d1"), 1L).otherwise(-1L))
        .withColumn("lo", least(col("d1"), col("d2")))
        .withColumn("hi", greatest(col("d1"), col("d2")))
        .withColumn("cal", datediff(col("hi"), col("lo")).cast(LongType))
        .withColumn("dowa",
          expr("(unix_micros(cast(lo as timestamp)) div 86400000000" +
            " + 3) % 7"))
        .withColumn("rem", col("cal") % 7)
        .withColumn("full5", expr("(cal div 7) * 5"))
        .select(col("o_orderkey"), col("d1"), col("d2"),
          (col("sgn") * col("cal")).cast(LongType).as("cal_days"),
          expr(s"CAST(sgn * (full5 + $rem) AS BIGINT)").as("biz_days"))
        .orderBy("o_orderkey")
    },

    // Truncated harmonic centrality (3-hop closeness — Σ 1/d over the
    // ball, the centrality that handles disconnected graphs where
    // closeness breaks): hop sets built by frontier joins with anti-join
    // de-duplication against earlier hops, and Σ1/d kept EXACT by the ×6
    // trick (6/1, 6/2, 6/3 = 6, 3, 2 — integers), divided once through
    // the T.r6 path. Three bounded joins on the strong co-purchase edge
    // set; the same frontier shape as SSSP, depth-capped.
    q("graph_harmonic_centrality",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |sup AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    count(*) AS sup
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |pr AS (SELECT pa, pb FROM sup ORDER BY sup DESC, pa, pb
        |  LIMIT 2000),
        |e AS (SELECT pa AS s, pb AS d FROM pr
        |  UNION ALL SELECT pb, pa FROM pr),
        |d1 AS (SELECT DISTINCT s AS node, d AS v FROM e),
        |d2 AS (SELECT DISTINCT d1.node AS node, e.d AS v
        |  FROM d1 JOIN e ON d1.v = e.s
        |  WHERE e.d <> d1.node AND NOT EXISTS (SELECT 1 FROM d1 x
        |    WHERE x.node = d1.node AND x.v = e.d)),
        |d3 AS (SELECT DISTINCT d2.node AS node, e.d AS v
        |  FROM d2 JOIN e ON d2.v = e.s
        |  WHERE e.d <> d2.node
        |    AND NOT EXISTS (SELECT 1 FROM d1 x
        |      WHERE x.node = d2.node AND x.v = e.d)
        |    AND NOT EXISTS (SELECT 1 FROM d2 y
        |      WHERE y.node = d2.node AND y.v = e.d)),
        |c1 AS (SELECT node, CAST(count(*) AS BIGINT) AS n1 FROM d1
        |  GROUP BY 1),
        |c2 AS (SELECT node, CAST(count(*) AS BIGINT) AS n2 FROM d2
        |  GROUP BY 1),
        |c3 AS (SELECT node, CAST(count(*) AS BIGINT) AS n3 FROM d3
        |  GROUP BY 1)
        |SELECT c1.node AS node, n1, COALESCE(n2, 0) AS n2,
        |  COALESCE(n3, 0) AS n3,
        |  CAST((2000000 * (6 * n1 + 3 * COALESCE(n2, 0)
        |      + 2 * COALESCE(n3, 0)) + 6) // 12 AS BIGINT) / 1000000.0
        |    AS harmonic6
        |FROM c1 LEFT JOIN c2 ON c1.node = c2.node
        |  LEFT JOIN c3 ON c1.node = c3.node
        |ORDER BY harmonic6 DESC, node LIMIT 20""") { (s, dir) =>
      val pr = GroupSeven.pairSupport(s, dir)
        .orderBy(col("sup").desc, col("pa"), col("pb")).limit(2000)
        .select("pa", "pb")
      val e = pr.select(col("pa").as("es"), col("pb").as("ed"))
        .unionAll(pr.select(col("pb").as("es"), col("pa").as("ed")))
        .localCheckpoint(false)
      val d1 = e.select(col("es").as("node"), col("ed").as("v")).distinct()
      val d2 = d1.join(e, col("v") === col("es"))
        .where(col("ed") =!= col("node"))
        .select(col("node"), col("ed").as("v")).distinct()
        .join(d1.select(col("node").as("xn"), col("v").as("xv")),
          col("node") === col("xn") && col("v") === col("xv"), "left_anti")
      val d3 = d2.join(e, col("v") === col("es"))
        .where(col("ed") =!= col("node"))
        .select(col("node"), col("ed").as("v")).distinct()
        .join(d1.select(col("node").as("xn"), col("v").as("xv")),
          col("node") === col("xn") && col("v") === col("xv"), "left_anti")
        .join(d2.select(col("node").as("yn"), col("v").as("yv")),
          col("node") === col("yn") && col("v") === col("yv"), "left_anti")
      val c1 = d1.groupBy("node").agg(count(lit(1)).cast(LongType).as("n1"))
      val c2 = d2.groupBy(col("node").as("n2n"))
        .agg(count(lit(1)).cast(LongType).as("n2r"))
      val c3 = d3.groupBy(col("node").as("n3n"))
        .agg(count(lit(1)).cast(LongType).as("n3r"))
      c1.join(c2, col("node") === col("n2n"), "left")
        .join(c3, col("node") === col("n3n"), "left")
        .select(col("node"), col("n1"),
          coalesce(col("n2r"), lit(0L)).as("n2"),
          coalesce(col("n3r"), lit(0L)).as("n3"))
        .withColumn("harmonic6",
          expr("((2000000L * (6 * n1 + 3 * n2 + 2 * n3) + 6) div 12)" +
            " / 1000000.0D"))
        .orderBy(col("harmonic6").desc, col("node")).limit(20)
    },

    // Interval union coverage (the merge-overlapping-intervals operator —
    // promo windows, maintenance windows, on-call coverage): deterministic
    // per-customer intervals (start = order date, length keyed off the
    // order key), islands found where a start exceeds the running max of
    // prior ends (one customer-keyed window), then covered vs span day
    // counts per customer. Pure integer date arithmetic.
    sqlKey("etl_interval_union_coverage",
      """WITH iv AS (SELECT o_custkey AS ck, CAST(o_orderdate AS DATE)
        |    AS st,
        |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 10 + 1 AS INT)
        |      AS en, o_orderkey
        |  FROM orders WHERE o_custkey < 200),
        |m AS (SELECT ck, st, en, o_orderkey,
        |    max(en) OVER (PARTITION BY ck ORDER BY st, en, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |isl AS (SELECT ck, st, en,
        |    SUM(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY ck ORDER BY st, en, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM m),
        |g AS (SELECT ck, isl, min(st) AS ist, max(en) AS ien
        |  FROM isl GROUP BY 1, 2)
        |SELECT ck, CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(ien - ist) AS BIGINT) AS covered_days,
        |  CAST(max(ien) - min(ist) AS BIGINT) AS span_days
        |FROM g GROUP BY 1 ORDER BY ck"""),

    // Watermark-lateness audit under a deterministic hash-sharded ingest
    // (the number that sets a stream's withWatermark bound): arrival
    // order within each of 8 shards is a multiplicative-hash shuffle of
    // event_id — the partition-interleaved arrival a multi-partition
    // source actually delivers — and each event's lateness is the
    // per-shard running-max event time minus its own, in integer seconds.
    // Per-shard: max lateness and the share of events behind the
    // watermark. Shard-keyed windows; all integer.
    q("dq_watermark_lateness",
      """WITH a AS (SELECT event_id, ts,
        |    CAST(CAST(event_id AS HUGEINT) * 2654435761
        |      % 4294967296 % 8 AS BIGINT) AS shard,
        |    CAST(CAST(event_id AS HUGEINT) * 2246822519
        |      % 4294967296 AS BIGINT) AS arr
        |  FROM events),
        |w AS (SELECT shard, ts,
        |    max(ts) OVER (PARTITION BY shard ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
        |  FROM a),
        |l AS (SELECT shard,
        |    CASE WHEN wm IS NULL OR wm <= ts THEN 0
        |      ELSE (epoch_us(wm) - epoch_us(ts)) // 1000000 END AS late_s
        |  FROM w)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_late,
        |  CAST(max(late_s) AS BIGINT) AS max_late_s,
        |  CAST((2000000 * SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END)
        |    + count(*)) // (2 * count(*)) AS BIGINT) / 1000000.0
        |    AS late_rate6
        |FROM l GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val a = T.t(s, dir, "events")
        .select(col("event_id"), col("ts"),
          (T.hash32(col("event_id"), 2654435761L) % 8L).as("shard"),
          T.hash32(col("event_id"), 2246822519L).as("arr"))
      val w = Window.partitionBy("shard").orderBy("arr", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      a.withColumn("wm", max("ts").over(w))
        .withColumn("late_s",
          when(col("wm").isNull || col("wm") <= col("ts"), 0L)
            .otherwise(expr("(unix_micros(cast(wm as timestamp))" +
              " - unix_micros(cast(ts as timestamp))) div 1000000")))
        .groupBy("shard")
        .agg(count(lit(1)).cast(LongType).as("n_events"),
          sum(when(col("late_s") > 0, 1L).otherwise(0L)).cast(LongType)
            .as("n_late"),
          max("late_s").cast(LongType).as("max_late_s"),
          T.r6("sum(case when late_s > 0 then 1 else 0 end)", "count(*)")
            .as("late_rate6"))
        .select(col("shard").cast(LongType).as("shard"), col("n_events"),
          col("n_late"), col("max_late_s"), col("late_rate6"))
        .orderBy("shard")
    },

    // Lin's concordance correlation coefficient between discount and tax
    // rates per return flag — the AGREEMENT measure (penalizes location
    // and scale shift where Pearson forgives them; the metric of choice
    // for method-comparison studies): CCC = 2S_xy/(S_x²+S_y²+n(μx−μy)²),
    // cleared of all denominators into ONE integer rational of exact
    // cent power sums — num = 2(nΣxy−ΣxΣy), den = nΣx²−(Σx)² + nΣy²
    // −(Σy)² + (Σx−Σy)² — in DECIMAL(38,0)/HUGEINT via T.r6s.
    q("stat_lin_ccc",
      """WITH b AS (SELECT l_returnflag AS f,
        |    CAST(round(l_discount * 100) AS BIGINT) AS x,
        |    CAST(round(l_tax * 100) AS BIGINT) AS y FROM lineitem),
        |m AS (SELECT f, CAST(count(*) AS BIGINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        |  FROM b GROUP BY 1),
        |y AS (SELECT f, n,
        |    2 * (n * sxy - sx * sy) AS numr,
        |    (n * sxx - sx * sx) + (n * syy - sy * sy)
        |      + (sx - sy) * (sx - sy) AS denr
        |  FROM m)
        |SELECT f AS l_returnflag, n,
        |  (CASE WHEN numr < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(numr) + denr) // (2 * denr) AS BIGINT)
        |    / 1000000.0 AS ccc6
        |FROM y ORDER BY f""") { (s, dir) =>
      val b = T.t(s, dir, "lineitem")
        .select(col("l_returnflag").as("f"),
          round(col("l_discount") * 100).cast(LongType).as("x"),
          round(col("l_tax") * 100).cast(LongType).as("y"))
      b.groupBy("f")
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .withColumn("numr",
          expr("2 * (cast(n as decimal(38,0)) * sxy - sx * sy)"))
        .withColumn("denr",
          expr("(cast(n as decimal(38,0)) * sxx - sx * sx)" +
            " + (cast(n as decimal(38,0)) * syy - sy * sy)" +
            " + cast(sx - sy as decimal(38,0)) * (sx - sy)"))
        .select(col("f").as("l_returnflag"), col("n"),
          T.r6s("numr", "denr").as("ccc6"))
        .orderBy("l_returnflag")
    },

    // Geometric mean of line revenue per return flag — the
    // multiplicative-average aggregate (ratio/index data), via the
    // quantize-then-sum rule: per-row ln(cents) rounded to integer
    // micro-nats (one libm call on identical integer inputs), the SUM is
    // an order-independent integer, and the final exp/÷100/round chain is
    // the same IEEE sequence in both engines. Map-side-combinable
    // end to end.
    sqlKey("agg_geometric_mean",
      """WITH b AS (SELECT l_returnflag AS f,
        |    CAST(round(ln(CAST(CAST(round(l_extendedprice * 100)
        |      AS BIGINT) AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS lnq
        |  FROM lineitem),
        |m AS (SELECT f, CAST(count(*) AS BIGINT) AS n, SUM(lnq) AS slnq
        |  FROM b GROUP BY 1)
        |SELECT f AS l_returnflag, n,
        |  round(exp(CAST(slnq AS DOUBLE) / (CAST(n AS DOUBLE)
        |    * 1000000.0)) / 100.0, 6) AS geomean6
        |FROM m ORDER BY f"""),

    // Time-bounded funnel (view → click → purchase, each step within 24 h
    // of the previous — the constrained variant of window_funnel_stages,
    // where unbounded step credit becomes a step DEADLINE): three
    // stepwise min-aggregations chained by user_id-co-partitioned joins,
    // deadlines as pure integer micros comparisons, conversion rates as
    // zero-guarded exact rationals. All three shuffles share the user_id
    // key.
    q("window_funnel_time_bound",
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id AS user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t1
        |    AND epoch_us(e.ts) - epoch_us(s1.t1) <= 86400000000
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id AS user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        |    AND epoch_us(e.ts) - epoch_us(s2.t2) <= 86400000000
        |  GROUP BY 1),
        |c AS (SELECT
        |    (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
        |      AS nu,
        |    (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
        |    (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
        |    (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n3)
        |SELECT nu AS n_users, n1 AS n_view, n2 AS n_click_24h,
        |  n3 AS n_purchase_24h,
        |  CASE WHEN n1 = 0 THEN 0.0 ELSE
        |    CAST((2000000 * n2 + n1) // (2 * n1) AS BIGINT) / 1000000.0
        |  END AS conv12_6,
        |  CASE WHEN n2 = 0 THEN 0.0 ELSE
        |    CAST((2000000 * n3 + n2) // (2 * n2) AS BIGINT) / 1000000.0
        |  END AS conv23_6
        |FROM c""") { (s, dir) =>
      val ev = T.t(s, dir, "events")
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id")
        .filter(col("ts") >= col("t1") &&
          expr("unix_micros(cast(ts as timestamp))" +
            " - unix_micros(cast(t1 as timestamp)) <= 86400000000"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id")
        .filter(col("ts") >= col("t2") &&
          expr("unix_micros(cast(ts as timestamp))" +
            " - unix_micros(cast(t2 as timestamp)) <= 86400000000"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      val nu = ev.agg(countDistinct("user_id").cast(LongType).as("nu"))
      val n1 = s1.agg(count(lit(1)).cast(LongType).as("n1"))
      val n2 = s2.agg(count(lit(1)).cast(LongType).as("n2"))
      val n3 = s3.agg(count(lit(1)).cast(LongType).as("n3"))
      nu.crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .crossJoin(broadcast(n3))
        .select(col("nu").as("n_users"), col("n1").as("n_view"),
          col("n2").as("n_click_24h"), col("n3").as("n_purchase_24h"),
          expr("CASE WHEN n1 = 0 THEN 0.0D ELSE" +
            " ((2000000L * n2 + n1) div (2L * n1)) / 1000000.0D END")
            .as("conv12_6"),
          expr("CASE WHEN n2 = 0 THEN 0.0D ELSE" +
            " ((2000000L * n3 + n2) div (2L * n2)) / 1000000.0D END")
            .as("conv23_6"))
    },

    // Odds ratio with Woolf confidence interval — the 2×2 epidemiology
    // table (exposure: discount > 5%; outcome: returned): the OR itself
    // is ONE exact integer rational (ad/bc via T.r6); the CI is the
    // standard lnOR ± 1.96·√(1/a+1/b+1/c+1/d) chain written as the
    // IDENTICAL IEEE sequence in both engines over exact integer counts,
    // rounded once at 6dp (post-exp — no representability ties). One
    // conditional agg over one scan.
    q("stat_odds_ratio_ci",
      """WITH b AS (SELECT
        |    SUM(CASE WHEN l_discount > 0.05 AND l_returnflag = 'R'
        |      THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN l_discount > 0.05 AND l_returnflag <> 'R'
        |      THEN 1 ELSE 0 END) AS bb,
        |    SUM(CASE WHEN l_discount <= 0.05 AND l_returnflag = 'R'
        |      THEN 1 ELSE 0 END) AS c,
        |    SUM(CASE WHEN l_discount <= 0.05 AND l_returnflag <> 'R'
        |      THEN 1 ELSE 0 END) AS d
        |  FROM lineitem)
        |SELECT CAST(a AS BIGINT) AS n11, CAST(bb AS BIGINT) AS n10,
        |  CAST(c AS BIGINT) AS n01, CAST(d AS BIGINT) AS n00,
        |  CAST((2000000 * a * d + bb * c) // (2 * bb * c) AS BIGINT)
        |    / 1000000.0 AS odds_ratio6,
        |  round(exp(ln(CAST(a * d AS DOUBLE) / CAST(bb * c AS DOUBLE))
        |    - 1.96 * sqrt(1.0 / a + 1.0 / bb + 1.0 / c + 1.0 / d)), 6)
        |    AS ci_lo6,
        |  round(exp(ln(CAST(a * d AS DOUBLE) / CAST(bb * c AS DOUBLE))
        |    + 1.96 * sqrt(1.0 / a + 1.0 / bb + 1.0 / c + 1.0 / d)), 6)
        |    AS ci_hi6
        |FROM b""") { (s, dir) =>
      T.t(s, dir, "lineitem")
        .agg(
          sum(when(col("l_discount") > 0.05 &&
            col("l_returnflag") === "R", 1L).otherwise(0L)).as("a"),
          sum(when(col("l_discount") > 0.05 &&
            col("l_returnflag") =!= "R", 1L).otherwise(0L)).as("bb"),
          sum(when(col("l_discount") <= 0.05 &&
            col("l_returnflag") === "R", 1L).otherwise(0L)).as("c"),
          sum(when(col("l_discount") <= 0.05 &&
            col("l_returnflag") =!= "R", 1L).otherwise(0L)).as("d"))
        .select(col("a").cast(LongType).as("n11"),
          col("bb").cast(LongType).as("n10"),
          col("c").cast(LongType).as("n01"),
          col("d").cast(LongType).as("n00"),
          T.r6("a * d", "bb * c").as("odds_ratio6"),
          round(exp(log(expr("CAST(a * d AS DOUBLE)")
              / expr("CAST(bb * c AS DOUBLE)"))
            - lit(1.96) * sqrt(expr("1.0D / a + 1.0D / bb + 1.0D / c" +
              " + 1.0D / d"))), 6).as("ci_lo6"),
          round(exp(log(expr("CAST(a * d AS DOUBLE)")
              / expr("CAST(bb * c AS DOUBLE)"))
            + lit(1.96) * sqrt(expr("1.0D / a + 1.0D / bb + 1.0D / c" +
              " + 1.0D / d"))), 6).as("ci_hi6"))
    },

    // Token-budget apportionment by the largest-remainder (Hamilton)
    // method — exact integer allocation of a 1M-token sampling budget
    // across sources proportional to their token mass, the data-mixture
    // step after pipeline_mixture_sample decides rates: floor quotas,
    // leftover seats to the largest remainders (source tiebreak). The
    // allocation SUMS TO THE BUDGET EXACTLY, by construction — the
    // property float-proportional allocation can't give. Bounded-spine
    // rank window (one row per source).
    q("pipeline_budget_apportion",
      """WITH t AS (SELECT source,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT SUM(tok) AS tt FROM t),
        |q AS (SELECT source, tok, (1000000 * tok) // tt AS fl,
        |    (1000000 * tok) % tt AS rm FROM t CROSS JOIN tot),
        |l AS (SELECT 1000000 - SUM(fl) AS left_over FROM q),
        |rk AS (SELECT source, tok, fl,
        |    row_number() OVER (ORDER BY rm DESC, source) AS rn FROM q)
        |SELECT source, tok,
        |  CAST(fl + CASE WHEN rn <= left_over THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM rk CROSS JOIN l ORDER BY source""") { (s, dir) =>
      val t = T.t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(size(split(col("text"), " "))).cast(LongType).as("tok"))
      val tot = t.agg(sum("tok").as("tt"))
      val q = t.crossJoin(broadcast(tot))
        .withColumn("fl", expr("(1000000L * tok) div tt"))
        .withColumn("rm", expr("(1000000L * tok) % tt"))
      val l = q.agg((lit(1000000L) - sum("fl")).as("left_over"))
      q.withColumn("rn", row_number().over(
          Window.orderBy(col("rm").desc, col("source"))))
        .crossJoin(broadcast(l))
        .select(col("source"), col("tok"),
          (col("fl") + when(col("rn") <= col("left_over"), 1L)
            .otherwise(0L)).cast(LongType).as("alloc"))
        .orderBy("source")
    },

    // Capture–recapture population estimation (Lincoln–Petersen +
    // Chapman) — the mark-recapture estimator, which is exactly how you
    // estimate a corpus's true distinct-document count from two
    // overlapping crawl samples: the two "captures" are the even/odd
    // order-key halves' customer sets, and both estimators are ONE
    // integer rational each, audited against the true distinct count in
    // the same row. Three distinct-aggs + one co-partitioned
    // intersection join.
    q("stat_capture_recapture",
      """WITH s1 AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderkey % 2 = 0),
        |s2 AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderkey % 2 = 1),
        |c AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
        |    (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
        |    (SELECT CAST(count(*) AS BIGINT) FROM s1 JOIN s2
        |      USING (o_custkey)) AS m,
        |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
        |      FROM orders) AS tn)
        |SELECT n1, n2, m, tn AS true_n,
        |  CAST((2000000 * n1 * n2 + m) // (2 * m) AS BIGINT)
        |    / 1000000.0 AS lincoln6,
        |  CAST((2000000 * ((n1 + 1) * (n2 + 1) - (m + 1)) + (m + 1))
        |    // (2 * (m + 1)) AS BIGINT) / 1000000.0 AS chapman6
        |FROM c""") { (s, dir) =>
      val o = T.t(s, dir, "orders")
      val s1 = o.filter(col("o_orderkey") % 2 === 0)
        .select("o_custkey").distinct()
      val s2 = o.filter(col("o_orderkey") % 2 === 1)
        .select("o_custkey").distinct()
      val n1 = s1.agg(count(lit(1)).cast(LongType).as("n1"))
      val n2 = s2.agg(count(lit(1)).cast(LongType).as("n2"))
      val m = s1.join(s2, "o_custkey")
        .agg(count(lit(1)).cast(LongType).as("m"))
      val tn = o.agg(countDistinct("o_custkey").cast(LongType).as("tn"))
      n1.crossJoin(broadcast(n2)).crossJoin(broadcast(m))
        .crossJoin(broadcast(tn))
        .select(col("n1"), col("n2"), col("m"), col("tn").as("true_n"),
          T.r6("n1 * n2", "m").as("lincoln6"),
          T.r6("(n1 + 1) * (n2 + 1) - (m + 1)", "m + 1").as("chapman6"))
    },

    // Stratified average treatment effect (the Simpson's-paradox-aware
    // causal estimate): treatment = deep discount, outcome = returned,
    // strata = brand; per-stratum rate differences held exact as HALF_UP
    // micro-unit INTEGERS (the r6 integer itself), then size-weighted by
    // the quantize-then-sum rule into one rational — beside the naive
    // pooled difference it corrects. Strata with an empty arm are
    // excluded (documented). One scan + bounded-stratum rollup.
    q("stat_stratified_ate",
      """WITH b AS (SELECT p.p_brand AS st,
        |    CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS tr,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |g AS (SELECT st,
        |    SUM(CASE WHEN tr = 1 THEN y ELSE 0 END) AS a, SUM(tr) AS n1,
        |    SUM(CASE WHEN tr = 0 THEN y ELSE 0 END) AS c,
        |    SUM(1 - tr) AS n0
        |  FROM b GROUP BY 1),
        |k AS (SELECT st, n1 + n0 AS ns,
        |    (CASE WHEN a * n0 - c * n1 < 0 THEN -1 ELSE 1 END)
        |      * ((2000000 * abs(a * n0 - c * n1) + n1 * n0)
        |        // (2 * n1 * n0)) AS dmu
        |  FROM g WHERE n1 > 0 AND n0 > 0),
        |s AS (SELECT SUM(ns) AS nn, SUM(ns * dmu) AS wsum,
        |    CAST(count(*) AS BIGINT) AS n_strata FROM k),
        |naive AS (SELECT
        |    (CASE WHEN SUM(CASE WHEN tr = 1 THEN y ELSE 0 END)
        |        * SUM(1 - tr) - SUM(CASE WHEN tr = 0 THEN y ELSE 0 END)
        |        * SUM(tr) < 0 THEN -1 ELSE 1 END)
        |    * ((2000000 * abs(SUM(CASE WHEN tr = 1 THEN y ELSE 0 END)
        |        * SUM(1 - tr) - SUM(CASE WHEN tr = 0 THEN y ELSE 0 END)
        |        * SUM(tr)) + SUM(tr) * SUM(1 - tr))
        |      // (2 * SUM(tr) * SUM(1 - tr))) AS nmu
        |  FROM b)
        |SELECT n_strata, CAST(nn AS BIGINT) AS n_rows,
        |  CAST(nmu AS BIGINT) / 1000000.0 AS naive_diff6,
        |  (CASE WHEN wsum < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(wsum) + nn * 1000000)
        |      // (2 * nn * 1000000) AS BIGINT) / 1000000.0 AS ate6
        |FROM s CROSS JOIN naive""") { (s, dir) =>
      val b = T.t(s, dir, "lineitem")
        .join(broadcast(T.t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("st"),
          when(col("l_discount") > 0.05, 1L).otherwise(0L).as("tr"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      val g = b.groupBy("st")
        .agg(sum(when(col("tr") === 1, col("y")).otherwise(0L)).as("a"),
          sum("tr").as("n1"),
          sum(when(col("tr") === 0, col("y")).otherwise(0L)).as("c"),
          sum(lit(1L) - col("tr")).as("n0"))
      val k = g.where(col("n1") > 0 && col("n0") > 0)
        .select((col("n1") + col("n0")).as("ns"),
          expr("(CASE WHEN a * n0 - c * n1 < 0 THEN -1L ELSE 1L END)" +
            " * ((2000000L * abs(a * n0 - c * n1) + n1 * n0)" +
            " div (2L * n1 * n0))").as("dmu"))
      val sAgg = k.agg(sum("ns").as("nn"),
        sum(col("ns") * col("dmu")).as("wsum"),
        count(lit(1)).cast(LongType).as("n_strata"))
      val naive = b.agg(
          sum(when(col("tr") === 1, col("y")).otherwise(0L)).as("na"),
          sum("tr").as("nn1"),
          sum(when(col("tr") === 0, col("y")).otherwise(0L)).as("nc"),
          sum(lit(1L) - col("tr")).as("nn0"))
        .select(expr("(CASE WHEN na * nn0 - nc * nn1 < 0 THEN -1L" +
          " ELSE 1L END) * ((2000000L * abs(na * nn0 - nc * nn1)" +
          " + nn1 * nn0) div (2L * nn1 * nn0))").as("nmu"))
      sAgg.crossJoin(broadcast(naive))
        .select(col("n_strata"), col("nn").cast(LongType).as("n_rows"),
          (col("nmu").cast(DoubleType) / 1000000.0d).as("naive_diff6"),
          T.r6s("cast(wsum as decimal(38,0))", "nn * 1000000")
            .as("ate6"))
    },

    // Seasonality strength of the daily revenue series — Hyndman's F_s
    // measure 1 − Var(remainder)/Var(seasonal+remainder) over the STL
    // components, assembled from the SAME exact construction as
    // ts_stl_decompose with each component quantized to its HALF_UP
    // micro-unit integer (quantize-then-sum), both variances as integer
    // power sums in DECIMAL(38,0)/HUGEINT, the ratio ONE rational.
    q("ts_seasonality_strength",
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1),
        |w AS (SELECT day, x,
        |    SUM(x) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
        |      AND 3 FOLLOWING) AS s7,
        |    COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
        |      AND 3 FOLLOWING) AS c7 FROM d),
        |inter AS (SELECT day, x, s7, 7 * x - s7 AS det7,
        |    CAST(date_part('dow', day) AS INT) AS dow
        |  FROM w WHERE c7 = 7),
        |sd AS (SELECT dow, SUM(det7) AS sdet,
        |    CAST(count(*) AS BIGINT) AS nd FROM inter GROUP BY 1),
        |mu AS (SELECT day,
        |    (CASE WHEN sdet < 0 THEN -1 ELSE 1 END)
        |      * ((2000000 * abs(sdet) + 700 * nd) // (2 * 700 * nd))
        |      AS smu,
        |    (CASE WHEN nd * det7 - sdet < 0 THEN -1 ELSE 1 END)
        |      * ((2000000 * abs(nd * det7 - sdet) + 700 * nd)
        |        // (2 * 700 * nd)) AS rmu
        |  FROM inter JOIN sd ON inter.dow = sd.dow),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    SUM(CAST(rmu AS HUGEINT) * rmu) AS rq, SUM(rmu) AS rs,
        |    SUM(CAST(smu + rmu AS HUGEINT) * (smu + rmu)) AS bq,
        |    SUM(smu + rmu) AS bs
        |  FROM mu),
        |f AS (SELECT n, (n * bq - bs * bs) - (n * rq - rs * rs) AS numr,
        |    n * bq - bs * bs AS denr FROM v)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |  (CASE WHEN numr < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(numr) + denr) // (2 * denr) AS BIGINT)
        |    / 1000000.0 AS strength6
        |FROM f""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("x"))
      val w7 = Window.orderBy("day").rowsBetween(-3, 3)
      val inter = d
        .withColumn("s7", sum("x").over(w7))
        .withColumn("c7", count(lit(1)).over(w7))
        .where(col("c7") === 7)
        .withColumn("det7", lit(7) * col("x") - col("s7"))
        .withColumn("dow", (dayofweek(col("day")) - 1).cast(IntegerType))
      val sd = inter.groupBy(col("dow").as("sdw"))
        .agg(sum("det7").as("sdet"), count(lit(1)).cast(LongType).as("nd"))
      val mu = inter.join(broadcast(sd), col("dow") === col("sdw"))
        .select(
          expr("(CASE WHEN sdet < 0 THEN -1L ELSE 1L END)" +
            " * ((2000000L * abs(sdet) + 700L * nd)" +
            " div (2L * 700L * nd))").as("smu"),
          expr("(CASE WHEN nd * det7 - sdet < 0 THEN -1L ELSE 1L END)" +
            " * ((2000000L * abs(nd * det7 - sdet) + 700L * nd)" +
            " div (2L * 700L * nd))").as("rmu"))
      mu.agg(count(lit(1)).cast(LongType).as("n"),
          sum(expr("cast(rmu as decimal(38,0)) * rmu")).as("rq"),
          sum("rmu").as("rs"),
          sum(expr("cast(smu + rmu as decimal(38,0)) * (smu + rmu)"))
            .as("bq"),
          sum(expr("smu + rmu")).as("bs"))
        .withColumn("numr",
          expr("(n * bq - cast(bs as decimal(38,0)) * bs)" +
            " - (n * rq - cast(rs as decimal(38,0)) * rs)"))
        .withColumn("denr",
          expr("n * bq - cast(bs as decimal(38,0)) * bs"))
        .select(col("n").as("n_days"),
          T.r6s("numr", "denr").as("strength6"))
    },

    // Trimmed mean (drop the bottom and top 10% by exact rank, average
    // the middle 80%) — the robust location estimate that, unlike the
    // winsorized key, EXCLUDES the tails instead of clamping them:
    // type-keyed rank window on integer cents, one exact rational per
    // type.
    q("agg_trimmed_mean",
      """WITH e AS (SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS y, event_id
        |  FROM events),
        |rk AS (SELECT g, y,
        |    row_number() OVER (PARTITION BY g ORDER BY y, event_id) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n FROM e),
        |mid AS (SELECT g, CAST(count(*) AS BIGINT) AS n_kept, SUM(y) AS sy
        |  FROM rk WHERE rn > n // 10 AND rn <= n - n // 10 GROUP BY 1)
        |SELECT g AS event_type, n_kept,
        |  CAST((2000000 * sy + 100 * n_kept) // (2 * 100 * n_kept)
        |    AS BIGINT) / 1000000.0 AS trimmed_mean6
        |FROM mid ORDER BY g""") { (s, dir) =>
      val rk = T.t(s, dir, "events")
        .select(col("event_type").as("g"),
          round(col("value") * 100).cast(LongType).as("y"), col("event_id"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy("y", "event_id")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
      rk.where(expr("rn > n div 10 AND rn <= n - n div 10"))
        .groupBy("g")
        .agg(count(lit(1)).cast(LongType).as("n_kept"),
          sum("y").as("sy"))
        .select(col("g").as("event_type"), col("n_kept"),
          T.r6("sy", "100 * n_kept").as("trimmed_mean6"))
        .orderBy("event_type")
    },

    // Johnson–Lindenstrauss projection audit — random ±1 projection to 8
    // dims with DETERMINISTIC hash signs, distortion measured per pair as
    // d²_proj/(m·d²_orig) (expectation 1 by the JL lemma): embeddings
    // quantized to integer units first (round(x·64)), so every distance
    // and projection is EXACT integer arithmetic and the distortion is
    // one rational. The dimensionality-reduction pre-check for the
    // vector-search family.
    q("vector_jl_projection_audit",
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(x * 64) AS BIGINT)) AS qv
        |  FROM embeddings WHERE vec_id < 100),
        |pr AS (SELECT a.vec_id // 2 AS pid, a.qv AS qa, b.qv AS qb
        |  FROM q a JOIN q b ON b.vec_id = a.vec_id + 1
        |    AND a.vec_id % 2 = 0),
        |dims AS (SELECT pid, unnest(range(len(qa))) AS i,
        |    unnest(qa) AS xa, unnest(qb) AS xb FROM pr),
        |d2o AS (SELECT pid, SUM((xa - xb) * (xa - xb)) AS d2 FROM dims
        |  GROUP BY 1),
        |proj AS (SELECT pid, k,
        |    SUM((1 - 2 * ((i * 2654435761 + k * 40503) % 4294967296 % 2))
        |      * (xa - xb)) AS pd
        |  FROM dims CROSS JOIN (SELECT unnest(range(8)) AS k)
        |  GROUP BY 1, 2),
        |d2p AS (SELECT pid, SUM(pd * pd) AS d2 FROM proj GROUP BY 1)
        |SELECT d2o.pid AS pair_id, CAST(d2o.d2 AS BIGINT) AS d2_orig,
        |  CAST(d2p.d2 AS BIGINT) AS d2_proj,
        |  CAST((2000000 * d2p.d2 + 8 * d2o.d2) // (2 * 8 * d2o.d2)
        |    AS BIGINT) / 1000000.0 AS distortion6
        |FROM d2o JOIN d2p ON d2o.pid = d2p.pid
        |ORDER BY pair_id LIMIT 50""") { (s, dir) =>
      val q = T.t(s, dir, "embeddings").filter(col("vec_id") < 100)
        .select(col("vec_id"), expr(
          "transform(embedding, x -> cast(round(x * 64) as bigint))")
          .as("qv"))
      val pr = q.as("a")
        .join(q.as("b"), expr("b.vec_id = a.vec_id + 1" +
          " AND a.vec_id % 2 = 0"))
        .select(expr("a.vec_id div 2").as("pid"),
          col("a.qv").as("qa"), col("b.qv").as("qb"))
      val dims = pr.select(col("pid"),
          posexplode(expr("arrays_zip(qa, qb)")).as(Seq("i", "z")))
        .select(col("pid"), col("i").cast(LongType).as("i"),
          col("z.qa").as("xa"), col("z.qb").as("xb"))
      val d2o = dims.groupBy("pid")
        .agg(sum((col("xa") - col("xb")) * (col("xa") - col("xb")))
          .as("d2o"))
      val proj = dims
        .crossJoin(broadcast(s.range(8).select(col("id").as("k"))))
        .groupBy("pid", "k")
        .agg(sum(expr("(1 - 2 * ((i * 2654435761L + k * 40503L)" +
          " % 4294967296L % 2)) * (xa - xb)")).as("pd"))
      val d2p = proj.groupBy(col("pid").as("ppid"))
        .agg(sum(col("pd") * col("pd")).as("d2p"))
      d2o.join(d2p, col("pid") === col("ppid"))
        .select(col("pid").as("pair_id"),
          col("d2o").cast(LongType).as("d2_orig"),
          col("d2p").cast(LongType).as("d2_proj"),
          T.r6("d2p", "8 * d2o").as("distortion6"))
        .orderBy("pair_id").limit(50)
    },

    // Expected calibration error — the ONE-NUMBER summary of
    // ml_calibration_bins (score = value scaled to [0,1], label =
    // purchase, 10 equal-width bins): the per-bin |accuracy−confidence|
    // has common denominator n_b·maxc, so the n_b-weighted ECE sum
    // telescopes to Σ|pos_b·maxc − Σy_b| / (N·maxc) — ONE pure-integer
    // rational, no per-bin float ever. Two map-side-combinable aggs.
    q("ml_expected_calibration_error",
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS y,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |mx AS (SELECT max(y) AS maxc, CAST(count(*) AS BIGINT) AS n
        |  FROM e),
        |b AS (SELECT (y * 10) // (maxc + 1) AS bin, pos, y
        |  FROM e CROSS JOIN mx),
        |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS nb, SUM(pos)
        |    AS posb, SUM(y) AS syb FROM b GROUP BY 1),
        |s AS (SELECT SUM(abs(posb * maxc - syb)) AS num
        |  FROM g CROSS JOIN mx)
        |SELECT n, CAST(maxc AS BIGINT) AS max_cents,
        |  CAST((2000000 * num + n * maxc) // (2 * n * maxc) AS BIGINT)
        |    / 1000000.0 AS ece6
        |FROM s CROSS JOIN mx""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .select(round(col("value") * 100).cast(LongType).as("y"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
      val mx = e.agg(max("y").as("maxc"),
        count(lit(1)).cast(LongType).as("n"))
      val g = e.crossJoin(broadcast(mx))
        .groupBy(expr("(y * 10) div (maxc + 1)").as("bin"))
        .agg(sum("pos").as("posb"), sum("y").as("syb"),
          max("maxc").as("mc"))
      g.agg(sum(abs(col("posb") * col("mc") - col("syb"))).as("num"))
        .crossJoin(broadcast(mx))
        .select(col("n"), col("maxc").cast(LongType).as("max_cents"),
          T.r6("num", "n * maxc").as("ece6"))
    },

    // Rolling regression slope (beta) of purchase revenue on click
    // revenue over a trailing 14-day window — the moving-relationship
    // monitor beside window_rolling_corr's strength: all five windowed
    // moments are exact integer cents on the bounded day spine, the
    // slope is ONE rational per row (numerator pre-cast DECIMAL(38,0)
    // inside T.r6s; DuckDB window sums are HUGEINT).
    q("window_rolling_beta",
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS x,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
        |  FROM events GROUP BY 1),
        |w AS (SELECT day,
        |    SUM(CAST(x AS HUGEINT)) OVER pw AS sx,
        |    SUM(CAST(y AS HUGEINT)) OVER pw AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) OVER pw AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) OVER pw AS sxx,
        |    COUNT(*) OVER pw AS n
        |  FROM d WINDOW pw AS (ORDER BY day ROWS BETWEEN 13 PRECEDING
        |    AND CURRENT ROW))
        |SELECT day,
        |  (CASE WHEN 14 * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(14 * sxy - sx * sy)
        |        + (14 * sxx - sx * sx))
        |      // (2 * (14 * sxx - sx * sx)) AS BIGINT) / 1000000.0
        |    AS beta6
        |FROM w WHERE n = 14 ORDER BY day""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click",
            round(col("value") * 100).cast(LongType)).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast(LongType)).otherwise(0L))
            .as("y"))
      val pw = Window.orderBy("day").rowsBetween(-13, Window.currentRow)
      val dx = col("x").cast(DecimalType(38, 0))
      d.withColumn("sx", sum(dx).over(pw))
        .withColumn("sy", sum(col("y").cast(DecimalType(38, 0))).over(pw))
        .withColumn("sxy", sum(dx * col("y")).over(pw))
        .withColumn("sxx", sum(dx * col("x")).over(pw))
        .withColumn("n", count(lit(1)).over(pw))
        .where(col("n") === 14)
        .select(col("day"),
          T.r6s("cast(14 * sxy - sx * sy as decimal(38,0))",
            "14 * sxx - sx * sx").as("beta6"))
        .orderBy("day")
    },

    // Rich-club coefficient φ(k) at k = 2,4,8,16 — do high-degree nodes
    // preferentially connect to each other? (the structural elite-core
    // question): degrees on the strong co-purchase edge set, φ(k) =
    // 2E_k/(N_k(N_k−1)) as zero-guarded exact rationals. Degree joins
    // are broadcast-sized on the bounded edge set; the k ladder is a
    // 4-row spine.
    q("graph_rich_club",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |sup AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    count(*) AS sup
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |pr AS (SELECT pa, pb FROM sup ORDER BY sup DESC, pa, pb
        |  LIMIT 2000),
        |e AS (SELECT pa AS s, pb AS d FROM pr
        |  UNION ALL SELECT pb, pa FROM pr),
        |deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS dg FROM e
        |  GROUP BY 1),
        |ks AS (SELECT unnest([2, 4, 8, 16]) AS k),
        |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_k
        |  FROM deg CROSS JOIN ks WHERE dg > k GROUP BY 1),
        |ek AS (SELECT k, CAST(count(*) AS BIGINT) AS e_k
        |  FROM pr JOIN deg da ON pr.pa = da.node
        |    JOIN deg db ON pr.pb = db.node
        |  CROSS JOIN ks WHERE da.dg > k AND db.dg > k GROUP BY 1)
        |SELECT CAST(ks.k AS BIGINT) AS k, COALESCE(n_k, 0) AS n_k,
        |  COALESCE(e_k, 0) AS e_k,
        |  CASE WHEN COALESCE(n_k, 0) <= 1 THEN 0.0 ELSE
        |    CAST((2000000 * 2 * COALESCE(e_k, 0) + n_k * (n_k - 1))
        |      // (2 * n_k * (n_k - 1)) AS BIGINT) / 1000000.0
        |  END AS phi6
        |FROM ks LEFT JOIN nk ON ks.k = nk.k
        |  LEFT JOIN ek ON ks.k = ek.k ORDER BY ks.k""") { (s, dir) =>
      val pr = GroupSeven.pairSupport(s, dir)
        .orderBy(col("sup").desc, col("pa"), col("pb")).limit(2000)
        .select("pa", "pb").localCheckpoint(false)
      val e = pr.select(col("pa").as("es"))
        .unionAll(pr.select(col("pb").as("es")))
      val deg = e.groupBy(col("es").as("node"))
        .agg(count(lit(1)).cast(LongType).as("dg"))
      val ks = s.range(5).select(
        expr("cast(pow(2, id + 1) as bigint)").as("k"))
        .filter(col("k") <= 16)
      val nk = deg.crossJoin(broadcast(ks)).where(col("dg") > col("k"))
        .groupBy(col("k").as("nkk"))
        .agg(count(lit(1)).cast(LongType).as("n_k"))
      val ek = pr
        .join(broadcast(deg.select(col("node").as("na"),
          col("dg").as("da"))), col("pa") === col("na"))
        .join(broadcast(deg.select(col("node").as("nb"),
          col("dg").as("db"))), col("pb") === col("nb"))
        .crossJoin(broadcast(ks))
        .where(col("da") > col("k") && col("db") > col("k"))
        .groupBy(col("k").as("ekk"))
        .agg(count(lit(1)).cast(LongType).as("e_k"))
      ks.join(nk, col("k") === col("nkk"), "left")
        .join(ek, col("k") === col("ekk"), "left")
        .select(col("k").cast(LongType).as("k"),
          coalesce(col("n_k"), lit(0L)).as("n_k"),
          coalesce(col("e_k"), lit(0L)).as("e_k"))
        .withColumn("phi6",
          expr("CASE WHEN n_k <= 1 THEN 0.0D ELSE" +
            " ((2000000L * 2 * e_k + n_k * (n_k - 1))" +
            " div (2L * n_k * (n_k - 1))) / 1000000.0D END"))
        .orderBy("k")
    },

    // Value-at-Risk and conditional VaR (expected shortfall) of the
    // daily revenue CHANGE series — the risk-tail pair every financial
    // monitor reports: day-over-day deltas in exact cents, VaR95 by
    // exact rank selection (⌈n/20⌉-th smallest), CVaR as the exact
    // rational mean of the selected tail. All integer until the final
    // ÷100; the rank window runs on the bounded day spine.
    q("agg_var_cvar",
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1),
        |dxs AS (SELECT x - lag(x) OVER (ORDER BY day) AS dx FROM d),
        |v AS (SELECT dx FROM dxs WHERE dx IS NOT NULL),
        |rk AS (SELECT dx, row_number() OVER (ORDER BY dx) AS rn,
        |    count(*) OVER () AS n FROM v),
        |q AS (SELECT max(n) AS nq,
        |    max(CASE WHEN rn = (n + 19) // 20 THEN dx END) AS qv FROM rk),
        |tail AS (SELECT nq, qv, CAST(count(*) AS BIGINT) AS nt,
        |    SUM(rk.dx) AS st
        |  FROM rk CROSS JOIN q WHERE rk.dx <= qv GROUP BY 1, 2)
        |SELECT CAST(nq AS BIGINT) AS n_days,
        |  CAST(-qv AS BIGINT) AS var95_cents,
        |  (CASE WHEN -st < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(st) + nt * 100) // (2 * nt * 100)
        |      AS BIGINT) / 1000000.0 AS cvar95_loss6
        |FROM tail""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("x"))
      val v = d.withColumn("dx", col("x") - lag("x", 1)
          .over(Window.orderBy("day")))
        .where(col("dx").isNotNull).select("dx")
      val rk = v
        .withColumn("rn", row_number().over(Window.orderBy("dx")))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(lit(1))))
      val q9 = rk.agg(max("n").as("nq"),
        max(when(expr("rn = (n + 19) div 20"), col("dx"))).as("qv"))
      rk.crossJoin(broadcast(q9))
        .where(col("dx") <= col("qv"))
        .groupBy("nq", "qv")
        .agg(count(lit(1)).cast(LongType).as("nt"), sum("dx").as("st"))
        .select(col("nq").cast(LongType).as("n_days"),
          (-col("qv")).cast(LongType).as("var95_cents"),
          T.r6s("-st", "nt * 100").as("cvar95_loss6"))
    },

    // Kendall's W (coefficient of concordance) per language — do three
    // independent document "raters" (token count, distinct-token count,
    // char count) agree on the ordering? Ranks are total orders (doc_id
    // tiebreak — deterministic under ties, documented), the squared
    // deviation sum is kept integral by the ×2 trick (2ΣR − m(n+1)),
    // and W = S4/(3(n³−n)) is ONE rational per language in
    // DECIMAL(38,0)/HUGEINT. Rank windows are KEYED by lang.
    q("stat_kendall_w",
      """WITH m AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS m1,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS m2,
        |    n_chars AS m3 FROM documents),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY m1, doc_id)
        |      AS r1,
        |    row_number() OVER (PARTITION BY lang ORDER BY m2, doc_id)
        |      AS r2,
        |    row_number() OVER (PARTITION BY lang ORDER BY m3, doc_id)
        |      AS r3,
        |    count(*) OVER (PARTITION BY lang) AS n FROM m),
        |s AS (SELECT lang, max(n) AS n,
        |    SUM(CAST(2 * (r1 + r2 + r3) - 3 * (n + 1) AS HUGEINT)
        |      * (2 * (r1 + r2 + r3) - 3 * (n + 1))) AS s4
        |  FROM r GROUP BY 1)
        |SELECT lang, CAST(n AS BIGINT) AS n_docs,
        |  CAST((2000000 * s4 + 3 * (CAST(n AS HUGEINT) * n * n - n))
        |    // (2 * 3 * (CAST(n AS HUGEINT) * n * n - n)) AS BIGINT)
        |    / 1000000.0 AS kendall_w6
        |FROM s ORDER BY lang""") { (s, dir) =>
      val m = T.t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast(LongType).as("m1"),
          size(array_distinct(split(col("text"), " "))).cast(LongType)
            .as("m2"),
          col("n_chars").as("m3"))
      def rk(c: String) = row_number().over(
        Window.partitionBy("lang").orderBy(col(c), col("doc_id")))
      val r = m.withColumn("r1", rk("m1")).withColumn("r2", rk("m2"))
        .withColumn("r3", rk("m3"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      r.groupBy("lang")
        .agg(max("n").as("n"),
          sum(expr("cast(2 * (r1 + r2 + r3) - 3 * (n + 1)" +
            " as decimal(38,0)) * (2 * (r1 + r2 + r3) - 3 * (n + 1))"))
            .as("s4"))
        .select(col("lang"), col("n").cast(LongType).as("n_docs"),
          T.r6("s4", "3 * (cast(n as decimal(38,0)) * n * n - n)")
            .as("kendall_w6"))
        .orderBy("lang")
    },

    // Overdispersion index of per-user event counts — Var/Mean, the
    // Poisson-model diagnostic (≈1 Poisson, >1 clumped — decides whether
    // a negative-binomial model is needed): ONE integer rational
    // (nΣc²−S²)/(nS) from exact count power sums. Two
    // map-side-combinable aggs.
    q("stat_overdispersion_index",
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(c) AS sc,
        |    SUM(c * c) AS sq FROM c)
        |SELECT n AS n_users,
        |  CAST((2000000 * sc + n) // (2 * n) AS BIGINT) / 1000000.0
        |    AS mean_events6,
        |  CAST((2000000 * (n * sq - sc * sc) + n * sc) // (2 * n * sc)
        |    AS BIGINT) / 1000000.0 AS dispersion6
        |FROM s""") { (s, dir) =>
      val c = T.t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).cast(LongType).as("c"))
      c.agg(count(lit(1)).cast(LongType).as("n"), sum("c").as("sc"),
          sum(col("c") * col("c")).as("sq"))
        .select(col("n").as("n_users"),
          T.r6("sc", "n").as("mean_events6"),
          T.r6("n * sq - sc * sc", "n * sc").as("dispersion6"))
    },

    // Lorenz curve table per nation (the raw curve the Gini key
    // integrates): customers ranked by exact-cent revenue within their
    // nation, decile cut, cumulative population vs revenue shares as
    // exact rationals — rev_share ≤ pop_share pointwise by construction.
    // Nation-keyed rank and cumsum windows (the gini scale rule).
    q("agg_lorenz_curve",
      """WITH per AS (SELECT c.c_nationkey AS nk, o.o_custkey AS ck,
        |    SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT nk, cents,
        |    row_number() OVER (PARTITION BY nk ORDER BY cents, ck) AS rn,
        |    count(*) OVER (PARTITION BY nk) AS n,
        |    SUM(cents) OVER (PARTITION BY nk) AS tot FROM per),
        |dec AS (SELECT nk, ((rn - 1) * 10) // n AS d, SUM(cents) AS dc,
        |    CAST(count(*) AS BIGINT) AS np, max(tot) AS tot, max(n) AS n
        |  FROM rk GROUP BY 1, 2),
        |cum AS (SELECT nk, d,
        |    SUM(dc) OVER (PARTITION BY nk ORDER BY d ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cdc,
        |    SUM(np) OVER (PARTITION BY nk ORDER BY d ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cnp,
        |    tot, n FROM dec)
        |SELECT nk, CAST(d AS BIGINT) AS decile,
        |  CAST((2000000 * cnp + n) // (2 * n) AS BIGINT) / 1000000.0
        |    AS pop_share6,
        |  CAST((2000000 * cdc + tot) // (2 * tot) AS BIGINT) / 1000000.0
        |    AS rev_share6
        |FROM cum ORDER BY nk, decile""") { (s, dir) =>
      val per = T.t(s, dir, "orders")
        .join(T.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"), col("o_custkey").as("ck"))
        .agg(sum(round(col("o_totalprice") * 100).cast(LongType))
          .as("cents"))
      val wn = Window.partitionBy("nk")
      val rk = per
        .withColumn("rn", row_number().over(wn.orderBy("cents", "ck")))
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("tot", sum("cents").over(wn))
      val dec = rk.groupBy(col("nk"), expr("((rn - 1) * 10) div n").as("d"))
        .agg(sum("cents").as("dc"), count(lit(1)).cast(LongType).as("np"),
          max("tot").as("tot"), max("n").as("n"))
      val cw = Window.partitionBy("nk").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec.withColumn("cdc", sum("dc").over(cw))
        .withColumn("cnp", sum("np").over(cw))
        .select(col("nk"), col("d").cast(LongType).as("decile"),
          T.r6("cnp", "n").as("pop_share6"),
          T.r6("cdc", "tot").as("rev_share6"))
        .orderBy("nk", "decile")
    },

    // Positional inverted index + phrase query — the search-engine
    // primitive TF-IDF ranking can't give (exact phrase match): postings
    // with token positions for the two phrase terms, adjacency equi-join
    // (t2.pos = t1.pos + 1) per document, and the result AUDITED in-query
    // against an independent substring count (length-difference trick) —
    // the two counts must agree exactly. All integer.
    q("text_phrase_index_query",
      """WITH dd AS (SELECT doc_id, string_split(text, ' ') AS arr, text
        |  FROM documents),
        |tk AS (SELECT doc_id, unnest(arr) AS tok,
        |    unnest(range(len(arr))) AS pos FROM dd),
        |t1 AS (SELECT doc_id, pos FROM tk WHERE tok = 'data'),
        |t2 AS (SELECT doc_id, pos FROM tk WHERE tok = 'query'),
        |hits AS (SELECT t1.doc_id AS doc_id, count(*) AS h
        |  FROM t1 JOIN t2 ON t1.doc_id = t2.doc_id
        |    AND t2.pos = t1.pos + 1 GROUP BY 1),
        |sub AS (SELECT doc_id, (len(text) - len(replace(text,
        |    'data query', ''))) // len('data query') AS h2 FROM dd),
        |agg AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_docs_with,
        |    (SELECT CAST(COALESCE(SUM(h), 0) AS BIGINT) FROM hits)
        |      AS n_idx,
        |    (SELECT CAST(COALESCE(SUM(h2), 0) AS BIGINT) FROM sub)
        |      AS n_substr)
        |SELECT 'data query' AS phrase, n_docs_with, n_idx, n_substr,
        |  n_idx = n_substr AS idx_matches_substr
        |FROM agg""") { (s, dir) =>
      val dd = T.t(s, dir, "documents").select(col("doc_id"), col("text"))
      val tk = dd.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val t1 = tk.filter(col("tok") === "data")
        .select(col("doc_id").as("d1"), col("pos").as("p1"))
      val t2 = tk.filter(col("tok") === "query")
        .select(col("doc_id").as("d2"), col("pos").as("p2"))
      val hits = t1.join(t2,
          col("d1") === col("d2") && col("p2") === col("p1") + 1)
        .groupBy("d1").agg(count(lit(1)).as("h"))
      val nIdx = hits.agg(
        count(lit(1)).cast(LongType).as("n_docs_with"),
        coalesce(sum("h"), lit(0L)).cast(LongType).as("n_idx"))
      val nSub = dd.select(
          expr("(length(text) - length(replace(text, 'data query', '')))" +
            " div length('data query')").as("h2"))
        .agg(coalesce(sum("h2"), lit(0L)).cast(LongType).as("n_substr"))
      nIdx.crossJoin(broadcast(nSub))
        .select(lit("data query").as("phrase"), col("n_docs_with"),
          col("n_idx"), col("n_substr"),
          (col("n_idx") === col("n_substr")).as("idx_matches_substr"))
    },

    // Precision–recall curve at decile thresholds — the TABLE behind
    // ml_auc_roc's scalar and ml_threshold_sweep's argmax: thresholds by
    // exact rank selection on the distinct-score spine, tp/fp by one
    // ×9-replicated conditional agg, precision/recall as zero-guarded
    // exact rationals. The spine is domain-bounded (distinct cents).
    q("ml_pr_curve_points",
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS y,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |rk AS (SELECT y, row_number() OVER (ORDER BY y) AS rn,
        |    count(*) OVER () AS n FROM (SELECT DISTINCT y FROM e)),
        |nd AS (SELECT max(n) AS nd FROM rk),
        |thr AS (SELECT d, max(CASE WHEN rn = (d * (nd + 1) + 9) // 10
        |    THEN y END) AS t
        |  FROM rk CROSS JOIN nd
        |  CROSS JOIN (SELECT unnest(range(1, 10)) AS d) GROUP BY 1),
        |pt AS (SELECT SUM(pos) AS post FROM e),
        |m AS (SELECT d, t,
        |    SUM(CASE WHEN y > t THEN pos ELSE 0 END) AS tp,
        |    SUM(CASE WHEN y > t THEN 1 - pos ELSE 0 END) AS fp
        |  FROM e CROSS JOIN thr GROUP BY 1, 2)
        |SELECT CAST(d AS BIGINT) AS decile, CAST(t AS BIGINT)
        |    AS thr_cents,
        |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CASE WHEN tp + fp = 0 THEN 0.0 ELSE
        |    CAST((2000000 * tp + (tp + fp)) // (2 * (tp + fp)) AS BIGINT)
        |      / 1000000.0 END AS precision6,
        |  CAST((2000000 * tp + post) // (2 * post) AS BIGINT) / 1000000.0
        |    AS recall6
        |FROM m CROSS JOIN pt ORDER BY d""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .select(round(col("value") * 100).cast(LongType).as("y"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
      val rk = e.select("y").distinct()
        .withColumn("rn", row_number().over(Window.orderBy("y")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
      val nd = rk.agg(max("n").as("nd"))
      val thr = rk.crossJoin(broadcast(nd))
        .crossJoin(broadcast(s.range(1, 10).select(col("id").as("d"))))
        .groupBy("d")
        .agg(max(when(expr("rn = (d * (nd + 1) + 9) div 10"), col("y")))
          .as("t"))
      val pt = e.agg(sum("pos").as("post"))
      e.crossJoin(broadcast(thr))
        .groupBy("d", "t")
        .agg(sum(when(col("y") > col("t"), col("pos")).otherwise(0L))
          .as("tp"),
          sum(when(col("y") > col("t"), lit(1L) - col("pos"))
            .otherwise(0L)).as("fp"))
        .crossJoin(broadcast(pt))
        .select(col("d").cast(LongType).as("decile"),
          col("t").cast(LongType).as("thr_cents"),
          col("tp").cast(LongType).as("tp"),
          col("fp").cast(LongType).as("fp"),
          expr("CASE WHEN tp + fp = 0 THEN 0.0D ELSE" +
            " ((2000000L * tp + (tp + fp)) div (2L * (tp + fp)))" +
            " / 1000000.0D END").as("precision6"),
          T.r6("tp", "post").as("recall6"))
        .orderBy("decile")
    },

    // Daily-volume anomaly monitor — row counts vs trailing-7 median ±
    // 3·MAD, the robust control band every ingest pipeline watches
    // (median/MAD shrug off the spikes that wreck mean/sigma bands):
    // both estimates are exact lower-median list picks on integer
    // counts (the rolling-MAD machinery on the day spine), the alert a
    // pure integer comparison.
    q("dq_volume_anomaly",
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |w AS (SELECT day, c, list(c) OVER (ORDER BY day ROWS BETWEEN
        |    7 PRECEDING AND 1 PRECEDING) AS l FROM d),
        |m AS (SELECT day, c, l, list_sort(l)[(len(l) + 1) // 2] AS med
        |  FROM w WHERE len(l) = 7),
        |md AS (SELECT day, c, med,
        |    list_sort(list_transform(l, x -> abs(x - med)))
        |      [(len(l) + 1) // 2] AS mad FROM m)
        |SELECT day, c, CAST(med AS BIGINT) AS med7,
        |  CAST(mad AS BIGINT) AS mad7,
        |  abs(c - med) > 3 * mad AS alert
        |FROM md ORDER BY day""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast(LongType).as("c"))
      val w = Window.orderBy("day").rowsBetween(-7, -1)
      d.withColumn("l", collect_list("c").over(w))
        .where(size(col("l")) === 7)
        .withColumn("med",
          expr("element_at(sort_array(l), cast((size(l) + 1) div 2 as int))"))
        .withColumn("mad",
          expr("element_at(sort_array(transform(l, x -> abs(x - med)))," +
            " cast((size(l) + 1) div 2 as int))"))
        .select(col("day"), col("c"),
          col("med").cast(LongType).as("med7"),
          col("mad").cast(LongType).as("mad7"),
          (abs(col("c") - col("med")) > col("mad") * 3).as("alert"))
        .orderBy("day")
    },

    // Chi-square standardized residuals — WHICH cells drive the
    // independence rejection (the diagnostic table behind
    // stat_chi2_independence's scalar): event type × above/below the
    // exact rank-selected median value; residual (O−E)/√E written as the
    // IDENTICAL float sequence in both engines over exact integer
    // operands, 6dp post-sqrt. The median comes from the bounded cents
    // spine (no data-sized global window).
    q("stat_chi2_residuals",
      """WITH e AS (SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
        |h AS (SELECT y, count(*) AS cnt FROM e GROUP BY 1),
        |r0 AS (SELECT y, SUM(cnt) OVER (ORDER BY y ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    (SELECT CAST(count(*) AS BIGINT) FROM e) AS n FROM h),
        |mx AS (SELECT min(CASE WHEN cum * 2 >= n THEN y END) AS medc
        |  FROM r0),
        |b AS (SELECT g, CASE WHEN y > medc THEN 'hi' ELSE 'lo' END AS v
        |  FROM e CROSS JOIN mx),
        |o AS (SELECT g, v, CAST(count(*) AS BIGINT) AS obs FROM b
        |  GROUP BY 1, 2),
        |rt AS (SELECT g, SUM(obs) AS r FROM o GROUP BY 1),
        |ct AS (SELECT v, SUM(obs) AS c2 FROM o GROUP BY 1),
        |n AS (SELECT SUM(obs) AS n FROM o)
        |SELECT o.g AS event_type, o.v AS bucket, obs,
        |  round((CAST(obs AS DOUBLE) - CAST(r * c2 AS DOUBLE) / n)
        |    / sqrt(CAST(r * c2 AS DOUBLE) / n), 6) AS residual6
        |FROM o JOIN rt ON o.g = rt.g JOIN ct ON o.v = ct.v CROSS JOIN n
        |ORDER BY o.g, o.v""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .select(col("event_type").as("g"),
          round(col("value") * 100).cast(LongType).as("y"))
      val h = e.groupBy("y").agg(count(lit(1)).as("cnt"))
      val nTot = e.agg(count(lit(1)).cast(LongType).as("n"))
      val r0 = h.withColumn("cum", sum("cnt").over(Window.orderBy("y")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(nTot))
      val mx = r0.agg(min(when(col("cum") * 2 >= col("n"), col("y")))
        .as("medc"))
      val o = e.crossJoin(broadcast(mx))
        .groupBy(col("g"),
          when(col("y") > col("medc"), "hi").otherwise("lo").as("v"))
        .agg(count(lit(1)).cast(LongType).as("obs"))
      val rt = o.groupBy(col("g").as("rg")).agg(sum("obs").as("r"))
      val ct = o.groupBy(col("v").as("cv")).agg(sum("obs").as("c2"))
      val n2 = o.agg(sum("obs").as("nn"))
      o.join(broadcast(rt), col("g") === col("rg"))
        .join(broadcast(ct), col("v") === col("cv"))
        .crossJoin(broadcast(n2))
        .select(col("g").as("event_type"), col("v").as("bucket"),
          col("obs"),
          round((col("obs").cast(DoubleType)
              - expr("CAST(r * c2 AS DOUBLE)") / col("nn"))
            / sqrt(expr("CAST(r * c2 AS DOUBLE)") / col("nn")), 6)
            .as("residual6"))
        .orderBy("event_type", "bucket")
    },

    // URL-slug normalization (the content-id scalar every CMS/SEO
    // pipeline runs): lowercase, collapse every non-alphanumeric run to
    // a single dash, trim edge dashes — plus token count before
    // slugging. Pure regexp/string projection; DuckDB needs the 'g'
    // flag where Spark's regexp_replace is global by default
    // (documented portability trap).
    q("scalar_slugify",
      """SELECT p_partkey, p_name,
        |  trim(regexp_replace(lower(p_name), '[^a-z0-9]+', '-', 'g'),
        |    '-') AS slug,
        |  CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words
        |FROM part WHERE p_partkey < 500 ORDER BY p_partkey""") {
      (s, dir) =>
      T.t(s, dir, "part").filter(col("p_partkey") < 500)
        .select(col("p_partkey"), col("p_name"),
          expr("trim(BOTH '-' FROM" +
            " regexp_replace(lower(p_name), '[^a-z0-9]+', '-'))")
            .as("slug"),
          size(split(col("p_name"), " ")).cast(LongType).as("n_words"))
        .orderBy("p_partkey")
    },

    // Dataset card — the per-source summary sheet a training-data release
    // ships (HuggingFace dataset-card numbers): doc/token counts, mean
    // length, language share, and the share of docs whose text also
    // appears ANYWHERE else in the corpus (global md5 collision —
    // per-source dedup would undercount cross-source copies). Exact
    // rationals throughout; the hash join is the only corpus-wide pass.
    q("pipeline_dataset_card",
      """WITH d AS (SELECT source, lang, md5(text) AS h,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |gh AS (SELECT h, count(*) AS gc FROM d GROUP BY 1),
        |base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    SUM(tok) AS n_tokens,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en,
        |    SUM(CASE WHEN gc > 1 THEN 1 ELSE 0 END) AS n_dup
        |  FROM d JOIN gh ON d.h = gh.h GROUP BY 1)
        |SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST((2000000 * n_tokens + n_docs) // (2 * n_docs) AS BIGINT)
        |    / 1000000.0 AS mean_tokens6,
        |  CAST((2000000 * n_en + n_docs) // (2 * n_docs) AS BIGINT)
        |    / 1000000.0 AS en_share6,
        |  CAST((2000000 * n_dup + n_docs) // (2 * n_docs) AS BIGINT)
        |    / 1000000.0 AS dup_share6
        |FROM base ORDER BY source""") { (s, dir) =>
      val d = T.t(s, dir, "documents")
        .select(col("source"), col("lang"), md5(col("text")).as("h"),
          size(split(col("text"), " ")).cast(LongType).as("tok"))
      val gh = d.groupBy("h").agg(count(lit(1)).as("gc"))
      d.join(gh, "h")
        .groupBy("source")
        .agg(count(lit(1)).cast(LongType).as("n_docs"),
          sum("tok").as("n_tokens"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          sum(when(col("gc") > 1, 1L).otherwise(0L)).as("n_dup"))
        .select(col("source"), col("n_docs"),
          col("n_tokens").cast(LongType).as("n_tokens"),
          T.r6("n_tokens", "n_docs").as("mean_tokens6"),
          T.r6("n_en", "n_docs").as("en_share6"),
          T.r6("n_dup", "n_docs").as("dup_share6"))
        .orderBy("source")
    },

    // Cohen's d effect size between purchase and click values — the
    // magnitude companion to the t-test's significance (stat_ttest_welch
    // says WHETHER, d says HOW MUCH): pooled-SD standardized mean gap
    // from exact integer power sums, written as the IDENTICAL float
    // sequence in both engines, 6dp post-sqrt. One conditional agg.
    sqlKey("stat_cohens_d",
      """WITH e AS (SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS y FROM events
        |  WHERE event_type IN ('purchase', 'click')),
        |m AS (SELECT g, CAST(count(*) AS BIGINT) AS n, SUM(y) AS sy,
        |    SUM(y * y) AS sq FROM e GROUP BY 1),
        |p AS (SELECT
        |    max(CASE WHEN g = 'purchase' THEN n END) AS n1,
        |    max(CASE WHEN g = 'purchase' THEN sy END) AS s1,
        |    max(CASE WHEN g = 'purchase' THEN sq END) AS q1,
        |    max(CASE WHEN g = 'click' THEN n END) AS n2,
        |    max(CASE WHEN g = 'click' THEN sy END) AS s2,
        |    max(CASE WHEN g = 'click' THEN sq END) AS q2 FROM m)
        |SELECT CAST(n1 AS BIGINT) AS n_purchase,
        |  CAST(n2 AS BIGINT) AS n_click,
        |  round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
        |    / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
        |      + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2))
        |      / (n1 + n2 - 2)), 6) AS cohens_d6
        |FROM p"""),

    // Events-since-last-purchase counter — the recency FEATURE (not the
    // report) a churn model joins per event: purchase epochs via a
    // running conditional count per user, position within the epoch via
    // a (user, epoch)-keyed rank; −1 sentinel before any purchase.
    // Purchase rows restart at 0. Pure integer; both windows share the
    // user_id shuffle prefix.
    sqlKey("window_since_last_event",
      """WITH s AS (SELECT event_id, user_id, ts, event_type,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
        |  FROM events),
        |r AS (SELECT event_id, user_id, epoch,
        |    row_number() OVER (PARTITION BY user_id, epoch
        |      ORDER BY ts, event_id) AS rn
        |  FROM s)
        |SELECT event_id, user_id, CAST(epoch AS BIGINT)
        |    AS n_purchases_so_far,
        |  CAST(CASE WHEN epoch = 0 THEN -1 ELSE rn - 1 END AS BIGINT)
        |    AS events_since_purchase
        |FROM r ORDER BY event_id LIMIT 2000"""),

    // Durbin–Watson statistic of the daily revenue linear-trend
    // residuals — the serial-correlation test every regression
    // diagnostic runs (≈2 = independent, →0 = positive autocorrelation):
    // the OLS fit is the exact closed form, residuals are carried
    // ×(n·den) as INTEGERS (e·n·den = n·den·y − (den·Σy − bnum·Σx) −
    // n·bnum·t — the scale cancels in the DW ratio), and DW is ONE
    // rational of two decimal power sums. Day-spine windows only.
    q("stat_durbin_watson",
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS y
        |  FROM events GROUP BY 1),
        |ix AS (SELECT y, row_number() OVER (ORDER BY day) AS t FROM d),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS nn, SUM(t) AS sx,
        |    SUM(y) AS sy, SUM(t * y) AS sxy, SUM(t * t) AS sxx FROM ix),
        |co AS (SELECT nn, nn * sxy - sx * sy AS bnum,
        |    nn * sxx - sx * sx AS den, sy, sx FROM m),
        |r AS (SELECT t, CAST(nn AS HUGEINT) * den * y
        |    - (CAST(den AS HUGEINT) * sy - CAST(bnum AS HUGEINT) * sx)
        |    - CAST(nn AS HUGEINT) * bnum * t AS e
        |  FROM ix CROSS JOIN co),
        |l AS (SELECT e, lag(e) OVER (ORDER BY t) AS ep FROM r),
        |agg AS (SELECT SUM((e - ep) * (e - ep)) AS num,
        |    (SELECT SUM(e * e) FROM r) AS dd FROM l WHERE ep IS NOT NULL)
        |SELECT CAST((2000000 * num + dd) // (2 * dd) AS BIGINT)
        |  / 1000000.0 AS dw6 FROM agg""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("y"))
      val ix = d.withColumn("t",
        row_number().over(Window.orderBy("day"))).select("y", "t")
      val m = ix.agg(count(lit(1)).cast(LongType).as("nn"),
        sum("t").as("sx"), sum("y").as("sy"),
        sum(col("t") * col("y")).as("sxy"),
        sum(col("t") * col("t")).as("sxx"))
      val co = m.select(col("nn"),
        (col("nn") * col("sxy") - col("sx") * col("sy")).as("bnum"),
        (col("nn") * col("sxx") - col("sx") * col("sx")).as("den"),
        col("sy"), col("sx"))
      val r = ix.crossJoin(broadcast(co))
        .select(col("t"), expr("cast(nn as decimal(38,0)) * den * y" +
          " - (cast(den as decimal(38,0)) * sy" +
          " - cast(bnum as decimal(38,0)) * sx)" +
          " - cast(nn as decimal(38,0)) * bnum * t").as("e"))
      val dd = r.agg(sum(col("e") * col("e")).as("dd"))
      r.withColumn("ep", lag("e", 1).over(Window.orderBy("t")))
        .where(col("ep").isNotNull)
        .agg(sum((col("e") - col("ep")) * (col("e") - col("ep")))
          .as("num"))
        .crossJoin(broadcast(dd))
        .select(T.r6("num", "dd").as("dw6"))
    },

    // Deterministic pseudonymization (GDPR-style tokenization): customer
    // names replaced by stable peppered-hash tokens — same input, same
    // token, on any cluster — with a COLLISION AUDIT carried in every
    // row (distinct names must equal distinct tokens, or the
    // pseudonym mapping is lossy). The governance scalar surface; the
    // audit is a 1-row broadcast.
    q("etl_pii_pseudonymize",
      """WITH p AS (SELECT c_custkey, c_name,
        |    'cust-' || substr(md5('pepper1:' || c_name), 1, 12) AS token
        |  FROM customer),
        |audit AS (SELECT CAST(count(DISTINCT c_name) AS BIGINT) AS dn,
        |    CAST(count(DISTINCT token) AS BIGINT) AS dt FROM p)
        |SELECT p.c_custkey, p.token, audit.dn = audit.dt AS no_collisions
        |FROM p CROSS JOIN audit WHERE c_custkey < 100
        |ORDER BY c_custkey""") { (s, dir) =>
      val p = T.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          concat(lit("cust-"),
            substring(md5(concat(lit("pepper1:"), col("c_name"))), 1, 12))
            .as("token"))
      val audit = p.agg(
        countDistinct("c_name").cast(LongType).as("dn"),
        countDistinct("token").cast(LongType).as("dt"))
      p.crossJoin(broadcast(audit))
        .where(col("c_custkey") < 100)
        .select(col("c_custkey"), col("token"),
          (col("dn") === col("dt")).as("no_collisions"))
        .orderBy("c_custkey")
    },

    // Exact Shapley values for a two-feature rate model (value > $100,
    // weekend) — the attribution method, in the ONE case where it's
    // closed-form exact (4 coalition rates, 2 orderings): each coalition
    // rate quantized to its HALF_UP micro-integer, φ as half-sums of
    // integer differences (÷2e6 at the end). The efficiency axiom
    // φ1 + φ2 = v(full) − v(∅) holds exactly and is spec-pinned. One
    // conditional agg.
    q("ml_shapley_two_feature",
      """WITH e AS (SELECT
        |    CASE WHEN value > 100 THEN 1 ELSE 0 END AS f1,
        |    CASE WHEN date_part('dow', ts) IN (0, 6) THEN 1 ELSE 0 END
        |      AS f2,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |v AS (SELECT
        |    SUM(y) AS s00n, CAST(count(*) AS BIGINT) AS n00,
        |    SUM(CASE WHEN f1 = 1 THEN y END) AS s10,
        |    SUM(CASE WHEN f1 = 1 THEN 1 ELSE 0 END) AS n10,
        |    SUM(CASE WHEN f2 = 1 THEN y END) AS s01,
        |    SUM(CASE WHEN f2 = 1 THEN 1 ELSE 0 END) AS n01,
        |    SUM(CASE WHEN f1 = 1 AND f2 = 1 THEN y END) AS s11,
        |    SUM(CASE WHEN f1 = 1 AND f2 = 1 THEN 1 ELSE 0 END) AS n11
        |  FROM e),
        |mu AS (SELECT
        |    (2000000 * s00n + n00) // (2 * n00) AS v0,
        |    (2000000 * s10 + n10) // (2 * n10) AS v1,
        |    (2000000 * s01 + n01) // (2 * n01) AS v2,
        |    (2000000 * s11 + n11) // (2 * n11) AS v12 FROM v)
        |SELECT CAST(v0 AS BIGINT) / 1000000.0 AS base_rate6,
        |  CAST(v12 AS BIGINT) / 1000000.0 AS full_rate6,
        |  CAST((v1 - v0) + (v12 - v2) AS BIGINT) / 2000000.0
        |    AS shap_value_gt100_6,
        |  CAST((v2 - v0) + (v12 - v1) AS BIGINT) / 2000000.0
        |    AS shap_weekend6
        |FROM mu""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .select(when(col("value") > 100, 1L).otherwise(0L).as("f1"),
          when(expr("(dayofweek(ts) - 1) IN (0, 6)"), 1L).otherwise(0L)
            .as("f2"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("y"))
      e.agg(sum("y").as("s00n"), count(lit(1)).cast(LongType).as("n00"),
          sum(when(col("f1") === 1, col("y"))).as("s10"),
          sum(when(col("f1") === 1, 1L).otherwise(0L)).as("n10"),
          sum(when(col("f2") === 1, col("y"))).as("s01"),
          sum(when(col("f2") === 1, 1L).otherwise(0L)).as("n01"),
          sum(when(col("f1") === 1 && col("f2") === 1, col("y")))
            .as("s11"),
          sum(when(col("f1") === 1 && col("f2") === 1, 1L).otherwise(0L))
            .as("n11"))
        .withColumn("v0", expr("(2000000L * s00n + n00) div (2L * n00)"))
        .withColumn("v1", expr("(2000000L * s10 + n10) div (2L * n10)"))
        .withColumn("v2", expr("(2000000L * s01 + n01) div (2L * n01)"))
        .withColumn("v12", expr("(2000000L * s11 + n11) div (2L * n11)"))
        .select(
          (col("v0").cast(DoubleType) / 1000000.0d).as("base_rate6"),
          (col("v12").cast(DoubleType) / 1000000.0d).as("full_rate6"),
          (((col("v1") - col("v0")) + (col("v12") - col("v2")))
            .cast(DoubleType) / 2000000.0d).as("shap_value_gt100_6"),
          (((col("v2") - col("v0")) + (col("v12") - col("v1")))
            .cast(DoubleType) / 2000000.0d).as("shap_weekend6"))
    },

    // Theil entropy index of customer revenue — the third leg of the
    // inequality kit (Gini integrates, Lorenz draws, Theil DECOMPOSES):
    // T = Σ(x/S)·ln(x·n/S), with the log quantized to integer micro-nats
    // per customer (quantize-then-sum — the x-weighted integer sum is
    // order-independent at any partitioning) and the final value ONE
    // rational over S·10⁶. Two map-side-combinable aggs.
    q("agg_theil_index",
      """WITH per AS (SELECT o_custkey,
        |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(x) AS sx
        |  FROM per),
        |q AS (SELECT x, CAST(round(ln(CAST(x AS DOUBLE) * n / sx)
        |    * 1000000.0, 0) AS BIGINT) AS lnq
        |  FROM per CROSS JOIN t),
        |s AS (SELECT SUM(CAST(x AS HUGEINT) * lnq) AS num FROM q)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |  (CASE WHEN num < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(num) + CAST(sx AS HUGEINT) * 1000000)
        |      // (2 * CAST(sx AS HUGEINT) * 1000000) AS BIGINT)
        |    / 1000000.0 AS theil6
        |FROM s CROSS JOIN t""") { (s, dir) =>
      val per = T.t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast(LongType)).as("x"))
      val t = per.agg(count(lit(1)).cast(LongType).as("n"),
        sum("x").as("sx"))
      val q = per.crossJoin(broadcast(t))
        .withColumn("lnq",
          round(log(col("x").cast(DoubleType) * col("n") / col("sx"))
            * 1000000.0, 0).cast(LongType))
      q.agg(sum(expr("cast(x as decimal(38,0)) * lnq")).as("num"),
          max("n").as("n"), max("sx").as("sx"))
        .select(col("n").cast(LongType).as("n_customers"),
          T.r6s("num", "cast(sx as decimal(38,0)) * 1000000")
            .as("theil6"))
    },

    // McNemar's test for two paired classifiers (the value rule vs the
    // weekend rule on the SAME events — the paired-comparison question
    // accuracy alone can't answer): discordant counts b/c from one scan,
    // χ² = (b−c)²/(b+c) as a zero-guarded exact rational. One
    // conditional agg.
    q("stat_mcnemar",
      """WITH e AS (SELECT
        |    CASE WHEN value > 100 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN date_part('dow', ts) IN (0, 6) THEN 1 ELSE 0 END
        |      AS b2,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |d AS (SELECT
        |    SUM(CASE WHEN a = y AND b2 <> y THEN 1 ELSE 0 END) AS b,
        |    SUM(CASE WHEN a <> y AND b2 = y THEN 1 ELSE 0 END) AS c
        |  FROM e)
        |SELECT CAST(b AS BIGINT) AS n_only_a_right,
        |  CAST(c AS BIGINT) AS n_only_b_right,
        |  CASE WHEN b + c = 0 THEN 0.0 ELSE
        |    CAST((2000000 * (b - c) * (b - c) + (b + c)) // (2 * (b + c))
        |      AS BIGINT) / 1000000.0 END AS mcnemar_chi2_6
        |FROM d""") { (s, dir) =>
      T.t(s, dir, "events")
        .select(when(col("value") > 100, 1L).otherwise(0L).as("a"),
          when(expr("(dayofweek(ts) - 1) IN (0, 6)"), 1L).otherwise(0L)
            .as("b2"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("y"))
        .agg(sum(when(col("a") === col("y") && col("b2") =!= col("y"), 1L)
            .otherwise(0L)).as("b"),
          sum(when(col("a") =!= col("y") && col("b2") === col("y"), 1L)
            .otherwise(0L)).as("c"))
        .select(col("b").cast(LongType).as("n_only_a_right"),
          col("c").cast(LongType).as("n_only_b_right"),
          expr("CASE WHEN b + c = 0 THEN 0.0D ELSE" +
            " ((2000000L * (b - c) * (b - c) + (b + c))" +
            " div (2L * (b + c))) / 1000000.0D END")
            .as("mcnemar_chi2_6"))
    },

    // Net Promoter Score from per-user purchase spend, scored on FIXED
    // dollar thresholds (0–10 in $50 steps; 9–10 promoters, 0–6
    // detractors — the standard NPS buckets) so the whole computation is
    // scan-local with NO rank window over a data-sized relation: NPS =
    // (P − D)/N as one signed exact rational. Two
    // map-side-combinable aggs.
    q("agg_nps_score",
      """WITH e AS (SELECT user_id,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS spend
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |cls AS (SELECT least(10, spend // 5000) AS score FROM e),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    SUM(CASE WHEN score >= 9 THEN 1 ELSE 0 END) AS p,
        |    SUM(CASE WHEN score <= 6 THEN 1 ELSE 0 END) AS d FROM cls)
        |SELECT n AS n_users, CAST(p AS BIGINT) AS promoters,
        |  CAST(d AS BIGINT) AS detractors,
        |  (CASE WHEN p - d < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(p - d) + n) // (2 * n) AS BIGINT)
        |    / 1000000.0 AS nps6
        |FROM s""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast(LongType)).as("spend"))
      e.select(least(lit(10L), expr("spend div 5000")).as("score"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum(when(col("score") >= 9, 1L).otherwise(0L)).as("p"),
          sum(when(col("score") <= 6, 1L).otherwise(0L)).as("d"))
        .select(col("n").as("n_users"),
          col("p").cast(LongType).as("promoters"),
          col("d").cast(LongType).as("detractors"),
          T.r6s("p - d", "n").as("nps6"))
    },

    // Peaks-over-threshold GPD fit (extreme-value tail modeling — the
    // method behind "what does a 1-in-1000 value look like"): exceedances
    // of the $250 threshold, method-of-moments ξ/σ estimates from exact
    // integer moments via the IDENTICAL float chain in both engines,
    // zero-guarded below 10 exceedances (the sf0.001 tail is too thin to
    // fit — emitted as 0, documented). One filtered agg.
    sqlKey("stat_pot_gpd_fit",
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events),
        |x AS (SELECT y - 25000 AS z FROM e WHERE y > 25000),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS k, SUM(z) AS sz,
        |    SUM(z * z) AS sq FROM x)
        |SELECT k AS n_exceed,
        |  CASE WHEN k < 10 THEN 0.0 ELSE
        |    round(0.5 * (1.0 - (CAST(sz AS DOUBLE) / k)
        |      * (CAST(sz AS DOUBLE) / k)
        |      / ((CAST(sq AS DOUBLE) - CAST(sz AS DOUBLE) * sz / k) / k)),
        |      6) END AS xi6,
        |  CASE WHEN k < 10 THEN 0.0 ELSE
        |    round(0.5 * (CAST(sz AS DOUBLE) / k)
        |      * (1.0 + (CAST(sz AS DOUBLE) / k) * (CAST(sz AS DOUBLE) / k)
        |      / ((CAST(sq AS DOUBLE) - CAST(sz AS DOUBLE) * sz / k) / k))
        |      / 100.0, 6) END AS sigma_dollars6
        |FROM m"""),

    // Cumulative gains and lift chart at population deciles — the
    // campaign-targeting view of the score's ranking power (PR curve's
    // marketing twin): decile cuts resolved on the DESC cumulative
    // distinct-cents spine (largest y whose coverage reaches d/10 of the
    // population), gain share and lift as exact rationals. No data-sized
    // rank window — the spine is domain-bounded.
    q("ml_gain_lift_chart",
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS y,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |h AS (SELECT y, count(*) AS cnt, SUM(pos) AS pc FROM e
        |  GROUP BY 1),
        |c AS (SELECT y, SUM(cnt) OVER (ORDER BY y DESC ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS ccnt,
        |    SUM(pc) OVER (ORDER BY y DESC ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS cpos,
        |    (SELECT CAST(count(*) AS BIGINT) FROM e) AS n,
        |    (SELECT CAST(SUM(pos) AS BIGINT) FROM e) AS post FROM h),
        |dec AS (SELECT d, max(y) AS cut FROM c
        |  CROSS JOIN (SELECT unnest(range(1, 11)) AS d)
        |  WHERE ccnt * 10 >= n * d GROUP BY 1),
        |g AS (SELECT d, c.ccnt AS pop, c.cpos AS gain, c.n AS n,
        |    c.post AS post
        |  FROM dec JOIN c ON c.y = dec.cut)
        |SELECT CAST(d AS BIGINT) AS decile,
        |  CAST(pop AS BIGINT) AS n_targeted,
        |  CAST(gain AS BIGINT) AS n_positives,
        |  CAST((2000000 * gain + post) // (2 * post) AS BIGINT)
        |    / 1000000.0 AS gain_share6,
        |  CAST((2000000 * gain * n + post * pop) // (2 * post * pop)
        |    AS BIGINT) / 1000000.0 AS lift6
        |FROM g ORDER BY d""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .select(round(col("value") * 100).cast(LongType).as("y"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
      val h = e.groupBy("y").agg(count(lit(1)).as("cnt"),
        sum("pos").as("pc"))
      val tot = e.agg(count(lit(1)).cast(LongType).as("n"),
        sum("pos").cast(LongType).as("post"))
      val cw = Window.orderBy(col("y").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = h.withColumn("ccnt", sum("cnt").over(cw))
        .withColumn("cpos", sum("pc").over(cw))
        .crossJoin(broadcast(tot))
      val dec = c.crossJoin(broadcast(
          s.range(1, 11).select(col("id").as("d"))))
        .where(col("ccnt") * 10 >= col("n") * col("d"))
        .groupBy("d").agg(max("y").as("cut"))
      dec.join(c, col("cut") === col("y"))
        .select(col("d").cast(LongType).as("decile"),
          col("ccnt").cast(LongType).as("n_targeted"),
          col("cpos").cast(LongType).as("n_positives"),
          T.r6("cpos", "post").as("gain_share6"),
          T.r6("cpos * n", "post * ccnt").as("lift6"))
        .orderBy("decile")
    },

    // MASE — mean absolute scaled error of the seasonal-naive (lag-7)
    // forecast against the naive (lag-1) benchmark, the scale-free
    // forecast-accuracy standard (Hyndman & Koehler): both MAEs are
    // integer |Δ| sums on the day spine, MASE ONE rational of their
    // cross-multiplied forms. Day-spine lags only.
    q("ts_mase_naive",
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1),
        |l AS (SELECT day, x, lag(x, 1) OVER (ORDER BY day) AS l1,
        |    lag(x, 7) OVER (ORDER BY day) AS l7 FROM d),
        |m AS (SELECT
        |    SUM(CASE WHEN l7 IS NOT NULL THEN abs(x - l7) END) AS e7,
        |    CAST(SUM(CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n7,
        |    SUM(CASE WHEN l1 IS NOT NULL AND l7 IS NOT NULL
        |      THEN abs(x - l1) END) AS e1,
        |    CAST(SUM(CASE WHEN l1 IS NOT NULL AND l7 IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM l)
        |SELECT n7 AS n_scored,
        |  CAST((2000000 * e7 + n7 * 100) // (2 * n7 * 100) AS BIGINT)
        |    / 1000000.0 AS mae_seasonal6,
        |  CAST((2000000 * e1 + n1 * 100) // (2 * n1 * 100) AS BIGINT)
        |    / 1000000.0 AS mae_naive6,
        |  CAST((2000000 * CAST(e7 AS HUGEINT) * n1
        |      + CAST(e1 AS HUGEINT) * n7)
        |    // (2 * CAST(e1 AS HUGEINT) * n7) AS BIGINT) / 1000000.0
        |    AS mase6
        |FROM m""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("x"))
      val w = Window.orderBy("day")
      d.withColumn("l1", lag("x", 1).over(w))
        .withColumn("l7", lag("x", 7).over(w))
        .agg(
          sum(when(col("l7").isNotNull, abs(col("x") - col("l7"))))
            .as("e7"),
          sum(when(col("l7").isNotNull, 1L).otherwise(0L))
            .cast(LongType).as("n7"),
          sum(when(col("l1").isNotNull && col("l7").isNotNull,
            abs(col("x") - col("l1")))).as("e1"),
          sum(when(col("l1").isNotNull && col("l7").isNotNull, 1L)
            .otherwise(0L)).cast(LongType).as("n1"))
        .select(col("n7").as("n_scored"),
          T.r6("e7", "n7 * 100").as("mae_seasonal6"),
          T.r6("e1", "n1 * 100").as("mae_naive6"),
          T.r6("cast(e7 as decimal(38,0)) * n1",
            "cast(e1 as decimal(38,0)) * n7").as("mase6"))
    },

    // Hodges–Lehmann estimator of the daily revenue delta — the median
    // of all pairwise (Walsh) averages, the robust location estimate
    // behind the Wilcoxon test: Walsh sums carried ×2 (a.v + b.v —
    // integer), exact rank-selected median over the ≤(31·32/2)-pair
    // day-spine self-join (bounded by the calendar, not the data).
    q("stat_hodges_lehmann",
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1),
        |dx AS (SELECT x - lag(x) OVER (ORDER BY day) AS v, day FROM d),
        |v AS (SELECT v, row_number() OVER (ORDER BY day) AS i FROM dx
        |  WHERE v IS NOT NULL),
        |pairs AS (SELECT a.v + b.v AS w2 FROM v a JOIN v b ON a.i <= b.i),
        |rk AS (SELECT w2, row_number() OVER (ORDER BY w2) AS rn,
        |    count(*) OVER () AS n FROM pairs)
        |SELECT CAST(max(n) AS BIGINT) AS n_pairs,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN w2 END) AS BIGINT)
        |    AS hl2_cents,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN w2 END) AS BIGINT)
        |    / 200.0 AS hl_dollars
        |FROM rk""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("x"))
      val v = d.withColumn("v", col("x") - lag("x", 1)
          .over(Window.orderBy("day")))
        .where(col("v").isNotNull)
        .withColumn("i", row_number().over(Window.orderBy("day")))
        .select("v", "i")
      val pairs = v.as("a")
        .join(v.as("b"), col("a.i") <= col("b.i"))
        .select((col("a.v") + col("b.v")).as("w2"))
      val rk = pairs
        .withColumn("rn", row_number().over(Window.orderBy("w2")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
      rk.agg(max("n").cast(LongType).as("n_pairs"),
          max(when(expr("rn = (n + 1) div 2"), col("w2")))
            .cast(LongType).as("hl2_cents"))
        .select(col("n_pairs"), col("hl2_cents"),
          (col("hl2_cents").cast(DoubleType) / 200.0d).as("hl_dollars"))
    },

    // Brier score of the two-bucket purchase-probability forecast —
    // calibration-and-resolution in one number (the proper scoring rule;
    // completes the ECE/pinball evaluation trio): train-half rates
    // quantized to HALF_UP micro-integers, test-half squared errors as
    // EXACT integer sums ((pµ − y·10⁶)², order-independent), Brier ONE
    // rational over n·10¹². Hash-join on the 2-row model table.
    q("ml_brier_score",
      """WITH e AS (SELECT event_id,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
        |    CASE WHEN value > 100 THEN 1 ELSE 0 END AS f FROM events),
        |tr AS (SELECT f, SUM(y) AS sy, CAST(count(*) AS BIGINT) AS n
        |  FROM e WHERE event_id % 2 = 0 GROUP BY 1),
        |p AS (SELECT f, (2000000 * sy + n) // (2 * n) AS pmu FROM tr),
        |tst AS (SELECT CAST(count(*) AS BIGINT) AS nt,
        |    SUM(CAST(pmu - y * 1000000 AS HUGEINT)
        |      * (pmu - y * 1000000)) AS ss
        |  FROM e JOIN p ON e.f = p.f WHERE event_id % 2 = 1)
        |SELECT nt AS n_test,
        |  CAST((2000000 * ss + CAST(nt AS HUGEINT) * 1000000000000)
        |    // (2 * CAST(nt AS HUGEINT) * 1000000000000) AS BIGINT)
        |    / 1000000.0 AS brier6
        |FROM tst""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .select(col("event_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("y"),
          when(col("value") > 100, 1L).otherwise(0L).as("f"))
      val p = e.filter(col("event_id") % 2 === 0)
        .groupBy("f")
        .agg(sum("y").as("sy"), count(lit(1)).cast(LongType).as("n"))
        .select(col("f"), expr("(2000000L * sy + n) div (2L * n)")
          .as("pmu"))
      e.filter(col("event_id") % 2 === 1)
        .join(broadcast(p), "f")
        .agg(count(lit(1)).cast(LongType).as("nt"),
          sum(expr("cast(pmu - y * 1000000L as decimal(38,0))" +
            " * (pmu - y * 1000000L)")).as("ss"))
        .select(col("nt").as("n_test"),
          T.r6("ss", "cast(nt as decimal(38,0)) * 1000000000000")
            .as("brier6"))
    },

    // IBAN-style mod-97 check (ISO 7064 — the checksum that catches any
    // single-digit error AND any transposition, unlike Luhn): an 18-digit
    // account string reduced by PIECEWISE modular arithmetic (7+7+4 digit
    // chunks, r ← (r·10^k + chunk) mod 97 — the standard trick since the
    // full number overflows int64 math in general), check digits = 98−r.
    // Pure integer + substr; verified against direct big-int mod.
    q("scalar_iban_mod97",
      """WITH h AS (SELECT o_orderkey,
        |    lpad(CAST(o_orderkey * 2654435761 % 1000000000000000000
        |      AS VARCHAR), 18, '0') AS ds
        |  FROM orders WHERE o_orderkey < 300),
        |st AS (SELECT o_orderkey, ds,
        |    CAST(substr(ds, 1, 7) AS BIGINT) % 97 AS r1 FROM h),
        |s2 AS (SELECT o_orderkey, ds,
        |    (r1 * 10000000 + CAST(substr(ds, 8, 7) AS BIGINT)) % 97
        |      AS r2 FROM st),
        |s3 AS (SELECT o_orderkey, ds,
        |    (r2 * 10000 + CAST(substr(ds, 15, 4) AS BIGINT)) % 97
        |      AS r3 FROM s2)
        |SELECT o_orderkey, ds, CAST(r3 AS BIGINT) AS mod97,
        |  CAST(98 - r3 AS BIGINT) AS check_digits, r3 = 1 AS valid
        |FROM s3 ORDER BY o_orderkey""") { (s, dir) =>
      T.t(s, dir, "orders").filter(col("o_orderkey") < 300)
        .withColumn("ds", lpad(expr(
          "CAST(o_orderkey * 2654435761L % 1000000000000000000L" +
            " AS STRING)"), 18, "0"))
        .withColumn("r1", expr("CAST(substr(ds, 1, 7) AS BIGINT) % 97"))
        .withColumn("r2",
          expr("(r1 * 10000000L + CAST(substr(ds, 8, 7) AS BIGINT)) % 97"))
        .withColumn("r3",
          expr("(r2 * 10000L + CAST(substr(ds, 15, 4) AS BIGINT)) % 97"))
        .select(col("o_orderkey"), col("ds"),
          col("r3").cast(LongType).as("mod97"),
          (lit(98L) - col("r3")).cast(LongType).as("check_digits"),
          (col("r3") === 1).as("valid"))
        .orderBy("o_orderkey")
    },

    // Gini coefficient of the degree distribution — hub concentration of
    // the strong co-purchase graph in one number (the inequality kit
    // applied to graph structure; pairs with graph_rich_club's φ(k)
    // ladder): the exact agg_gini_concentration construction over node
    // degrees. The node set is LIMIT-bounded by the top-2000 edge cut,
    // so the rank window input is ≤4000 rows by construction.
    q("graph_degree_gini",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |sup AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    count(*) AS sup
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |pr AS (SELECT pa, pb FROM sup ORDER BY sup DESC, pa, pb
        |  LIMIT 2000),
        |e AS (SELECT pa AS s FROM pr UNION ALL SELECT pb FROM pr),
        |deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS dg FROM e
        |  GROUP BY 1),
        |rk AS (SELECT dg, row_number() OVER (ORDER BY dg, node) AS i,
        |    count(*) OVER () AS n FROM deg),
        |g AS (SELECT CAST(max(n) AS BIGINT) AS n, SUM(dg) AS sx,
        |    SUM(CAST(i AS HUGEINT) * dg) AS six FROM rk)
        |SELECT n AS n_nodes,
        |  CAST((2000000 * (2 * six - (n + 1) * sx) + n * sx)
        |    // (2 * n * sx) AS BIGINT) / 1000000.0 AS degree_gini6
        |FROM g""") { (s, dir) =>
      val pr = GroupSeven.pairSupport(s, dir)
        .orderBy(col("sup").desc, col("pa"), col("pb")).limit(2000)
        .select("pa", "pb")
      val deg = pr.select(col("pa").as("nd"))
        .unionAll(pr.select(col("pb").as("nd")))
        .groupBy(col("nd").as("node"))
        .agg(count(lit(1)).cast(LongType).as("dg"))
      val rk = deg
        .withColumn("i", row_number().over(Window.orderBy("dg", "node")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
      rk.agg(max("n").cast(LongType).as("n"),
          sum(col("dg").cast(DecimalType(38, 0))).as("sx"),
          sum(col("i").cast(DecimalType(38, 0)) * col("dg")).as("six"))
        .select(col("n").as("n_nodes"),
          T.r6("2L * six - (n + 1L) * sx", "n * sx").as("degree_gini6"))
    },

    // ABC×XYZ classification matrix — the supply-chain planning grid
    // (revenue importance × demand variability): ABC by the Pareto key's
    // brand-keyed cumulative cut, XYZ by the quantity coefficient of
    // variation decided ENTIRELY by integer cross-multiplication
    // (CV² ≤ 0.04 ⟺ 25·nΣq² ≤ 26·S², CV² ≤ 0.25 ⟺ 4·nΣq² ≤ 5·S² — no
    // sqrt, no float). One agg + the brand-keyed window; 9-cell rollup.
    q("agg_abc_xyz_matrix",
      """WITH rev AS (SELECT p.p_brand AS brand, l.l_partkey AS pk,
        |    SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents,
        |    CAST(count(*) AS BIGINT) AS n,
        |    SUM(CAST(round(l.l_quantity * 100) AS BIGINT)) AS sq,
        |    SUM(CAST(round(l.l_quantity * 100) AS BIGINT)
        |      * CAST(round(l.l_quantity * 100) AS BIGINT)) AS sqq
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT brand, pk, cents, n, sq, sqq,
        |    SUM(cents) OVER (PARTITION BY brand ORDER BY cents DESC, pk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cents) OVER (PARTITION BY brand) AS tot FROM rev),
        |cls AS (SELECT
        |    CASE WHEN cum * 100 <= tot * 80 THEN 'A'
        |      WHEN cum * 100 <= tot * 95 THEN 'B' ELSE 'C' END AS abc,
        |    CASE WHEN 25 * CAST(n AS HUGEINT) * sqq
        |        <= 26 * CAST(sq AS HUGEINT) * sq THEN 'X'
        |      WHEN 4 * CAST(n AS HUGEINT) * sqq
        |        <= 5 * CAST(sq AS HUGEINT) * sq THEN 'Y'
        |      ELSE 'Z' END AS xyz
        |  FROM rk)
        |SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts
        |FROM cls GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      val qc = round(col("l_quantity") * 100).cast(LongType)
      // r16 optimization (guide §2.3 — aggregate before you widen): the
      // fact stream aggregates by l_partkey FIRST (one long key instead
      // of (brand, pk), partial agg unchanged), and the broadcast join
      // attaches p_brand to the part-level result — 30× fewer join rows,
      // identical groups because p_partkey → p_brand is functional.
      val rev = T.t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(round(col("l_extendedprice") * 100).cast(LongType))
            .as("cents"),
          count(lit(1)).cast(LongType).as("n"),
          sum(qc).as("sq"), sum(qc * qc).as("sqq"))
        .join(broadcast(T.t(s, dir, "part")
          .select(col("p_partkey").as("pk"), col("p_brand").as("brand"))),
          "pk")
      val wcum = Window.partitionBy("brand")
        .orderBy(col("cents").desc, col("pk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("cum", sum("cents").over(wcum))
        .withColumn("tot", sum("cents").over(Window.partitionBy("brand")))
        .select(
          when(col("cum") * 100 <= col("tot") * 80, "A")
            .when(col("cum") * 100 <= col("tot") * 95, "B")
            .otherwise("C").as("abc"),
          when(expr("25 * cast(n as decimal(38,0)) * sqq" +
            " <= 26 * cast(sq as decimal(38,0)) * sq"), "X")
            .when(expr("4 * cast(n as decimal(38,0)) * sqq" +
              " <= 5 * cast(sq as decimal(38,0)) * sq"), "Y")
            .otherwise("Z").as("xyz"))
        .groupBy("abc", "xyz")
        .agg(count(lit(1)).cast(LongType).as("n_parts"))
        .orderBy("abc", "xyz")
    },

    // Semantic-version scalar kit — parse MAJOR.MINOR.PATCH, build the
    // total-order sort key (maj·10⁶ + min·10³ + pat — the comparison
    // every dependency resolver runs), and classify stability. Versions
    // derive deterministically from order keys; pure split/cast
    // projection, no UDF.
    q("scalar_semver_funcs",
      """WITH v AS (SELECT o_orderkey,
        |    CAST(o_orderkey % 5 AS VARCHAR) || '.'
        |      || CAST(o_orderkey % 12 AS VARCHAR) || '.'
        |      || CAST(o_orderkey % 20 AS VARCHAR) AS ver
        |  FROM orders WHERE o_orderkey < 300),
        |p AS (SELECT o_orderkey, ver,
        |    CAST(string_split(ver, '.')[1] AS BIGINT) AS maj,
        |    CAST(string_split(ver, '.')[2] AS BIGINT) AS mnr,
        |    CAST(string_split(ver, '.')[3] AS BIGINT) AS pat FROM v)
        |SELECT o_orderkey, ver,
        |  CAST(maj * 1000000 + mnr * 1000 + pat AS BIGINT) AS ord_key,
        |  maj >= 1 AS is_stable
        |FROM p ORDER BY o_orderkey""") { (s, dir) =>
      T.t(s, dir, "orders").filter(col("o_orderkey") < 300)
        .withColumn("ver", concat(
          (col("o_orderkey") % 5).cast(StringType), lit("."),
          (col("o_orderkey") % 12).cast(StringType), lit("."),
          (col("o_orderkey") % 20).cast(StringType)))
        .withColumn("maj",
          expr("CAST(element_at(split(ver, '\\\\.'), 1) AS BIGINT)"))
        .withColumn("mnr",
          expr("CAST(element_at(split(ver, '\\\\.'), 2) AS BIGINT)"))
        .withColumn("pat",
          expr("CAST(element_at(split(ver, '\\\\.'), 3) AS BIGINT)"))
        .select(col("o_orderkey"), col("ver"),
          (col("maj") * 1000000 + col("mnr") * 1000 + col("pat"))
            .cast(LongType).as("ord_key"),
          (col("maj") >= 1).as("is_stable"))
        .orderBy("o_orderkey")
    },

    // Mann–Whitney U as AUC — the rank-sum/AUC identity (U/(n₁n₀) IS
    // the probability a random positive outscores a random negative,
    // ties half-credited): U carried ×2 integral via the cumulative
    // negatives-below spine (2·negBelow + ties), AUC ONE rational over
    // 2n₁n₀. The spec audits it against an independent pairwise
    // recount — the cross-op identity check on the board's rank
    // machinery. Domain-bounded spine only.
    q("stat_u_auc_identity",
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS y,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |v AS (SELECT y, count(*) AS cnt, SUM(pos) AS pc FROM e
        |  GROUP BY 1),
        |c AS (SELECT y, cnt, pc, cnt - pc AS nc,
        |    COALESCE(SUM(cnt - pc) OVER (ORDER BY y ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS negBelow
        |  FROM v),
        |u AS (SELECT SUM(pc * (2 * negBelow + nc)) AS u2,
        |    (SELECT SUM(pos) FROM e) AS n1,
        |    (SELECT CAST(count(*) AS BIGINT) - SUM(pos) FROM e) AS n0
        |  FROM c)
        |SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
        |  CAST((2000000 * u2 + 2 * n1 * n0) // (2 * 2 * n1 * n0)
        |    AS BIGINT) / 1000000.0 AS auc_u6
        |FROM u""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(round(col("value") * 100).cast(LongType).as("y"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
      val v = e.groupBy("y").agg(count(lit(1)).as("cnt"),
        sum("pos").as("pc"))
      val tot = e.agg(sum("pos").cast(LongType).as("n1"),
        (count(lit(1)) - sum("pos")).cast(LongType).as("n0"))
      val c = v.withColumn("negBelow",
        coalesce(sum(col("cnt") - col("pc")).over(Window.orderBy("y")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      c.agg(sum(col("pc") * (col("negBelow") * 2 + col("cnt")
          - col("pc"))).as("u2"))
        .crossJoin(broadcast(tot))
        .select(col("n1").as("n_pos"), col("n0").as("n_neg"),
          T.r6("u2", "2 * n1 * n0").as("auc_u6"))
    },

    // Price/volume growth bridge per brand (the FP&A revenue
    // decomposition: how much of ΔR is price, how much is volume):
    // Laspeyres-style split pe = (R₂Q₁ − R₁Q₂)/Q₁, ve = (Q₂−Q₁)·R₁/Q₁ —
    // chosen so pe + ve = ΔR EXACTLY (a rational identity, spec-pinned);
    // both effects are single signed rationals over Q₁ in
    // HUGEINT/DECIMAL(38,0). One conditional agg between two shipment
    // years; brands missing a year are excluded (documented).
    q("agg_growth_price_volume_bridge",
      """WITH li AS (SELECT p.p_brand AS brand,
        |    date_part('year', l.l_shipdate) AS yr,
        |    CAST(round(l.l_extendedprice * 100) AS BIGINT) AS rc,
        |    CAST(round(l.l_quantity * 100) AS BIGINT) AS qc
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE date_part('year', l.l_shipdate) IN (1995, 1996)),
        |g AS (SELECT brand,
        |    SUM(CASE WHEN yr = 1995 THEN rc ELSE 0 END) AS r1,
        |    SUM(CASE WHEN yr = 1995 THEN qc ELSE 0 END) AS q1,
        |    SUM(CASE WHEN yr = 1996 THEN rc ELSE 0 END) AS r2,
        |    SUM(CASE WHEN yr = 1996 THEN qc ELSE 0 END) AS q2
        |  FROM li GROUP BY 1
        |  HAVING SUM(CASE WHEN yr = 1995 THEN qc ELSE 0 END) > 0
        |    AND SUM(CASE WHEN yr = 1996 THEN qc ELSE 0 END) > 0)
        |SELECT brand, CAST(r1 AS BIGINT) AS r1_cents,
        |  CAST(r2 AS BIGINT) AS r2_cents,
        |  (CASE WHEN CAST(r2 AS HUGEINT) * q1 - CAST(r1 AS HUGEINT) * q2
        |      < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(CAST(r2 AS HUGEINT) * q1
        |        - CAST(r1 AS HUGEINT) * q2) + CAST(q1 AS HUGEINT) * 100)
        |      // (2 * CAST(q1 AS HUGEINT) * 100) AS BIGINT) / 1000000.0
        |    AS price_effect6,
        |  (CASE WHEN (q2 - q1) * r1 < 0 THEN -1 ELSE 1 END)
        |    * CAST((2000000 * abs(CAST(q2 - q1 AS HUGEINT) * r1)
        |        + CAST(q1 AS HUGEINT) * 100)
        |      // (2 * CAST(q1 AS HUGEINT) * 100) AS BIGINT) / 1000000.0
        |    AS volume_effect6
        |FROM g ORDER BY brand""") { (s, dir) =>
      val li = T.t(s, dir, "lineitem")
        .join(broadcast(T.t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .where(year(col("l_shipdate")).isin(1995, 1996))
        .select(col("p_brand").as("brand"),
          year(col("l_shipdate")).as("yr"),
          round(col("l_extendedprice") * 100).cast(LongType).as("rc"),
          round(col("l_quantity") * 100).cast(LongType).as("qc"))
      li.groupBy("brand")
        .agg(sum(when(col("yr") === 1995, col("rc")).otherwise(0L))
            .as("r1"),
          sum(when(col("yr") === 1995, col("qc")).otherwise(0L)).as("q1"),
          sum(when(col("yr") === 1996, col("rc")).otherwise(0L)).as("r2"),
          sum(when(col("yr") === 1996, col("qc")).otherwise(0L)).as("q2"))
        .where(col("q1") > 0 && col("q2") > 0)
        .select(col("brand"), col("r1").cast(LongType).as("r1_cents"),
          col("r2").cast(LongType).as("r2_cents"),
          T.r6s("cast(r2 as decimal(38,0)) * q1" +
            " - cast(r1 as decimal(38,0)) * q2",
            "cast(q1 as decimal(38,0)) * 100").as("price_effect6"),
          T.r6s("cast(q2 - q1 as decimal(38,0)) * r1",
            "cast(q1 as decimal(38,0)) * 100").as("volume_effect6"))
        .orderBy("brand")
    },

    // Duplicate-cluster size histogram — the shape of the dedup problem
    // (how much is pairwise vs mass-duplicated), the summary every
    // dedup_* key's planning starts from: exact-text clusters by md5,
    // bucketed 1 / 2 / 3+ with cluster and document counts. Two
    // map-side-combinable aggs.
    sqlKey("dedup_cluster_size_histogram",
      """WITH c AS (SELECT md5(text) AS h, count(*) AS sz FROM documents
        |  GROUP BY 1),
        |b AS (SELECT CASE WHEN sz = 1 THEN '1' WHEN sz = 2 THEN '2'
        |    ELSE '3+' END AS bucket,
        |    CASE WHEN sz = 1 THEN 1 WHEN sz = 2 THEN 2 ELSE 3 END AS o,
        |    sz FROM c)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(sz) AS BIGINT) AS n_docs
        |FROM b GROUP BY bucket, o ORDER BY o"""),

    // New-vs-returning daily split — the top-of-dashboard product
    // metric (acquisition vs retention mix): a user's events on their
    // first-activity day are "new", everything later "returning"; daily
    // counts + exact rational new-share. One first-day agg + one
    // user-co-partitioned join + one daily rollup.
    q("window_new_vs_returning",
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd
        |  FROM events GROUP BY 1),
        |e AS (SELECT CAST(e.ts AS DATE) AS day,
        |    CASE WHEN CAST(e.ts AS DATE) = f.fd THEN 1 ELSE 0 END
        |      AS is_new
        |  FROM events e JOIN f ON e.user_id = f.user_id)
        |SELECT day, CAST(SUM(is_new) AS BIGINT) AS new_events,
        |  CAST(SUM(1 - is_new) AS BIGINT) AS returning_events,
        |  CAST((2000000 * SUM(is_new) + count(*)) // (2 * count(*))
        |    AS BIGINT) / 1000000.0 AS new_share6
        |FROM e GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val ev = T.t(s, dir, "events")
      val f = ev.groupBy("user_id").agg(min(to_date(col("ts"))).as("fd"))
      ev.join(f, "user_id")
        .select(to_date(col("ts")).as("day"),
          when(to_date(col("ts")) === col("fd"), 1L).otherwise(0L)
            .as("is_new"))
        .groupBy("day")
        .agg(sum("is_new").cast(LongType).as("new_events"),
          sum(lit(1L) - col("is_new")).cast(LongType)
            .as("returning_events"),
          T.r6("sum(is_new)", "count(*)").as("new_share6"))
        .orderBy("day")
    },

    // Record-highs statistic of the daily revenue series — how many days
    // set a new all-time high, audited in-row against the i.i.d.
    // expectation E[records] = H_n (the harmonic number — the classic
    // records-theory result; a large excess means trend): running-max
    // window on the day spine, H_n as a floor-quantized micro-unit
    // integer sum (identical in both engines, documented quantization).
    q("ts_record_highs",
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1),
        |w AS (SELECT day, x, max(x) OVER (ORDER BY day ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM d),
        |r AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN pm IS NULL OR x > pm THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_records FROM w),
        |h AS (SELECT n, n_records,
        |    (SELECT SUM(1000000 // k) FROM
        |      (SELECT row_number() OVER (ORDER BY day) AS k FROM d) t
        |      WHERE k <= n) AS hm
        |  FROM r)
        |SELECT n AS n_days, n_records,
        |  CAST(hm AS BIGINT) / 1000000.0 AS expected_records6
        |FROM h""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("x"))
      val r = d.withColumn("pm", max("x").over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, -1)))
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum(when(col("pm").isNull || col("x") > col("pm"), 1L)
            .otherwise(0L)).cast(LongType).as("n_records"))
      // H_n spine sized from the day spine itself (one k per observed
      // day), so expected_records6 never truncates however long the
      // fixture's time span grows; calendar-bounded global window.
      val hm = d.select(row_number().over(Window.orderBy("day"))
          .cast(LongType).as("k"))
      r.crossJoin(broadcast(hm))
        .where(col("k") <= col("n"))
        .groupBy("n", "n_records")
        .agg(sum(expr("1000000L div k")).as("hm"))
        .select(col("n").as("n_days"), col("n_records"),
          (col("hm").cast(DoubleType) / 1000000.0d)
            .as("expected_records6"))
    },

    // Sign test on paired daily purchase-vs-click revenue — the
    // assumption-free paired test (no symmetry needed, unlike Wilcoxon):
    // sign counts from one spine pass, the normal-approximation z
    // = (2k−n)/√n as one sqrt+division over exact integers, 6dp.
    sqlKey("stat_sign_test",
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS p,
        |    SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS c
        |  FROM events GROUP BY 1),
        |s AS (SELECT CAST(SUM(CASE WHEN p > c THEN 1 ELSE 0 END)
        |    AS BIGINT) AS k,
        |    CAST(SUM(CASE WHEN p <> c THEN 1 ELSE 0 END) AS BIGINT) AS n
        |  FROM d)
        |SELECT n AS n_days, k AS n_purchase_higher,
        |  round((2.0 * k - n) / sqrt(CAST(n AS DOUBLE)), 6) AS sign_z6
        |FROM s"""),

    // Triangular weighted moving average (WMA-4, weights 4-3-2-1) — the
    // lag-weighted smoother between SMA (flat) and EWMA (geometric):
    // weights are INTEGER, so each point is ONE exact rational over
    // 10·100. Fixed-lag windows on the day spine; full frames only.
    q("window_wma_triangular",
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1),
        |w AS (SELECT day, x,
        |    lag(x, 1) OVER (ORDER BY day) AS x1,
        |    lag(x, 2) OVER (ORDER BY day) AS x2,
        |    lag(x, 3) OVER (ORDER BY day) AS x3 FROM d)
        |SELECT day,
        |  CAST((2000000 * (4 * x + 3 * x1 + 2 * x2 + 1 * x3) + 10 * 100)
        |    // (2 * 10 * 100) AS BIGINT) / 1000000.0 AS wma4_dollars6
        |FROM w WHERE x3 IS NOT NULL ORDER BY day""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("x"))
      val w = Window.orderBy("day")
      d.withColumn("x1", lag("x", 1).over(w))
        .withColumn("x2", lag("x", 2).over(w))
        .withColumn("x3", lag("x", 3).over(w))
        .where(col("x3").isNotNull)
        .select(col("day"),
          T.r6("4 * x + 3 * x1 + 2 * x2 + 1 * x3", "10 * 100")
            .as("wma4_dollars6"))
        .orderBy("day")
    },

    // Column-level snapshot diff — WHICH columns changed between two
    // table versions, and how much (the drill-down etl_snapshot_diff's
    // row counts can't give): v2 derives deterministically from v1
    // (priority changed on keys ≡0 mod 7, price on ≡0 mod 11), the
    // per-column change profile comes from ONE co-partitioned join with
    // conditional aggs, exact rational change rates. Cents-compare on
    // the money column (never float equality).
    q("etl_column_diff_profile",
      """WITH v2 AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'P-CHANGED'
        |      ELSE o_orderpriority END AS o_orderpriority,
        |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.0
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM orders),
        |j AS (SELECT o.o_orderkey,
        |    CASE WHEN o.o_orderpriority <> v2.o_orderpriority THEN 1
        |      ELSE 0 END AS d_pri,
        |    CASE WHEN round(o.o_totalprice * 100)
        |      <> round(v2.o_totalprice * 100) THEN 1 ELSE 0 END
        |      AS d_price,
        |    CASE WHEN o.o_orderstatus <> v2.o_orderstatus THEN 1 ELSE 0
        |      END AS d_status
        |  FROM orders o JOIN v2 ON o.o_orderkey = v2.o_orderkey),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(d_pri) AS p,
        |    SUM(d_price) AS pr, SUM(d_status) AS st FROM j)
        |SELECT col, n_changed,
        |  CAST((2000000 * n_changed + n) // (2 * n) AS BIGINT)
        |    / 1000000.0 AS change_rate6
        |FROM (SELECT 'o_orderpriority' AS col, CAST(p AS BIGINT)
        |    AS n_changed, n FROM t
        |  UNION ALL SELECT 'o_totalprice', CAST(pr AS BIGINT), n FROM t
        |  UNION ALL SELECT 'o_orderstatus', CAST(st AS BIGINT), n FROM t)
        |ORDER BY col""") { (s, dir) =>
      val o = T.t(s, dir, "orders")
      val v2 = o.select(col("o_orderkey").as("k2"),
        when(col("o_orderkey") % 7 === 0, "P-CHANGED")
          .otherwise(col("o_orderpriority")).as("pri2"),
        when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")).as("price2"),
        col("o_orderstatus").as("status2"))
      val t = o.join(v2, col("o_orderkey") === col("k2"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum(when(col("o_orderpriority") =!= col("pri2"), 1L)
            .otherwise(0L)).as("p"),
          sum(when(round(col("o_totalprice") * 100)
            =!= round(col("price2") * 100), 1L).otherwise(0L)).as("pr"),
          sum(when(col("o_orderstatus") =!= col("status2"), 1L)
            .otherwise(0L)).as("st"))
      val rows = Seq(("o_orderpriority", "p"), ("o_totalprice", "pr"),
        ("o_orderstatus", "st"))
      rows.map { case (name, c) =>
          t.select(lit(name).as("col"),
            col(c).cast(LongType).as("n_changed"),
            T.r6(c, "n").as("change_rate6"))
        }.reduce(_ unionAll _)
        .orderBy("col")
    },

    // Predicate selectivity profile — the CBO's scan-level input table
    // (observed selectivities for canonical predicates, plus one
    // conjunction to expose correlation the independence assumption
    // misses): N predicates share ONE scan via conditional aggregation
    // (the dq_check_constraints rule), exact rational selectivities.
    q("catalog_predicate_selectivity",
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    SUM(CASE WHEN l_shipdate >= DATE '1998-01-01' THEN 1 ELSE 0
        |      END) AS p1,
        |    SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS p2,
        |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS p3,
        |    SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS p4,
        |    SUM(CASE WHEN l_shipdate >= DATE '1998-01-01'
        |      AND l_discount > 0.05 THEN 1 ELSE 0 END) AS p12
        |  FROM lineitem)
        |SELECT pred, n_match,
        |  CAST((2000000 * n_match + n) // (2 * n) AS BIGINT) / 1000000.0
        |    AS selectivity6
        |FROM (SELECT 'shipdate>=1998' AS pred, CAST(p1 AS BIGINT)
        |    AS n_match, n FROM t
        |  UNION ALL SELECT 'discount>5pct', CAST(p2 AS BIGINT), n FROM t
        |  UNION ALL SELECT 'returned', CAST(p3 AS BIGINT), n FROM t
        |  UNION ALL SELECT 'qty>=25', CAST(p4 AS BIGINT), n FROM t
        |  UNION ALL SELECT 'ship1998_and_disc', CAST(p12 AS BIGINT), n
        |    FROM t)
        |ORDER BY pred""") { (s, dir) =>
      val t = T.t(s, dir, "lineitem")
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum(when(col("l_shipdate") >= lit("1998-01-01").cast("date"),
            1L).otherwise(0L)).as("p1"),
          sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("p2"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("p3"),
          sum(when(col("l_quantity") >= 25, 1L).otherwise(0L)).as("p4"),
          sum(when(col("l_shipdate") >= lit("1998-01-01").cast("date")
            && col("l_discount") > 0.05, 1L).otherwise(0L)).as("p12"))
      val rows = Seq(("shipdate>=1998", "p1"), ("discount>5pct", "p2"),
        ("returned", "p3"), ("qty>=25", "p4"),
        ("ship1998_and_disc", "p12"))
      rows.map { case (name, c) =>
          t.select(lit(name).as("pred"),
            col(c).cast(LongType).as("n_match"),
            T.r6(c, "n").as("selectivity6"))
        }.reduce(_ unionAll _)
        .orderBy("pred")
    },

    // Reciprocal-rank fusion — the hybrid-search result combiner (the
    // standard way RAG stacks merge BM25 and vector rankings): two
    // document rankings (length, vocabulary richness) fused by
    // RRF(d) = Σ 1/(60+rank), held as an INTEGER nano-unit sum
    // (10⁹ div (60+r) — floor-quantized identically in both engines) so
    // the fused top-10 compares integers. Bounded candidate set (the
    // re-rank stage's contract — fusion runs on retrieved lists, not
    // the corpus).
    q("ml_reciprocal_rank_fusion",
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS m1,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS m2
        |  FROM documents WHERE doc_id < 200),
        |r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY m1 DESC, doc_id) AS r1,
        |    row_number() OVER (ORDER BY m2 DESC, doc_id) AS r2 FROM d),
        |sc AS (SELECT doc_id, r1, r2,
        |    (1000000000 // (60 + r1)) + (1000000000 // (60 + r2))
        |      AS rrf_nano FROM r)
        |SELECT doc_id, CAST(r1 AS BIGINT) AS rank_len,
        |  CAST(r2 AS BIGINT) AS rank_vocab,
        |  CAST(rrf_nano AS BIGINT) AS rrf_nano
        |FROM sc ORDER BY rrf_nano DESC, doc_id LIMIT 10""") { (s, dir) =>
      val d = T.t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("m1"),
          size(array_distinct(split(col("text"), " "))).cast(LongType)
            .as("m2"))
      val r = d
        .withColumn("r1", row_number().over(
          Window.orderBy(col("m1").desc, col("doc_id"))))
        .withColumn("r2", row_number().over(
          Window.orderBy(col("m2").desc, col("doc_id"))))
      r.withColumn("rrf_nano",
          expr("(1000000000L div (60 + r1)) + (1000000000L div (60 + r2))"))
        .select(col("doc_id"), col("r1").cast(LongType).as("rank_len"),
          col("r2").cast(LongType).as("rank_vocab"),
          col("rrf_nano").cast(LongType).as("rrf_nano"))
        .orderBy(col("rrf_nano").desc, col("doc_id")).limit(10)
    },

    // Cohen's h effect size for the weekend-vs-weekday purchase-rate
    // gap — the arcsine-transformed proportion difference (the d of
    // proportions; pairs with stat_odds_ratio_ci's ratio view): one
    // conditional agg, the 2·asin(√p) chain over exact rationals is the
    // identical IEEE sequence in both engines, 6dp post-asin.
    q("stat_cohens_h",
      """WITH e AS (SELECT
        |    SUM(CASE WHEN event_type = 'purchase'
        |      AND date_part('dow', ts) IN (0, 6) THEN 1 ELSE 0 END)
        |      AS pw,
        |    SUM(CASE WHEN date_part('dow', ts) IN (0, 6) THEN 1 ELSE 0
        |      END) AS nw,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      AND date_part('dow', ts) NOT IN (0, 6) THEN 1 ELSE 0 END)
        |      AS pd,
        |    SUM(CASE WHEN date_part('dow', ts) NOT IN (0, 6) THEN 1
        |      ELSE 0 END) AS nd
        |  FROM events)
        |SELECT CAST(nw AS BIGINT) AS n_weekend,
        |  CAST(nd AS BIGINT) AS n_weekday,
        |  round(2 * asin(sqrt(CAST(pw AS DOUBLE) / nw))
        |    - 2 * asin(sqrt(CAST(pd AS DOUBLE) / nd)), 6) AS cohens_h6
        |FROM e""") { (s, dir) =>
      T.t(s, dir, "events")
        .select(expr("(dayofweek(ts) - 1) IN (0, 6)").as("we"),
          (col("event_type") === "purchase").as("pur"))
        .agg(sum(when(col("pur") && col("we"), 1L).otherwise(0L))
            .as("pw"),
          sum(when(col("we"), 1L).otherwise(0L)).as("nw"),
          sum(when(col("pur") && !col("we"), 1L).otherwise(0L)).as("pd"),
          sum(when(!col("we"), 1L).otherwise(0L)).as("nd"))
        .select(col("nw").cast(LongType).as("n_weekend"),
          col("nd").cast(LongType).as("n_weekday"),
          round(lit(2) * asin(sqrt(col("pw").cast(DoubleType) / col("nw")))
            - lit(2) * asin(sqrt(col("pd").cast(DoubleType) / col("nd"))),
            6).as("cohens_h6"))
    },

    // Matthews correlation coefficient — the single confusion-matrix
    // number that survives class imbalance (where accuracy and F1 both
    // mislead; completes ml_eval_confusion's metric set): integer
    // confusion counts, the (TP·TN−FP·FN)/√(Π margins) chain written
    // identically in both engines, 6dp post-sqrt. One conditional agg.
    sqlKey("ml_mcc_score",
      """WITH e AS (SELECT
        |    CASE WHEN value > 100 THEN 1 ELSE 0 END AS pred,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |c AS (SELECT
        |    SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS tp,
        |    SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS fp,
        |    SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS fn,
        |    SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS tn
        |  FROM e)
        |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
        |  round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
        |    / sqrt(CAST((tp + fp) AS DOUBLE) * (tp + fn) * (tn + fp)
        |      * (tn + fn)), 6) AS mcc6
        |FROM c"""),

    // Phone normalization to E.164 (the contact-data ingest scalar):
    // deterministic NANP-style raw numbers from customer keys,
    // normalized by stripping every non-digit and re-prefixing '+' —
    // with the length audit carried per row. Pure regexp projection
    // (DuckDB 'g' flag vs Spark global-default documented at
    // scalar_slugify).
    q("scalar_phone_normalize",
      """WITH p AS (SELECT c_custkey,
        |    '+1-' || lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0')
        |      || '-' || lpad(CAST(c_custkey * 13 % 10000000 AS VARCHAR),
        |        7, '0') AS raw
        |  FROM customer WHERE c_custkey < 200),
        |n AS (SELECT c_custkey, raw,
        |    '+' || regexp_replace(raw, '[^0-9]', '', 'g') AS e164 FROM p)
        |SELECT c_custkey, raw, e164, length(e164) = 12 AS valid_length
        |FROM n ORDER BY c_custkey""") { (s, dir) =>
      T.t(s, dir, "customer").filter(col("c_custkey") < 200)
        .withColumn("raw", concat(lit("+1-"),
          lpad(expr("CAST(c_custkey * 7 % 1000 AS STRING)"), 3, "0"),
          lit("-"),
          lpad(expr("CAST(c_custkey * 13 % 10000000 AS STRING)"), 7,
            "0")))
        .withColumn("e164",
          concat(lit("+"), regexp_replace(col("raw"), "[^0-9]", "")))
        .select(col("c_custkey"), col("raw"), col("e164"),
          (length(col("e164")) === 12).as("valid_length"))
        .orderBy("c_custkey")
    }
  )
}
