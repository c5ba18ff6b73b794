package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-R (round 6) — pipeline-scale widening: mergeable frequency
  * sketches (count-min via the portable `poly_hash`), nearest as-of
  * enrichment, CDC changelog apply, snapshot diffing, deterministic
  * surrogate keys, dyadic-kernel smoothing, BM25 relevance, and linear
  * gap interpolation.
  *
  * Determinism posture: integer arithmetic for every sketch/bucket; money
  * and `value` doubles go through exact DECIMAL(18,2) sums; float-division
  * results are rounded to 6dp before ranking/output; every query ends in a
  * total ordering.
  */
object GroupScale {

  val defs: Seq[Q] = Seq(
    // Count-min sketch heavy hitters: 4 rows × 1024 buckets, row hashes
    // from the engine-portable poly_hash (salted "tok#i"). The sketch is
    // the mergeable 100 TB shape (per-partition partial counters sum
    // exactly); the output compares the exact top-20 token counts against
    // their CMS estimates (est ≥ exact by construction, over-count only).
    q("agg_countmin_heavy_hitters",
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |salted AS (
        |  SELECT tok, i, CAST((list_reduce(
        |      list_concat([CAST(0 AS HUGEINT)],
        |        list_transform(range(length(tok || '#' || CAST(i AS VARCHAR))),
        |          j -> CAST(ascii(substr(tok || '#' || CAST(i AS VARCHAR), CAST(j+1 AS INT), 1)) AS HUGEINT))),
        |      (h, c) -> (h * 257 + c) % CAST(2305843009213693951 AS HUGEINT)
        |    ) * CAST(1181783497276652981 AS HUGEINT) + 1)
        |      % CAST(2305843009213693951 AS HUGEINT) % 1024 AS INT) AS bucket
        |  FROM toks, range(4) t(i)),
        |counters AS (SELECT i, bucket, count(*) AS c FROM salted GROUP BY 1, 2),
        |exact AS (SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY 1),
        |top AS (SELECT tok, exact_cnt FROM (
        |    SELECT *, row_number() OVER (ORDER BY exact_cnt DESC, tok) AS rn FROM exact)
        |  WHERE rn <= 20),
        |cand AS (SELECT DISTINCT tok, i, bucket FROM salted WHERE tok IN (SELECT tok FROM top))
        |SELECT t.tok AS tok, t.exact_cnt AS exact_cnt, min(c.c) AS cms_est
        |FROM top t JOIN cand ON t.tok = cand.tok
        |JOIN counters c ON cand.i = c.i AND cand.bucket = c.bucket
        |GROUP BY 1, 2 ORDER BY exact_cnt DESC, t.tok""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val toks = T.t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      val salted = toks
        .select(col("tok"), explode(array((0 until 4).map(lit): _*)).as("i"))
        .withColumn("bucket",
          (call_function("poly_hash",
            concat(col("tok"), lit("#"), col("i").cast(StringType))) % 1024)
            .cast(IntegerType))
      val counters = salted.groupBy("i", "bucket").agg(count(lit(1)).as("c"))
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      // TakeOrdered re-plan (VERDICT r6 #2): the full token vocabulary never
      // funnels through a single-partition WindowExec — orderBy+limit is a
      // parallel per-partition top-k and the heavy-hitter set is tiny.
      val top = exact.orderBy(col("exact_cnt").desc, col("tok")).limit(20)
      val cand = salted.join(broadcast(top.select("tok")), "tok").distinct()
      cand.join(broadcast(counters), Seq("i", "bucket"))
        .groupBy("tok").agg(min(col("c")).as("cms_est"))
        .join(broadcast(top), "tok")
        .select("tok", "exact_cnt", "cms_est")
        .orderBy(col("exact_cnt").desc, col("tok"))
    },

    // Nearest as-of (both directions, tie → earlier): for each purchase,
    // the temporally closest click of the same user. One window pass over
    // the per-user ordering — the backward max and forward min frames of
    // join_asof/join_asof_forward combined, then an integer-microsecond
    // distance pick. No join, no shuffle beyond user_id.
    q("join_asof_nearest",
      """WITH base AS (
        |  SELECT event_id, user_id, ts, event_type FROM events
        |  WHERE event_type IN ('purchase', 'click')),
        |w AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    max(CASE WHEN event_type = 'click' THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bts,
        |    min(CASE WHEN event_type = 'click' THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fts
        |  FROM base)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN bts IS NULL THEN fts WHEN fts IS NULL THEN bts
        |    WHEN epoch_us(ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(ts)
        |    THEN bts ELSE fts END AS nearest_ts,
        |  CASE WHEN bts IS NULL AND fts IS NULL THEN NULL
        |    WHEN bts IS NULL THEN (epoch_us(fts) - epoch_us(ts)) // 1000000
        |    WHEN fts IS NULL THEN (epoch_us(ts) - epoch_us(bts)) // 1000000
        |    WHEN epoch_us(ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(ts)
        |    THEN (epoch_us(ts) - epoch_us(bts)) // 1000000
        |    ELSE (epoch_us(fts) - epoch_us(ts)) // 1000000 END AS dist_s
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""") { (s, dir) =>
      val base = T.t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select("event_id", "user_id", "ts", "event_type")
      val order = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wB = order.rowsBetween(Window.unboundedPreceding, -1)
      val wF = order.rowsBetween(1, Window.unboundedFollowing)
      val withNbrs = base
        .withColumn("bts", max(when(col("event_type") === "click", col("ts"))).over(wB))
        .withColumn("fts", min(when(col("event_type") === "click", col("ts"))).over(wF))
        .filter(col("event_type") === "purchase")
        .withColumn("d_b", expr("unix_micros(cast(ts as timestamp)) - unix_micros(cast(bts as timestamp))"))
        .withColumn("d_f", expr("unix_micros(cast(fts as timestamp)) - unix_micros(cast(ts as timestamp))"))
      withNbrs
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("bts").isNull, col("fts"))
            .when(col("fts").isNull, col("bts"))
            .when(col("d_b") <= col("d_f"), col("bts"))
            .otherwise(col("fts")).as("nearest_ts"),
          when(col("bts").isNull && col("fts").isNull, lit(null).cast(LongType))
            .when(col("bts").isNull, expr("d_f DIV 1000000"))
            .when(col("fts").isNull, expr("d_b DIV 1000000"))
            .when(col("d_b") <= col("d_f"), expr("d_b DIV 1000000"))
            .otherwise(expr("d_f DIV 1000000")).as("dist_s"))
        .orderBy("event_id")
    },

    // CDC changelog apply: events are an ordered changelog on user_id
    // ('error' = delete, anything else = upsert with `value`); the final
    // state is the latest op per key with deleted keys dropped — the MERGE
    // half of etl_merge_upsert plus tombstone semantics. One window argmax
    // per key, shuffle on the key only.
    q("etl_cdc_apply",
      """WITH log AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        |  FROM events),
        |latest AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM log)
        |  WHERE rn = 1)
        |SELECT user_id, value AS last_value,
        |  epoch_us(ts) // 1000000 AS last_ts_s
        |FROM latest WHERE op <> 'D' ORDER BY user_id""") { (s, dir) =>
      val log = T.t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"))
      log
        .withColumn("rn", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .select(col("user_id"), col("value").as("last_value"),
          expr("unix_micros(cast(ts as timestamp)) DIV 1000000").as("last_ts_s"))
        .orderBy("user_id")
    },

    // Snapshot diff — the table-maintenance audit between two versions of
    // a keyed aggregate (per-customer revenue through 1995 vs through
    // 1996): added / removed / changed / unchanged key counts from ONE
    // full-outer join. Exact-decimal sums make the change test exact.
    sqlKey("etl_snapshot_diff",
      """WITH a AS (SELECT o_custkey AS k,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM orders WHERE year(o_orderdate) <= 1995 GROUP BY 1),
        |b AS (SELECT o_custkey AS k,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM orders WHERE year(o_orderdate) <= 1996 GROUP BY 1)
        |SELECT CASE WHEN a.v IS NULL THEN 'added'
        |    WHEN b.v IS NULL THEN 'removed'
        |    WHEN a.v <> b.v THEN 'changed' ELSE 'unchanged' END AS change_class,
        |  count(*) AS n_keys
        |FROM a FULL OUTER JOIN b ON a.k = b.k
        |GROUP BY 1 ORDER BY 1"""),

    // Deterministic surrogate key: md5 over the '|'-joined natural key —
    // the idempotent key-minting every warehouse load needs (same input ⇒
    // same key on every engine, no sequence/identity coordination at
    // 100 TB). The window count audits global uniqueness in-query.
    q("etl_surrogate_key",
      """WITH sk AS (SELECT c_custkey,
        |    md5(concat_ws('|', CAST(c_custkey AS VARCHAR), c_name)) AS sk
        |  FROM customer)
        |SELECT c_custkey, sk,
        |  count(*) OVER (PARTITION BY sk) AS dup_cnt
        |FROM sk ORDER BY c_custkey LIMIT 500""") { (s, dir) =>
      T.t(s, dir, "customer")
        .select(col("c_custkey"),
          md5(concat_ws("|", col("c_custkey").cast(StringType), col("c_name"))).as("sk"))
        .withColumn("dup_cnt", count(lit(1)).over(Window.partitionBy("sk")))
        .orderBy("c_custkey")
        .limit(500)
    },

    // Dyadic-kernel smoothing (EWMA-shaped, 4 taps, weights 1/2 1/4 1/8
    // 1/16): every multiply scales by a power of two (exact in IEEE754)
    // and the 4-term sum is written as one fixed left-to-right chain, so
    // the result is BIT-EXACT across engines with no rounding step at all.
    sqlKey("window_ewma_kernel",
      """SELECT event_id, user_id,
        |  value * 0.5
        |    + coalesce(lag(value, 1) OVER w, 0) * 0.25
        |    + coalesce(lag(value, 2) OVER w, 0) * 0.125
        |    + coalesce(lag(value, 3) OVER w, 0) * 0.0625 AS ewma
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id LIMIT 2000"""),

    // BM25 (k1=1.2, b=0.75) for the 2-term query {filter, join}: exact
    // integer tf/df/len feed one identically-parenthesized double formula
    // per term; the two per-term scores are added in fixed order and
    // rounded to 6dp before ranking. The explode→agg→broadcast-stats shape
    // is the standard sparse-retrieval scoring plan.
    q("text_bm25_topk",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, CAST(sum(len) AS DOUBLE) / count(*) AS avglen FROM lens),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
        |  WHERE tok IN ('filter', 'join') GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok,
        |    ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(lens.len AS DOUBLE) / stats.avglen))) AS s
        |  FROM tf JOIN df ON tf.tok = df.tok
        |  JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats),
        |agg AS (
        |  SELECT doc_id,
        |    round(coalesce(max(CASE WHEN tok = 'filter' THEN s END), 0)
        |        + coalesce(max(CASE WHEN tok = 'join' THEN s END), 0), 6) AS score
        |  FROM scored GROUP BY 1)
        |SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk
        |FROM agg QUALIFY rnk <= 15 ORDER BY rnk""") { (s, dir) =>
      val toks = T.t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val lens = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val stats = lens.agg(count(lit(1)).as("n_docs"),
        (sum("len").cast(DoubleType) / count(lit(1))).as("avglen"))
      val tf = toks.filter(col("tok").isin("filter", "join"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(df), "tok")
        .join(lens, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("s",
          log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
            * (col("tf") * 2.2)
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("len").cast(DoubleType) / col("avglen")))))
      scored.groupBy("doc_id")
        .agg(round(
          coalesce(max(when(col("tok") === "filter", col("s"))), lit(0.0))
            + coalesce(max(when(col("tok") === "join", col("s"))), lit(0.0)), 6).as("score"))
        // TakeOrdered re-plan (VERDICT r6 #2): orderBy+limit reduces the full
        // scored corpus with a parallel per-partition top-k; the rank window
        // then runs over 15 rows, not a single-partition sort of every doc.
        .orderBy(col("score").desc, col("doc_id")).limit(15)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).cast(IntegerType))
        .select("doc_id", "score", "rnk")
        .orderBy("rnk")
    },

    // Column profiling — the data-quality reconnaissance pass every new
    // 100 TB table gets: per-column row/non-null/distinct counts and
    // min/max, one aggregation per column unioned into a tall relation.
    // Values are stringified through exact types (bigint, DECIMAL(18,2))
    // so the rendering is engine-identical.
    q("dq_profile_columns",
      """SELECT 'o_custkey' AS col, count(*) AS n_rows,
        |  count(o_custkey) AS n_nonnull, count(DISTINCT o_custkey) AS n_distinct,
        |  CAST(min(o_custkey) AS VARCHAR) AS vmin, CAST(max(o_custkey) AS VARCHAR) AS vmax
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(o_orderpriority),
        |  count(DISTINCT o_orderpriority),
        |  CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(o_orderstatus),
        |  count(DISTINCT o_orderstatus),
        |  CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(o_totalprice),
        |  count(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))),
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR),
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
        |FROM orders
        |ORDER BY col""") { (s, dir) =>
      // ONE scan for all columns (the oracle's UNION spells the semantics;
      // a 100 TB profile cannot afford a scan per column): a single
      // aggregate computes every column's stats in one pass — the distinct
      // counts ride the planner's Expand lanes — and the wide row is
      // stacked to the tall (col, stats) shape with a literal-array
      // explode. PlanShapeSpec pins the single scan.
      val o = T.t(s, dir, "orders")
      val cols: Seq[(String, org.apache.spark.sql.Column)] = Seq(
        "o_custkey" -> col("o_custkey"),
        "o_orderpriority" -> col("o_orderpriority"),
        "o_orderstatus" -> col("o_orderstatus"),
        "o_totalprice" -> col("o_totalprice").cast(T.dec))
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { case (n, c) => Seq(
        count(c).as(s"nn_$n"), countDistinct(c).as(s"nd_$n"),
        min(c).cast(StringType).as(s"mn_$n"), max(c).cast(StringType).as(s"mx_$n"))
      }
      val wide = o.agg(aggs.head, aggs.tail: _*)
      wide.select(col("n_rows"), explode(array(cols.map { case (n, _) =>
          struct(lit(n).as("col"), col(s"nn_$n").as("n_nonnull"),
            col(s"nd_$n").as("n_distinct"), col(s"mn_$n").as("vmin"),
            col(s"mx_$n").as("vmax"))
        }: _*)).as("p"))
        .select(col("p.col").as("col"), col("n_rows"), col("p.n_nonnull"),
          col("p.n_distinct"), col("p.vmin"), col("p.vmax"))
        .orderBy("col")
    },

    // Event-path analysis: each user's full ordered event-type path (the
    // product-analytics "user journey" relation) plus a conversion flag.
    // Order inside the path is pinned by sorting (ts, event_id, type)
    // structs — deterministic under any partitioning; DuckDB's ordered
    // string_agg is the same sequence.
    q("window_pattern_path",
      """SELECT user_id,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
        |  CAST(contains(string_agg(event_type, '>' ORDER BY ts, event_id),
        |    'click>purchase') AS INT) AS converted
        |FROM events GROUP BY user_id ORDER BY user_id LIMIT 500""") { (s, dir) =>
      T.t(s, dir, "events")
        .groupBy("user_id")
        .agg(concat_ws(">",
          transform(
            sort_array(collect_list(struct(col("ts"), col("event_id"),
              col("event_type").as("et")))),
            x => x.getField("et"))).as("path"))
        .withColumn("converted",
          col("path").contains("click>purchase").cast(IntegerType))
        .orderBy("user_id")
        .limit(500)
    },

    // Deterministic argmax (max_by / arg_max): the most expensive order
    // per status. Ties are impossible by construction — the ordering value
    // packs exact cents with the unique key (cents·10⁶ + key, < 2⁶³).
    q("agg_argmax_by",
      """SELECT o_orderstatus,
        |  arg_max(o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 1000000
        |      + o_orderkey) AS top_orderkey,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS top_price
        |FROM orders GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      T.t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          max_by(col("o_orderkey"),
            (col("o_totalprice").cast(T.dec) * 100).cast(LongType) * 1000000L
              + col("o_orderkey")).as("top_orderkey"),
          max(col("o_totalprice").cast(T.dec)).cast(DoubleType).as("top_price"))
        .orderBy("o_orderstatus")
    },

    // Several DISTINCT aggregates in one GROUP BY — the planner's Expand
    // path (each distinct column fans the input into its own group-set
    // lane, partial-aggregated map-side before one shuffle).
    sqlKey("agg_multi_distinct",
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_cust,
        |  count(DISTINCT o_orderpriority) AS n_prio,
        |  count(DISTINCT year(o_orderdate)) AS n_years,
        |  count(*) AS n_rows
        |FROM orders GROUP BY 1 ORDER BY 1"""),

    // Deterministic per-group "reservoir": a uniform-looking k-sample per
    // group whose membership is a pure function of the data — rank by
    // md5(key) inside each group, keep k. Same sample on every engine,
    // every run, every partitioning (real reservoir sampling is
    // order-dependent and unreproducible across engines).
    q("etl_sample_reservoir_group",
      """SELECT o_orderpriority, o_orderkey, rk FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS INT) AS rk
        |  FROM orders)
        |WHERE rk <= 5 ORDER BY o_orderpriority, rk""") { (s, dir) =>
      T.t(s, dir, "orders")
        .withColumn("rk", row_number().over(
          Window.partitionBy("o_orderpriority")
            .orderBy(md5(col("o_orderkey").cast(StringType)), col("o_orderkey")))
          .cast(IntegerType))
        .filter(col("rk") <= 5)
        .select("o_orderpriority", "o_orderkey", "rk")
        .orderBy("o_orderpriority", "rk")
    },

    // Daily resample + LINEAR interpolation per user (etl_gap_fill_spine
    // fills with a constant; this fills with the line between the
    // surrounding observations — the time-series feature-prep primitive).
    // Observed days use the exact decimal mean; interpolated days are one
    // identically-written double expression, rounded to 6dp.
    q("ts_resample_interpolate",
      """WITH spine AS (
        |  SELECT u.user_id, CAST(unnest(generate_series(
        |      DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT DISTINCT user_id FROM events WHERE user_id % 50 = 0) u),
        |daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS v
        |  FROM events WHERE user_id % 50 = 0 GROUP BY 1, 2),
        |j AS (SELECT spine.user_id, spine.day, daily.v
        |  FROM spine LEFT JOIN daily USING (user_id, day)),
        |w AS (
        |  SELECT user_id, day, v,
        |    last_value(v IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wb AS pd,
        |    first_value(v IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wf AS nd
        |  FROM j
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |    WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
        |    ELSE pv + (nv - pv) * (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
        |  END, 6) AS v_filled
        |FROM w ORDER BY user_id, day""") { (s, dir) =>
      val ev = T.t(s, dir, "events").filter(col("user_id") % 50 === 0)
      val spine = ev.select("user_id").distinct()
        .select(col("user_id"), explode(expr(
          "sequence(date'2024-01-01', date'2024-01-30', interval 1 day)")).as("day"))
      val daily = ev
        .groupBy(col("user_id"), col("ts").cast(DateType).as("day"))
        .agg(T.davg(col("value")).as("v"))
      val order = Window.partitionBy("user_id").orderBy("day")
      val wb = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wb))
        .withColumn("pd", last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wb))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wf))
        .withColumn("nd", first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wf))
        .select(col("user_id"), col("day"),
          round(
            when(col("v").isNotNull, col("v"))
              .when(col("pv").isNull, col("nv"))
              .when(col("nv").isNull, col("pv"))
              .otherwise(col("pv") + (col("nv") - col("pv"))
                * (datediff(col("day"), col("pd")).cast(DoubleType)
                  / datediff(col("nd"), col("pd")).cast(DoubleType))), 6)
            .as("v_filled"))
        .orderBy("user_id", "day")
    }
  )
}
