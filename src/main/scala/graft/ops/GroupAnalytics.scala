package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import graft.api.Pipelines
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-Q (round 5) — analytics widening: multiset set ops, exact
  * second-moment statistics (corr/covar), fixed-width histograms,
  * bitmap-index distinct counting, hash/interval scalar surfaces, a
  * time-interval window frame, join-strategy hints, and int8-quantized
  * vector search.
  *
  * Determinism posture matches the §2 preamble: exact decimal power sums
  * feed any double arithmetic (same IEEE op sequence both engines), integer
  * math everywhere a bucket/bitmap/quantizer is computed, and every output
  * ends in a total ordering.
  */
object GroupAnalytics {

  val defs: Seq[Q] = Seq(
    // Multiset semantics the bag-algebra needs beyond §2-F's set forms:
    // INTERSECT ALL keeps min(multiplicity) per value, EXCEPT ALL subtracts
    // multiplicities. One shuffle on the value in both engines.
    sqlKey("setop_intersect_all",
      """SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT ALL
        |SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_orderpriority"""),

    sqlKey("setop_except_all",
      """SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT ALL
        |SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_orderpriority"""),

    // Exact sample covariance + Pearson correlation from decimal power sums
    // (same construction as agg_variance_exact): covar/corr built-ins use a
    // streaming co-moment update whose order is engine- and partition-
    // dependent; the power-sum formula is one map-side-combinable pass and
    // bit-stable at any partition count.
    // 6dp rounds absorb the one engine-shaded step: DuckDB's
    // decimal128→double conversion of the huge Σx² / Σxy sums is
    // double-rounded (int128→double, then ×10⁻ˢ) and can land 1 ulp
    // off Spark's correctly-rounded BigDecimal.toDouble — observed at
    // sf0.001 on corr before rounding.
    sqlKey("agg_corr_covar",
      """WITH s AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS nn,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy2
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(nn AS BIGINT) AS n,
        |  round((nn * sxy - sx * sy) / (nn * (nn - 1)), 6) AS covar_samp,
        |  round((nn * sxy - sx * sy) / (sqrt(nn * sx2 - sx * sx) * sqrt(nn * sy2 - sy * sy)), 6) AS corr
        |FROM s ORDER BY l_returnflag"""),

    // Fixed-width histogram by exact integer bucketing: prices are 2dp, so
    // cents = round(price*100) is an exact integer in both engines and the
    // bucket is integer division — no float boundary ambiguity. One
    // map-side-combinable agg; the 100 TB profile pass over any column.
    q("agg_histogram_fixed",
      """WITH b AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 2500000 AS bucket FROM orders)
        |SELECT bucket, bucket * 25000 AS lo_edge, count(*) AS cnt
        |FROM b GROUP BY 1, 2 ORDER BY bucket""") { (s, dir) =>
      T.t(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast(LongType))
        .withColumn("bucket", expr("cents DIV 2500000"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"))
        .select(col("bucket"), (col("bucket") * 25000).as("lo_edge"), col("cnt"))
        .orderBy("bucket")
    },

    // Bitmap-index distinct: the per-group distinct set packed into a
    // bit_or-merged integer bitmap (nationkey < 64). At 100 TB this is the
    // roaring-bitmap pattern — fixed-size mergeable state instead of an
    // expand+distinct shuffle; the exact countDistinct column cross-checks.
    q("agg_bitmap_distinct",
      """SELECT r_name,
        |  bit_or(1::BIGINT << n_nationkey) AS nation_bitmap,
        |  CAST(bit_count(bit_or(1::BIGINT << n_nationkey)) AS INT) AS n_nations_bm,
        |  count(DISTINCT n_nationkey) AS n_nations_exact,
        |  count(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""") { (s, dir) =>
      T.t(s, dir, "customer")
        .join(broadcast(T.t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T.t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          expr("bit_or(shiftleft(1L, n_nationkey))").as("nation_bitmap"),
          expr("bit_count(bit_or(shiftleft(1L, n_nationkey)))").as("n_nations_bm"),
          countDistinct(col("n_nationkey")).as("n_nations_exact"),
          count(lit(1)).as("n_customers"))
        .orderBy("r_name")
    },

    // Content-hash scalar surface (fingerprinting, cache keys, shard
    // routing): md5 + sha256 hex over single and composite inputs — codegen
    // built-ins, zero shuffle.
    q("scalar_hash_funcs",
      """SELECT p_partkey, md5(p_name) AS h_md5, sha256(p_name) AS h_sha256,
        |  md5(p_brand || '|' || p_type) AS h_comp
        |FROM part ORDER BY p_partkey LIMIT 300""") { (s, dir) =>
      T.t(s, dir, "part")
        .select(
          col("p_partkey"),
          md5(col("p_name").cast(BinaryType)).as("h_md5"),
          sha2(col("p_name").cast(BinaryType), 256).as("h_sha256"),
          md5(concat(col("p_brand"), lit("|"), col("p_type")).cast(BinaryType))
            .as("h_comp"))
        .orderBy("p_partkey")
        .limit(300)
    },

    // Interval arithmetic beyond scalar_date_funcs: subtraction, month
    // addition with end-of-month clamping (add_months ≡ DuckDB +INTERVAL
    // MONTH), quarter truncation, and whole-month distance expressed as
    // exact integer year/month arithmetic (months_between is fractional and
    // engine-shaded — avoided).
    sqlKey("scalar_interval_arithmetic",
      """SELECT o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus_30d,
        |  CAST(CAST(o_orderdate AS DATE) - INTERVAL 90 DAY AS DATE) AS minus_90d,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2mo,
        |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
        |  CAST((year(o_orderdate) * 12 + month(o_orderdate)) - (1995 * 12 + 1) AS INT) AS months_since
        |FROM orders ORDER BY o_orderkey LIMIT 500"""),

    // Time-interval window frame: per-user trailing 1-hour count + decimal
    // sum via RANGE on exact epoch seconds (epoch_us//1e6 ≡ unix_micros DIV
    // 1e6 — integer floor both engines; RANGE frames include ties
    // identically regardless of intra-frame row order). One shuffle on
    // user_id; per-row state is the sliding frame — the batch form of a
    // sliding stream aggregate.
    q("window_range_interval",
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(ts) // 1000000 AS sec,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events)
        |SELECT user_id, event_id, sec,
        |  count(*) OVER w AS cnt_1h,
        |  CAST(sum(v) OVER w AS DOUBLE) AS sum_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""") { (s, dir) =>
      val e = T.t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp)) DIV 1000000").as("sec"),
        col("value").cast(T.dec).as("v"))
      val w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-3600, 0)
      e.select(
          col("user_id"), col("event_id"), col("sec"),
          count(lit(1)).over(w).as("cnt_1h"),
          sum(col("v")).over(w).cast(DoubleType).as("sum_1h"))
        .orderBy("user_id", "event_id")
    },

    // Join-strategy control surface: SHUFFLE_HASH hint forces a shuffled
    // hash join — at 100 TB the right call when both sides are large but
    // one fits per-partition memory (skips SMJ's sort entirely). Result is
    // strategy-independent; the hint is what's being exercised.
    q("join_shuffle_hash_hint",
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      T.t(s, dir, "lineitem")
        .join(T.t(s, dir, "orders").hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), T.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    },

    // Int8 scalar quantization for vector search: embeddings quantized once
    // per row to round(x*127) via the tie-free floor(x*127+0.5) (floor of an
    // exact double — no round-half divergence), then ranked by exact integer
    // dot product. The 100 TB story: 4× less memory traffic than float32,
    // exact integer math ⇒ identical ranking on any engine/cluster, the
    // standard first compression step before IVF/PQ.
    q("vector_quantized_topk",
      """WITH q AS (SELECT vec_id AS q_id,
        |    list_transform(embedding, x -> CAST(floor(x * 127.0 + 0.5) AS INT)) AS qq
        |  FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS c_id,
        |    list_transform(embedding, x -> CAST(floor(x * 127.0 + 0.5) AS INT)) AS cq
        |  FROM embeddings WHERE vec_id >= 20),
        |s AS (SELECT q_id, c_id,
        |    CAST(list_sum(list_transform(generate_series(1, 64), i -> qq[i] * cq[i])) AS BIGINT) AS sim
        |  FROM q CROSS JOIN c)
        |SELECT q_id, rnk, c_id, sim FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rnk
        |  FROM s)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      def quant(c: org.apache.spark.sql.Column) =
        transform(c, x => floor(x * 127.0 + 0.5).cast(IntegerType))
      val e = T.t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), quant(col("embedding")).as("qq"))
      val cs = e.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("c_id"), quant(col("embedding")).as("cq"))
      cs.crossJoin(broadcast(qs))
        // codegen'd exact integer dot (VecDotInt) — integer accumulation is
        // associative, so the value is identical to the HOF fold it replaced
        .withColumn("sim", call_function("vec_dot_int", col("qq"), col("cq")))
        .withColumn("rnk",
          row_number().over(Window.partitionBy("q_id")
            .orderBy(col("sim").desc, col("c_id"))))
        .filter(col("rnk") <= 5)
        .select("q_id", "rnk", "c_id", "sim")
        .orderBy("q_id", "rnk")
    },

    // Bucketed interval join — the scale path for time-range joins. The
    // naive range join (stream_stream_join's batch form) is a per-user
    // nested-loop over the time condition; bucketing each side into 1-hour
    // epoch buckets (width ≥ the ±30 min interval) and replicating the
    // probe side to its 3 adjacent buckets turns it into an EQUI-join on
    // (user, bucket) + a residual |Δt| filter — hash-partitionable, AQE-
    // skew-splittable, no BNLJ. Each qualifying pair matches exactly once
    // (the click's single bucket is always within the purchase's 3).
    q("join_interval_bucketed",
      """SELECT p.event_id AS p_id, c.event_id AS c_id,
        |  epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts + INTERVAL 30 MINUTE
        |ORDER BY 1, 2""") { (s, dir) =>
      val ev = T.t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("us"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("pu"), col("us").as("pus"))
        .withColumn("bkt", explode(array(
          expr("pus DIV 3600000000 - 1"),
          expr("pus DIV 3600000000"),
          expr("pus DIV 3600000000 + 1"))))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("cu"), col("us").as("cus"))
        .withColumn("cbkt", expr("cus DIV 3600000000"))
      p.join(c, col("pu") === col("cu") && col("bkt") === col("cbkt") &&
          abs(col("cus") - col("pus")) <= 1800000000L)
        .select(col("p_id"), col("c_id"), (col("cus") - col("pus")).as("gap_us"))
        .orderBy("p_id", "c_id")
    },

    // End-to-end dedup pipeline audit — the funnel a training-data build
    // reports per source: raw docs → exact dedup (keep min doc_id per
    // identical text) → near-dup removal (drop the larger id of every
    // exact-Jaccard ≥ 0.8 survivor pair). Reuses the staged shingle
    // inverted index; the removal rule is deterministic and
    // order-independent (any doc that is the larger end of ANY qualifying
    // pair is dropped).
    q("dedup_pipeline_audit",
      """WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |dd AS (SELECT doc_id, string_split(text,' ') AS arr FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(arr)-2), i -> arr[i+1]||' '||arr[i+2]||' '||arr[i+3])) AS sh
        |  FROM dd),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) BETWEEN 2 AND 10000),
        |common AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN keep ON a.sh = keep.sh
        |  JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pairs AS (SELECT ia, ib
        |  FROM common JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
        |  WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.8),
        |removed AS (SELECT DISTINCT ib AS doc_id FROM pairs
        |  WHERE ia IN (SELECT doc_id FROM surv) AND ib IN (SELECT doc_id FROM surv))
        |SELECT source, count(*) AS n_raw,
        |  count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM surv)) AS n_exact,
        |  count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM surv)
        |    AND doc_id NOT IN (SELECT doc_id FROM removed)) AS n_final
        |FROM documents GROUP BY source ORDER BY source""") { (s, dir) =>
      val docs = T.t(s, dir, "documents").select("doc_id", "source")
      val surv = T.t(s, dir, "documents")
        .groupBy("text").agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val pairs = GroupPipeline.exactJaccardPairs(s, dir, 0.8).select("ia", "ib")
      val removed = pairs
        .join(surv.select(col("doc_id").as("ia")), Seq("ia"))
        .join(surv.select(col("doc_id").as("ib")), Seq("ib"))
        .select(col("ib").as("doc_id")).distinct()
      docs
        .join(surv.withColumn("in_surv", lit(1)), Seq("doc_id"), "left")
        .join(removed.withColumn("in_rm", lit(1)), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_raw"),
          count_if(col("in_surv").isNotNull).as("n_exact"),
          count_if(col("in_surv").isNotNull && col("in_rm").isNull).as("n_final"))
        .orderBy("source")
    },

    // Two unrolled Lloyd (k-means) iterations — the distributed ML-training
    // primitive: assign = broadcast-centroids argmin-L2 (as argmax of
    // dot − ½|c|², 6dp-rounded, cid tie-break), update = per-(cluster, dim)
    // mean. Cross-engine determinism: element values are quantized to exact
    // DECIMAL(11,7) before averaging (decimal sum / count = one IEEE
    // division of identical operands), and every dot product folds in list
    // order. At 100 TB each iteration is one broadcast join + one
    // map-side-combinable agg of k×64 cells — no driver-side data motion.
    q("ml_kmeans_lloyd",
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |init AS (SELECT CAST(vec_id AS INT) AS cid, e AS c FROM v WHERE vec_id < 8),
        |s1 AS (SELECT vec_id, cid,
        |    round(list_dot_product(e, c) - 0.5 * list_dot_product(c, c), 6) AS score
        |  FROM v CROSS JOIN init),
        |a1 AS (SELECT vec_id, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn FROM s1)
        |  WHERE rn = 1),
        |elem AS (SELECT a1.cid, g.pos, CAST(round(v.e[g.pos], 7) AS DECIMAL(11,7)) AS xq
        |  FROM a1 JOIN v USING (vec_id) CROSS JOIN generate_series(1, 64) AS g(pos)),
        |m AS (SELECT cid, pos, CAST(SUM(xq) AS DOUBLE) / count(*) AS m FROM elem GROUP BY 1, 2),
        |c2 AS (SELECT cid, array_agg(m ORDER BY pos) AS c FROM m GROUP BY cid),
        |s2 AS (SELECT vec_id, cid,
        |    round(list_dot_product(e, c) - 0.5 * list_dot_product(c, c), 6) AS score
        |  FROM v CROSS JOIN c2),
        |a2 AS (SELECT vec_id, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn FROM s2)
        |  WHERE rn = 1)
        |SELECT a2.cid, count(*) AS n, round(c2.c[1], 6) AS c0, round(c2.c[2], 6) AS c1
        |FROM a2 JOIN c2 ON a2.cid = c2.cid GROUP BY 1, 3, 4 ORDER BY 1""") { (s, dir) =>
      // codegen'd dot (VecDot, generalized round 5 to double arrays so the
      // derived centroids stay on the codegen path — the HOF fold was ~2×
      // the whole query's steady-state cost); accumulation order identical
      // to the sequential fold and DuckDB's list_dot_product
      graft.functions.GraftFunctions.register(s)
      def ddot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        call_function("vec_dot", a, b)
      def assign(v: org.apache.spark.sql.DataFrame, cents: org.apache.spark.sql.DataFrame) =
        v.crossJoin(broadcast(cents))
          .withColumn("score",
            round(ddot(col("e"), col("c")) - lit(0.5) * ddot(col("c"), col("c")), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("score").desc, col("cid"))))
          .filter(col("rn") === 1).select("vec_id", "cid")
      val v = T.t(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("e"))
      val init = v.filter(col("vec_id") < 8)
        .select(col("vec_id").cast(IntegerType).as("cid"), col("e").as("c"))
      val a1 = assign(v, init)
      val elem = a1.join(v, "vec_id")
        .select(col("cid"), posexplode(col("e")).as(Seq("pos", "x")))
        .withColumn("xq", round(col("x").cast(DoubleType), 7).cast(DecimalType(11, 7)))
      val m = elem.groupBy("cid", "pos")
        .agg((sum(col("xq")).cast(DoubleType) / count(lit(1))).as("m"))
      val c2 = m.groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), p -> p.m)").as("c"))
      val a2 = assign(v, c2)
      a2.groupBy("cid").agg(count(lit(1)).as("n"))
        .join(c2, "cid")
        .select(col("cid"), col("n"),
          round(element_at(col("c"), 1), 6).as("c0"),
          round(element_at(col("c"), 2), 6).as("c1"))
        .orderBy("cid")
    },

    // Blocked fuzzy join — entity-resolution surface: edit-distance pairs
    // computed ONLY within (brand, size) blocks, never all-pairs. Blocking
    // turns O(n²) levenshtein evals into O(Σ block²); at 100 TB the block
    // key is the shuffle key and the quadratic stays inside each block.
    // levenshtein is the classic DP distance in both engines.
    sqlKey("text_fuzzy_blocked_join",
      """WITH p AS (SELECT p_partkey, p_name, p_brand, p_size FROM part),
        |pairs AS (SELECT a.p_brand AS brand,
        |    levenshtein(a.p_name, b.p_name) AS lev
        |  FROM p a JOIN p b
        |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |   AND a.p_partkey < b.p_partkey)
        |SELECT brand, count(*) AS n_pairs,
        |  count(*) FILTER (WHERE lev <= 6) AS n_near,
        |  CAST(min(lev) AS INT) AS min_lev
        |FROM pairs GROUP BY brand ORDER BY brand"""),

    // Funnel analysis — per-user ordered stage progression (view → later
    // click → later purchase), the product-analytics sequence-match shape.
    // Three co-partitioned aggregations on user_id; strict ts ordering
    // makes stage advancement deterministic at microsecond resolution.
    sqlKey("window_funnel_stages",
      """WITH u AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS tv
        |  FROM events GROUP BY 1),
        |c AS (SELECT e.user_id, min(ts) AS tc FROM events e JOIN u USING (user_id)
        |  WHERE event_type = 'click' AND ts > tv GROUP BY 1),
        |p AS (SELECT e.user_id, min(ts) AS tp FROM events e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > tc GROUP BY 1)
        |SELECT stage, count(*) AS n_users FROM (
        |  SELECT u.user_id,
        |    CASE WHEN tp IS NOT NULL THEN 3 WHEN tc IS NOT NULL THEN 2
        |         WHEN tv IS NOT NULL THEN 1 ELSE 0 END AS stage
        |  FROM u LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id))
        |GROUP BY 1 ORDER BY 1"""),

    // Running DISTINCT count per user — the streaming distinct-state shape
    // in batch: flag each (user, event_type)'s first occurrence with one
    // window pass, running-sum the flags with a second. Both windows hash
    // on user-prefixed keys; per-user state is the distinct set (bounded by
    // the 5-value type domain).
    sqlKey("window_running_distinct",
      """WITH f AS (SELECT user_id, event_id, ts,
        |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
        |  FROM events)
        |SELECT user_id, event_id,
        |  CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS run_distinct
        |FROM f ORDER BY user_id, event_id"""),

    // Dynamic partition pruning: the fact side is the partitioned staging
    // table (shared with sink_partitioned_write), the dim side's filter is
    // only known at runtime — Catalyst injects a dynamicpruning subquery
    // into the fact's PartitionFilters, so the pruned partition's files are
    // never opened. THE mechanism that makes dim-filtered queries on a
    // partitioned 100 TB fact read only matching partitions.
    q("join_dpp_partition_pruned",
      """WITH d AS (SELECT o_orderstatus AS st,
        |    row_number() OVER (ORDER BY count(*), o_orderstatus) AS rn
        |  FROM orders GROUP BY 1)
        |SELECT o.o_orderstatus, count(*) AS cnt,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders o JOIN d ON o.o_orderstatus = d.st AND d.rn = 1
        |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val stagedDir = T.staged("part", dir) { o =>
        T.t(s, dir, "orders").write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(o) }
      val fact = T.parquet(s, stagedDir)
      // the qualifying partition (the least-frequent status, count-then-
      // status tie-break) is only knowable at runtime — a static filter
      // cannot express it, so the fact scan's PartitionFilters must carry a
      // dynamicpruning subquery fed by the dim's broadcast
      val dim = T.t(s, dir, "orders")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("cnt"), col("o_orderstatus"))))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus").as("st"))
      fact.join(broadcast(dim), col("o_orderstatus") === col("st"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), T.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    },

    // Bloom prefilter ahead of an exact semi-join via Catalyst's OWN
    // runtime-filter machinery (InjectRuntimeFilter): a `bloom_filter_agg`
    // subquery builds the filter over the build side's keys at EXECUTION
    // time and a codegen'd `might_contain` lands right above the probe
    // scan, discarding ~99% of the fact before its exchange. Round 6
    // rewrite: the previous hand pattern ran an eager `.stat.bloomFilter`
    // Spark job at DataFrame-construction time and probed through a
    // closure UDF opaque to Catalyst. Confs are scoped to a child session
    // (newSession shares the context, isolates SQLConf): the app-side size
    // threshold must drop to 0 at fixture scale, and the semi-join must be
    // a shuffle join for the rule to fire — which is exactly its 100 TB
    // shape (a 100 TB probe side never broadcasts its build anyway).
    // PlanShapeSpec pins bloom_filter_agg + might_contain in the plan.
    q("join_bloom_prefilter",
      """SELECT l.l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
        |  AND o.o_orderpriority = '1-URGENT' AND year(o.o_orderdate) = 1995)
        |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val sc = s.newSession()
      sc.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      sc.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      sc.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      sc.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val urgent = T.t(sc, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          year(col("o_orderdate")) === 1995)
        .select("o_orderkey")
      T.t(sc, dir, "lineitem")
        .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"), T.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_orderkey")
    },

    // Small-file compaction — the 100 TB table-maintenance primitive: a
    // fragmented landing zone (64 files here) is rewritten at a target file
    // count (4) and the audit proves row/value preservation. The oracle can
    // only see the invariant (counts/sums equal the source); CompactionSpec
    // asserts the file counts actually shrank.
    q("etl_compact_small_files",
      """SELECT count(*) AS n_rows, count(*) AS n_rows_compacted,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price_compacted
        |FROM orders""") { (s, dir) =>
      val frag = T.staged("frag", dir) { o =>
        T.t(s, dir, "orders").repartition(64).write.mode("overwrite").parquet(o) }
      val compact = T.staged("compact", dir) { o =>
        T.parquet(s, frag).repartition(4).write.mode("overwrite").parquet(o) }
      val before = T.parquet(s, frag)
        .agg(count(lit(1)).as("n_rows"), T.dsum(col("o_totalprice")).as("sum_price"))
      val after = T.parquet(s, compact)
        .agg(count(lit(1)).as("n_rows_compacted"),
          T.dsum(col("o_totalprice")).as("sum_price_compacted"))
      before.crossJoin(after)
        .select("n_rows", "n_rows_compacted", "sum_price", "sum_price_compacted")
    },

    // Token-distribution entropy per language — the corpus-statistics pass
    // of quality scoring. entropy = ln(N) − (Σ c·ln c)/N; the double sum's
    // order-dependent error is ~1e-9 absolute on these corpus sizes, ≪ the
    // 6dp round (SURVEY §2 rule 2's provably-smaller-than-round case), and
    // the fixtures are fixed data so the gate is deterministic per dataset.
    q("text_ngram_entropy",
      """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |n AS (SELECT lang, CAST(SUM(c) AS DOUBLE) AS n, count(*) AS n_types FROM tf GROUP BY 1)
        |SELECT tf.lang,
        |  CAST(n.n AS BIGINT) AS n_tokens, n.n_types,
        |  round(ln(n.n) - sum(c * ln(CAST(c AS DOUBLE))) / n.n, 6) AS entropy
        |FROM tf JOIN n ON tf.lang = n.lang
        |GROUP BY tf.lang, n.n, n.n_types ORDER BY tf.lang""") { (s, dir) =>
      val tf = T.t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      val n = tf.groupBy("lang")
        .agg(sum("c").cast(DoubleType).as("n"), count(lit(1)).as("n_types"))
      tf.join(n, "lang")
        .groupBy(col("lang"), col("n"), col("n_types"))
        .agg(round(log(col("n")) - sum(col("c") * log(col("c").cast(DoubleType))) / col("n"), 6)
          .as("entropy"))
        .select(col("lang"), col("n").cast(LongType).as("n_tokens"),
          col("n_types"), col("entropy"))
        .orderBy("lang")
    },

    // Array set-op surface over token arrays: distinct/intersect/union
    // sizes and a deterministic first element — codegen'd array built-ins,
    // zero shuffle beyond the final sort.
    q("array_set_ops",
      """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_distinct,
        |  CAST(len(list_intersect(toks, ['the', 'a', 'of', 'and', 'to'])) AS INT) AS n_stop,
        |  list_sort(toks)[1] AS first_tok
        |FROM d ORDER BY doc_id LIMIT 500""") { (s, dir) =>
      T.t(s, dir, "documents")
        .withColumn("toks", array_distinct(split(col("text"), " ")))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_distinct"),
          size(array_intersect(col("toks"),
            array(lit("the"), lit("a"), lit("of"), lit("and"), lit("to")))).as("n_stop"),
          element_at(array_sort(col("toks")), 1).as("first_tok"))
        .orderBy("doc_id")
        .limit(500)
    },

    // Z-order (Morton) interleave of two low-cardinality dimensions — the
    // multi-dimensional clustering key behind data-skipping layouts: sort
    // 100 TB by zval at write time and min/max file stats prune BOTH
    // dimensions. Pure integer bit math (8 bits per dim), identical in both
    // engines; the query audits locality per zval block (each 64-wide block
    // covers a tight x/y rectangle).
    q("etl_zorder_layout",
      """WITH b AS (SELECT
        |    CAST(o_custkey & 255 AS BIGINT) AS x,
        |    CAST((CAST(round(o_totalprice * 100) AS BIGINT) // 2500000) & 255 AS BIGINT) AS y
        |  FROM orders),
        |z AS (SELECT x, y,
        |    (((x >> 0) & 1) << 0) + (((y >> 0) & 1) << 1) +
        |    (((x >> 1) & 1) << 2) + (((y >> 1) & 1) << 3) +
        |    (((x >> 2) & 1) << 4) + (((y >> 2) & 1) << 5) +
        |    (((x >> 3) & 1) << 6) + (((y >> 3) & 1) << 7) +
        |    (((x >> 4) & 1) << 8) + (((y >> 4) & 1) << 9) +
        |    (((x >> 5) & 1) << 10) + (((y >> 5) & 1) << 11) +
        |    (((x >> 6) & 1) << 12) + (((y >> 6) & 1) << 13) +
        |    (((x >> 7) & 1) << 14) + (((y >> 7) & 1) << 15) AS zval
        |  FROM b)
        |SELECT zval // 64 AS zblock, count(*) AS cnt,
        |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
        |FROM z GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val b = T.t(s, dir, "orders").select(
        col("o_custkey").bitwiseAND(lit(255L)).as("x"),
        expr("cast(round(o_totalprice * 100) as bigint) DIV 2500000")
          .bitwiseAND(lit(255L)).as("y"))
      b.withColumn("zval", Pipelines.zorderKey(col("x"), col("y"), 8))
        .withColumn("zblock", expr("zval DIV 64"))
        .groupBy("zblock")
        .agg(count(lit(1)).as("cnt"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("zblock")
    },

    // Gaps-and-islands: longest consecutive-active-day streak per user.
    // day − row_number collapses each consecutive run to a constant group
    // key — pure integer/date arithmetic, one shuffle on user_id. The
    // classic retention/engagement query at any scale.
    sqlKey("window_streak_islands",
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (SELECT user_id, day,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM days),
        |g AS (SELECT user_id, day - CAST(rn AS INTEGER) AS grp FROM r),
        |streaks AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(max(len) AS INT) AS max_streak,
        |  count(*) AS n_streaks
        |FROM streaks GROUP BY 1 ORDER BY user_id"""),

    // Mergeable HLL sketches — the two-level distinct-count shape a 100 TB
    // rollup needs: per-partition sketches (here per status) merged with
    // hll_union_agg, NOT re-scanning the fact. Declared output follows the
    // promoted-property pattern (agg_approx_distinct_hll): exact count +
    // a within-5% flag on the merged estimate (sketch bytes are
    // engine-specific).
    q("agg_hll_sketch_merge",
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
        |  CAST(1 AS INT) AS merged_ok
        |FROM orders""") { (s, dir) =>
      val o = T.t(s, dir, "orders")
      val perStatus = o.groupBy("o_orderstatus")
        .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
      val merged = perStatus
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_custs"))
      val exact = o.agg(countDistinct(col("o_custkey")).as("exact_custs"))
      exact.crossJoin(merged)
        .select(
          col("exact_custs"),
          when(abs(col("approx_custs") - col("exact_custs")).cast(DoubleType)
            / col("exact_custs") < 0.05, 1).otherwise(0)
            .cast(IntegerType).as("merged_ok"))
    },

    // Malformed-source ingest: PERMISSIVE CSV read with a corrupt-record
    // column — the source-level half of reject handling (etl_reject_
    // quarantine is the transform-level half). The staged landing dir gets
    // two deliberately unparsable rows; good rows parse to typed columns,
    // bad rows land whole in _corrupt instead of failing the job — on a
    // 100 TB bulk load one bad file must never kill the pipeline.
    q("source_csv_malformed",
      """SELECT count(*) AS n_good, CAST(2 AS BIGINT) AS n_corrupt,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
        |FROM nation""") { (s, dir) =>
      val stage = T.staged("csvbad", dir) { o =>
        T.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
          .coalesce(1).write.mode("overwrite").csv(o)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(o, "part-zz-bad.csv"),
          "notanint,BADROW1,alsobad\nNaN,BADROW2,xx\n")
      }
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType),
        StructField("_corrupt", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(stage)
        .agg(
          count_if(col("_corrupt").isNull).as("n_good"),
          count_if(col("_corrupt").isNotNull).as("n_corrupt"),
          sum(when(col("_corrupt").isNull, col("n_nationkey"))).as("sum_key"))
    },

    // Stratified deterministic sampling: the same md5-mod rule as
    // etl_sample_hash but audited per stratum — every status contributes
    // ~10% regardless of its share, where a global bernoulli sample can
    // starve a rare stratum. Pure function of the data: same sample on any
    // cluster layout, partitioning, or engine; still a stateless scan-level
    // filter (no shuffle before the audit agg).
    q("etl_sample_stratified",
      """SELECT o_orderstatus, count(*) AS n_total,
        |  count(*) FILTER (WHERE
        |    CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0)
        |    AS n_sampled,
        |  CAST(SUM(CASE WHEN
        |    CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_sampled
        |FROM orders GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val inSample =
        conv(substring(md5(col("o_orderkey").cast(StringType)), 1, 8), 16, 10)
          .cast(LongType) % 10 === 0
      T.t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n_total"),
          count_if(inSample).as("n_sampled"),
          sum(when(inSample, col("o_totalprice").cast(T.dec))).cast(DoubleType)
            .as("sum_sampled"))
        .orderBy("o_orderstatus")
    },

    // Recursive CTE (Spark 4 WITH RECURSIVE): ancestor closure over the
    // containment hierarchy expressed DECLARATIVELY — the same SQL text a
    // DuckDB/Postgres user writes runs unchanged on Spark's iterative
    // union-loop execution (a UnionLoop node in the plan).
    // graph_transitive_closure remains the hand-tuned loop variant
    // (explicit localCheckpoint lineage control); this row is the
    // SQL-surface parity proof.
    q("recursive_cte_hierarchy",
      """WITH RECURSIVE edges AS (
        |  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS child,
        |         'n' || CAST(c_nationkey AS VARCHAR) AS parent FROM customer
        |  UNION ALL
        |  SELECT 's' || CAST(s_suppkey AS VARCHAR),
        |         'n' || CAST(s_nationkey AS VARCHAR) FROM supplier
        |  UNION ALL
        |  SELECT 'n' || CAST(n_nationkey AS VARCHAR),
        |         'r' || CAST(n_regionkey AS VARCHAR) FROM nation),
        |reach(child, ancestor, depth) AS (
        |  SELECT child, parent, 1 FROM edges
        |  UNION ALL
        |  SELECT r.child, e.parent, r.depth + 1
        |  FROM reach r JOIN edges e ON r.ancestor = e.child)
        |SELECT depth, count(*) AS n_pairs FROM reach GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      // Scale knob: Spark's recursive-CTE safety valve defaults to 1 M total
      // rows, which a ×100 fixture's 1.6 M-row anchor level exceeds on the
      // FIRST iteration (found by the r15 full-board ×100 sweep). The
      // recursion here is depth-bounded by the fixed c→n→r hierarchy (≤3
      // levels at any data scale), so rows — not depth — are the quantity
      // that grows with data; size the valve to the data, keep the default
      // if someone has already raised it.
      val lim = s.conf.get("spark.sql.cteRecursionRowLimit", "1000000").toLong
      if (lim != -1L && lim < 100000000L)
        s.conf.set("spark.sql.cteRecursionRowLimit", "100000000")
      // The oracle text is not Spark SQL (CAST AS VARCHAR), so the key
      // keeps this Spark spelling of it, bound by T.sql.
      T.sql(s, dir,
        """WITH RECURSIVE edges AS (
          |  SELECT 'c' || CAST(c_custkey AS STRING) AS child,
          |         'n' || CAST(c_nationkey AS STRING) AS parent FROM customer
          |  UNION ALL
          |  SELECT 's' || CAST(s_suppkey AS STRING),
          |         'n' || CAST(s_nationkey AS STRING) FROM supplier
          |  UNION ALL
          |  SELECT 'n' || CAST(n_nationkey AS STRING),
          |         'r' || CAST(n_regionkey AS STRING) FROM nation),
          |reach(child, ancestor, depth) AS (
          |  SELECT child, parent, 1 FROM edges
          |  UNION ALL
          |  SELECT r.child, e.parent, r.depth + 1
          |  FROM reach r JOIN edges e ON r.ancestor = e.child)
          |SELECT depth, count(*) AS n_pairs FROM reach GROUP BY 1 ORDER BY 1""".stripMargin)
    },

    // Product quantization ANN: embeddings split into 4 subvectors of 16
    // dims; each candidate's subvector is encoded as its nearest sub-
    // centroid (argmin L2 as argmax dot − ½|c|², deterministic seed
    // centroids = the first 8 vectors), and query similarity is the ADC
    // approximation Σ_m dot(q_m, centroid[code_m]). The 100 TB story: a
    // 64-float vector becomes 4 bytes of codes + one small shared codebook;
    // ADC scoring is 4 table lookups per pair. Determinism: every dot folds
    // in list order, per-subspace lookup values are quantized to exact
    // DECIMAL(10,6) BEFORE the 4-term sum (decimal addition is order-
    // independent where a double sum is not), ranks tie-break on id.
    // Plan: broadcast codebook joins, a window argmin per subspace, the
    // decimal ADC sum.
    q("vector_pq_topk",
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |cents AS (SELECT CAST(c.vec_id AS INT) AS cid, t.m,
        |    c.e[(t.m*16+1):(t.m*16+16)] AS cvec
        |  FROM v c, generate_series(0, 3) t(m) WHERE c.vec_id < 8),
        |csub AS (SELECT vec_id AS c_id, t.m, e[(t.m*16+1):(t.m*16+16)] AS sub
        |  FROM v, generate_series(0, 3) t(m) WHERE vec_id >= 20),
        |enc AS (SELECT c_id, csub.m, cid,
        |    round(list_dot_product(sub, cvec) - 0.5 * list_dot_product(cvec, cvec), 6) AS score
        |  FROM csub JOIN cents ON csub.m = cents.m),
        |code AS (SELECT c_id, m, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_id, m ORDER BY score DESC, cid) AS rn
        |    FROM enc) WHERE rn = 1),
        |qsub AS (SELECT vec_id AS q_id, t.m, e[(t.m*16+1):(t.m*16+16)] AS sub
        |  FROM v, generate_series(0, 3) t(m) WHERE vec_id < 20),
        |qd AS (SELECT q_id, qsub.m, cid,
        |    CAST(round(list_dot_product(sub, cvec), 6) AS DECIMAL(10,6)) AS d
        |  FROM qsub JOIN cents ON qsub.m = cents.m),
        |sim AS (SELECT q_id, c_id, CAST(SUM(d) AS DOUBLE) AS sim
        |  FROM code JOIN qd ON code.m = qd.m AND code.cid = qd.cid GROUP BY 1, 2)
        |SELECT q_id, rnk, c_id, sim FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rnk
        |  FROM sim)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        call_function("vec_dot", a, b)
      def subs(df: org.apache.spark.sql.DataFrame, idAs: String) =
        df.select(col("vec_id").as(idAs),
          posexplode(array((0 until 4).map(m =>
            slice(col("embedding"), m * 16 + 1, 16)): _*)).as(Seq("m", "sub")))
      // The PQ index — codebook (sub-centroids) AND database codes — is a
      // persisted parquet artifact, staged once per dataset and reused by
      // every later run in the process (round 6; PqIndexSpec proves reuse).
      // At 100 TB the index IS the product: re-deriving codes per query
      // would rescan the whole corpus; queries only encode themselves
      // against the small read-back codebook.
      val idx = T.staged("pq_index", dir) { o =>
        val e0 = T.t(s, dir, "embeddings")
        val cents0 = subs(e0.filter(col("vec_id") < 8), "cid")
          .select(col("cid").cast(IntegerType).as("cid"), col("m"),
            col("sub").as("cvec"))
        cents0.write.parquet(s"$o/cents")
        val enc0 = subs(e0.filter(col("vec_id") >= 20), "c_id")
          .join(broadcast(cents0), "m")
          .withColumn("score",
            round(dot(col("sub"), col("cvec")) - lit(0.5) * dot(col("cvec"), col("cvec")), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy("c_id", "m").orderBy(col("score").desc, col("cid"))))
          .filter(col("rn") === 1).select("c_id", "m", "cid")
        enc0.write.parquet(s"$o/codes")
      }
      val cents = T.parquet(s, s"$idx/cents")
      val enc = T.parquet(s, s"$idx/codes")
      val qd = subs(T.t(s, dir, "embeddings").filter(col("vec_id") < 20), "q_id")
        .join(broadcast(cents), "m")
        .select(col("q_id"), col("m"), col("cid"),
          round(dot(col("sub"), col("cvec")), 6).cast(DecimalType(10, 6)).as("d"))
      enc.join(qd, Seq("m", "cid"))
        .groupBy("q_id", "c_id")
        .agg(sum("d").cast(DoubleType).as("sim"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id")))
          .cast(IntegerType))
        .filter(col("rnk") <= 5)
        .select("q_id", "rnk", "c_id", "sim")
        .orderBy("q_id", "rnk")
    },

    // Spark 4 VARIANT semi-structured type: parse_json → binary variant,
    // typed variant_get extraction — the schema-on-read path for mixed
    // JSON at 100 TB (variant decode is columnar+lazy where from_json
    // materializes the full struct). Declared output = typed extraction
    // parity with DuckDB's JSON accessors.
    q("scalar_variant_funcs",
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS INT) AS k_int,
        |  CAST(CAST(json_extract(props, '$.k') AS INT) % 2 = 0 AS INT) AS k_even
        |FROM events ORDER BY event_id LIMIT 1000""") { (s, dir) =>
      T.t(s, dir, "events")
        .select(
          col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k_int"),
          expr("cast(variant_get(parse_json(props), '$.k', 'int') % 2 = 0 as int)")
            .as("k_even"))
        .orderBy("event_id")
        .limit(1000)
    },

    // Exact higher moments (skewness, excess kurtosis) from decimal power
    // sums S1..S4 — same construction as agg_variance_exact/agg_corr_covar,
    // extended to 3rd/4th order. x is cast to DECIMAL(9,2) so the x⁴
    // product stays inside decimal128 exactly in BOTH engines (Spark
    // (39,8)→(38,8) still holds these values exactly; DuckDB (36,8)).
    // Built-in skewness/kurtosis use streaming central-moment updates whose
    // merge order is engine- and partition-dependent.
    sqlKey("agg_skew_kurtosis_exact",
      """WITH s AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS s3,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS s4
        |  FROM lineitem GROUP BY 1),
        |m AS (SELECT l_returnflag, n,
        |    s2 - s1 * s1 / n AS m2,
        |    s3 - 3 * (s1 / n) * s2 + 2 * (s1 / n) * (s1 / n) * s1 AS m3,
        |    s4 - 4 * (s1 / n) * s3 + 6 * (s1 / n) * (s1 / n) * s2 - 3 * (s1 / n) * (s1 / n) * (s1 / n) * s1 AS m4
        |  FROM s)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS cnt,
        |  round(sqrt(n) * m3 / pow(m2, 1.5), 6) AS skewness,
        |  round(n * m4 / (m2 * m2) - 3, 6) AS kurtosis
        |FROM m ORDER BY l_returnflag"""),

    // Bigram PMI collocations: pmi = ln(c_xy·N² / (NB·c_x·c_y)) — every
    // operand is an exact integer count (products < 2⁵³, exact in double),
    // so the single ln+division is the same IEEE sequence in both engines;
    // 6dp round before ranking, bigram tie-break. The collocation-mining
    // pass of corpus analysis.
    q("text_bigram_pmi",
      """WITH dd AS (SELECT string_split(text, ' ') AS arr FROM documents),
        |bg AS (SELECT unnest(list_transform(range(len(arr)-1),
        |    i -> arr[i+1] || ' ' || arr[i+2])) AS bigram FROM dd),
        |cxy AS (SELECT bigram, count(*) AS c FROM bg GROUP BY 1),
        |uni AS (SELECT unnest(arr) AS tok FROM dd),
        |cx AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM uni) AS n, (SELECT count(*) FROM bg) AS nb)
        |SELECT bigram, c_xy, pmi, rn FROM (
        |  SELECT *, CAST(row_number() OVER (ORDER BY pmi DESC, bigram) AS INT) AS rn FROM (
        |    SELECT cxy.bigram, cxy.c AS c_xy,
        |      round(ln((CAST(cxy.c AS DOUBLE) * n * n) / (CAST(nb AS DOUBLE) * a.c * b.c)), 6) AS pmi
        |    FROM cxy
        |    JOIN cx a ON a.tok = string_split(cxy.bigram, ' ')[1]
        |    JOIN cx b ON b.tok = string_split(cxy.bigram, ' ')[2]
        |    CROSS JOIN tot WHERE cxy.c >= 5))
        |WHERE rn <= 20 ORDER BY rn""") { (s, dir) =>
      val dd = T.t(s, dir, "documents").select(split(col("text"), " ").as("arr"))
      val bg = dd.select(explode(Pipelines.shingleArray(col("arr"), 2)).as("bigram"))
      val cxy = bg.groupBy("bigram").agg(count(lit(1)).as("c_xy"))
      val uni = dd.select(explode(col("arr")).as("tok"))
      val cx = uni.groupBy("tok").agg(count(lit(1)).as("c"))
      val tot = uni.agg(count(lit(1)).as("n"))
        .crossJoin(bg.agg(count(lit(1)).as("nb")))
      cxy.filter(col("c_xy") >= 5)
        .withColumn("w1", element_at(split(col("bigram"), " "), 1))
        .withColumn("w2", element_at(split(col("bigram"), " "), 2))
        .join(cx.select(col("tok").as("w1"), col("c").as("ca")), "w1")
        .join(cx.select(col("tok").as("w2"), col("c").as("cb")), "w2")
        .crossJoin(broadcast(tot))
        .withColumn("pmi", round(log(
          (col("c_xy").cast(DoubleType) * col("n") * col("n"))
            / (col("nb").cast(DoubleType) * col("ca") * col("cb"))), 6))
        // TakeOrdered re-plan (VERDICT r6 #2): reduce the bigram vocabulary
        // with a parallel per-partition top-k before the rank window, so no
        // single-partition sort of 10⁸⁺ bigrams ever happens at scale.
        .orderBy(col("pmi").desc, col("bigram")).limit(20)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("pmi").desc, col("bigram"))).cast(IntegerType))
        .select("bigram", "c_xy", "pmi", "rn")
        .orderBy("rn")
    },

    // Trigonometric/inverse scalar surface: libm ulp differences between
    // engines are ~1e-16, absorbed by the 6dp round (SURVEY §2 rule 2's
    // provably-smaller case). Inputs normalized to [0, 2π) from exact ints.
    // Each rounded value gets `+ 0.0` in BOTH engines: DuckDB's round keeps
    // IEEE signed zero (cos(270°) → −0.0) while Spark's BigDecimal round
    // yields +0.0; adding +0.0 canonicalizes (−0.0 + 0.0 = +0.0) without
    // changing any other value.
    sqlKey("scalar_trig_funcs",
      """WITH t AS (SELECT p_partkey, (p_partkey % 360) * pi() / 180.0 AS rad,
        |    (p_size % 100) / 100.0 AS frac FROM part)
        |SELECT p_partkey,
        |  round(sin(rad), 6) + 0.0 AS s, round(cos(rad), 6) + 0.0 AS c,
        |  round(atan2(sin(rad), cos(rad)), 6) + 0.0 AS at2,
        |  round(asin(frac), 6) + 0.0 AS asn,
        |  round(degrees(rad), 6) + 0.0 AS deg
        |FROM t ORDER BY p_partkey LIMIT 400"""),

    // Null-safe equi-JOIN (`<=>` as the join condition): null keys match
    // each other — the semantics MERGE/CDC pipelines need when the business
    // key is nullable. Derived nullable keys on both sides; counts per
    // match class.
    q("join_null_safe_eq",
      """WITH a AS (SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |      ELSE o_orderkey % 100 END AS k, o_totalprice FROM orders),
        |b AS (SELECT CASE WHEN ("generate_series" % 5 = 0) THEN NULL
        |      ELSE "generate_series" END AS k
        |  FROM generate_series(0, 99))
        |SELECT a.k AS k, count(*) AS cnt
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |GROUP BY 1 ORDER BY k NULLS FIRST""") { (s, dir) =>
      val a = T.t(s, dir, "orders")
        .select(when(col("o_orderkey") % 7 === 0, lit(null))
          .otherwise(col("o_orderkey") % 100).as("k"), col("o_totalprice"))
      val b = s.range(0, 100)
        .select(when(col("id") % 5 === 0, lit(null)).otherwise(col("id")).as("bk"))
      a.join(b, col("k") <=> col("bk"))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy(col("k").asc_nulls_first)
    },

    // Binary codec surface: base64/hex roundtrips over string payloads —
    // content transport encodings (both engines implement RFC 4648 base64
    // and lowercase-normalized hex identically on these inputs).
    q("scalar_codec_funcs",
      """SELECT p_partkey,
        |  to_base64(CAST(p_name AS BLOB)) AS b64,
        |  CAST(from_base64(to_base64(CAST(p_name AS BLOB))) AS VARCHAR) AS rt,
        |  lower(hex(CAST(p_brand AS BLOB))) AS hx
        |FROM part ORDER BY p_partkey LIMIT 400""") { (s, dir) =>
      T.t(s, dir, "part")
        .select(
          col("p_partkey"),
          base64(col("p_name").cast(BinaryType)).as("b64"),
          unbase64(base64(col("p_name").cast(BinaryType))).cast(StringType).as("rt"),
          lower(hex(col("p_brand").cast(BinaryType))).as("hx"))
        .orderBy("p_partkey")
        .limit(400)
    },

    // LATERAL correlated subquery with LIMIT — per-nation top-2 customers
    // by balance through the SQL surface; Catalyst decorrelates the
    // lateral to a ranked window (no per-row re-execution), same as
    // DuckDB's plan.
    sqlKey("join_lateral_topn",
      """SELECT n_name, ck, bal FROM nation n, LATERAL (
        |  SELECT c_custkey AS ck,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |  FROM customer c WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2)
        |ORDER BY n_name, ck""")
  )
}
