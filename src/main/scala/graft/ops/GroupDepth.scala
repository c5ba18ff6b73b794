package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import graft.api.Pipelines
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-S (round 6) — analytics depth: cohort retention, anomaly
  * scoring, Welch's t-test, weighted PageRank over a derived trade graph,
  * weighted (multiset) Jaccard dedup, exact rolling medians, incremental
  * watermark ingest, two-stage ANN rerank, catalog introspection, and the
  * SQL-macro UDF surface.
  *
  * Determinism posture (SURVEY §2 preamble): integer/decimal arithmetic for
  * every count and money sum; double formulas are written with IDENTICAL
  * parenthesization in the Spark plan and the DuckDB oracle, with named
  * intermediates where an expression is reused (squaring a quotient, the
  * pooled standard error) so both engines square/divide the same IEEE64
  * value; results are rounded to 6dp (9dp inside the PageRank loop) before
  * ranking or output; every query ends in a total ordering.
  */
object GroupDepth {

  val defs: Seq[Q] = Seq(
    // Cohort retention matrix — the activation dashboard every event
    // pipeline feeds: users cohorted by first-seen day, distinct active
    // users per (cohort, day-offset ≤ 7). Two shuffles, both on user_id
    // (first-day agg, then the activity join), then one count-distinct agg;
    // at 100 TB the cohort map is a per-user scalar carried by one
    // partitioning.
    sqlKey("window_retention_cohort",
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |coh AS (SELECT user_id, min(d) AS cd FROM act GROUP BY 1)
        |SELECT coh.cd AS cohort_day, CAST(act.d - coh.cd AS INT) AS offset_d,
        |  count(DISTINCT act.user_id) AS n_users
        |FROM act JOIN coh ON act.user_id = coh.user_id
        |WHERE CAST(act.d - coh.cd AS INT) <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Daily-volume anomaly flags — z-score of per-day purchase counts
    // against the full-period mean/std. The moments come from exact integer
    // power sums (S1, S2 over bigint counts), so mean and std are single
    // IEEE ops on bit-identical operands; z is rounded to 6dp. One agg +
    // one broadcast of the 1-row stats — the 100 TB shape for "flag the
    // weird days" monitoring.
    q("dq_anomaly_zscore",
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |st AS (SELECT count(*) AS n, sum(c) AS s1, sum(c * c) AS s2 FROM daily),
        |sc AS (SELECT d, c,
        |    CAST(s1 AS DOUBLE) / n AS mean,
        |    sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n AS std
        |  FROM daily CROSS JOIN st)
        |SELECT d, c,
        |  CASE WHEN std > 0 THEN round((CAST(c AS DOUBLE) - mean) / std, 6)
        |    ELSE 0.0 END AS z,
        |  CASE WHEN std > 0 AND abs((CAST(c AS DOUBLE) - mean) / std) > 2
        |    THEN 1 ELSE 0 END AS is_anomaly
        |FROM sc ORDER BY d""") { (s, dir) =>
      val daily = T.t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
      val st = daily.agg(count(lit(1)).as("n"), sum("c").as("s1"),
        sum(col("c") * col("c")).as("s2"))
      val z = (col("c").cast(DoubleType) - col("mean")) / col("std")
      daily.crossJoin(broadcast(st))
        .withColumn("mean", col("s1").cast(DoubleType) / col("n"))
        .withColumn("std", sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast(DoubleType)) / col("n"))
        // std=0 guard (ADVICE r6): on a zero-variance input Spark's non-ANSI
        // x/0 yields NULL while DuckDB yields ±inf/NaN — pin z to 0.0 in
        // both engines instead of exposing that divergence.
        .select(col("d"), col("c"),
          when(col("std") > 0, round(z, 6)).otherwise(lit(0.0)).as("z"),
          when(col("std") > 0 && abs(z) > 2, 1).otherwise(0).as("is_anomaly"))
        .orderBy("d")
    },

    // Welch's unequal-variance t-test between purchase and view values —
    // the A/B-significance primitive a data pipeline runs after every
    // experiment. Sample moments come from exact DECIMAL power sums
    // (value is exact 2dp; value² exact 4dp), so means/variances are
    // deterministic doubles; the t statistic and Welch–Satterthwaite df
    // reuse named intermediates (a1 = v1/n1, a2 = v2/n2) so both engines
    // square identical values. Single scan, one conditional aggregate.
    q("stat_ttest_welch",
      """WITH g AS (SELECT
        |    count(*) FILTER (WHERE event_type = 'purchase') AS n1,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS s1a,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS s2a,
        |    count(*) FILTER (WHERE event_type = 'view') AS n2,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'view') AS DOUBLE) AS s1b,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'view') AS DOUBLE) AS s2b,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase') * 100 AS HUGEINT) AS c1a,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'view') * 100 AS HUGEINT) AS c1b
        |  FROM events),
        |m AS (SELECT n1, n2, c1a, c1b,
        |    s1a / n1 AS m1, s1b / n2 AS m2,
        |    (s2a - (s1a * s1a) / n1) / (n1 - 1) AS v1,
        |    (s2b - (s1b * s1b) / n2) / (n2 - 1) AS v2
        |  FROM g),
        |a AS (SELECT n1, n2, c1a, c1b, m1, m2, v1, v2, v1 / n1 AS a1, v2 / n2 AS a2 FROM m)
        |SELECT n1, n2,
        |  CAST((2000000 * c1a + 100 * n1) // (200 * n1) AS BIGINT) / 1000000.0 AS mean1,
        |  CAST((2000000 * c1b + 100 * n2) // (200 * n2) AS BIGINT) / 1000000.0 AS mean2,
        |  round((m1 - m2) / sqrt(a1 + a2), 6) AS t_stat,
        |  round(((a1 + a2) * (a1 + a2)) / ((a1 * a1) / (n1 - 1) + (a2 * a2) / (n2 - 1)), 6) AS df_welch
        |FROM a""") { (s, dir) =>
      def d2(c: Column) = c.cast(T.dec)
      val v = col("value")
      val g = T.t(s, dir, "events").agg(
        count(when(col("event_type") === "purchase", 1)).as("n1"),
        sum(when(col("event_type") === "purchase", d2(v))).cast(DoubleType).as("s1a"),
        sum(when(col("event_type") === "purchase", d2(v) * d2(v))).cast(DoubleType).as("s2a"),
        count(when(col("event_type") === "view", 1)).as("n2"),
        sum(when(col("event_type") === "view", d2(v))).cast(DoubleType).as("s1b"),
        sum(when(col("event_type") === "view", d2(v) * d2(v))).cast(DoubleType).as("s2b"),
        (sum(when(col("event_type") === "purchase", d2(v))) * 100)
          .cast(DecimalType(38, 0)).as("c1a"),
        (sum(when(col("event_type") === "view", d2(v))) * 100)
          .cast(DecimalType(38, 0)).as("c1b"))
      g.withColumn("m1", col("s1a") / col("n1"))
        .withColumn("m2", col("s1b") / col("n2"))
        .withColumn("v1", (col("s2a") - (col("s1a") * col("s1a")) / col("n1")) / (col("n1") - 1))
        .withColumn("v2", (col("s2b") - (col("s1b") * col("s1b")) / col("n2")) / (col("n2") - 1))
        .withColumn("a1", col("v1") / col("n1"))
        .withColumn("a2", col("v2") / col("n2"))
        .select(col("n1"), col("n2"),
          // means are exact cents/(100·n) rationals → exact-int HALF_UP 6dp
          // (T.r6 pattern, DECIMAL(38,0) cents so the 2·10⁶ scale can't
          // overflow at any corpus size); t/df keep round(double): sqrt in
          // the denominator makes a 6th-decimal tie measure-zero.
          T.r6("c1a", "100L * n1").as("mean1"),
          T.r6("c1b", "100L * n2").as("mean2"),
          round((col("m1") - col("m2")) / sqrt(col("a1") + col("a2")), 6).as("t_stat"),
          round(((col("a1") + col("a2")) * (col("a1") + col("a2")))
            / ((col("a1") * col("a1")) / (col("n1") - 1)
              + (col("a2") * col("a2")) / (col("n2") - 1)), 6).as("df_welch"))
    },

    // Weighted PageRank over the nation trade graph (customer-nation →
    // supplier-nation, edge weight = lineitem count). The iterative shape
    // is the point: edge derivation is one star join materialized ONCE
    // (localCheckpoint truncates lineage so 5 iterations don't re-run it),
    // then each iteration is one contribution-join + per-node sum. The
    // ENTIRE loop runs in integer nano-rank units (rank × 1e9 as BIGINT,
    // floor division for the out-weight split and the 0.85 damping), so
    // every iteration is bit-exact on any engine and any partitioning —
    // no float round anywhere inside the loop (a 9dp double re-round
    // diverged: DuckDB rounds doubles via x·1e9 float math, Spark via
    // BigDecimal). Dangling mass is dropped (classic simplified PR)
    // identically on both sides; the final display division is one IEEE
    // op on identical integers. Plan: the edge table is localCheckpoint'd
    // once (the star join runs once, not per iteration); each of the 5
    // iterations is a broadcast join + integer agg.
    q("graph_pagerank", {
      val iter = (p: Int, c: Int) =>
        s"""p$c AS (SELECT n.node, 6000000 + (85 * coalesce((
           |    SELECT sum((p.nr * e.w) // e.ow)
           |    FROM e JOIN p$p p ON p.node = e.src WHERE e.dst = n.node), 0)) // 100 AS nr
           |  FROM n)""".stripMargin
      s"""WITH e0 AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2),
         |outw AS (SELECT src, sum(w) AS ow FROM e0 GROUP BY 1),
         |e AS (SELECT e0.src, e0.dst, e0.w, outw.ow FROM e0 JOIN outw ON e0.src = outw.src),
         |n AS (SELECT n_nationkey AS node FROM nation),
         |p0 AS (SELECT node, CAST(40000000 AS BIGINT) AS nr FROM n),
         |${iter(0, 1)},
         |${iter(1, 2)},
         |${iter(2, 3)},
         |${iter(3, 4)},
         |${iter(4, 5)}
         |SELECT node, CAST(nr AS DOUBLE) / 1e9 AS pagerank FROM p5 ORDER BY node"""
    }) { (s, dir) =>
      // staged shared artifact (r16): see GroupSeven.nationEdges — the
      // star join runs once per dataset, every consumer reads ≤625 rows
      val e0 = GroupSeven.nationEdges(s, dir)
      val outw = e0.groupBy("src").agg(sum("w").as("ow"))
      // one materialization of the star join; 25² edges max thereafter
      val e = e0.join(outw, "src").localCheckpoint(false)
      val n = T.t(s, dir, "nation").select(col("n_nationkey").as("node"))
      var ranks = n.withColumn("nr", lit(40000000L))
      // r17: per-round lazy checkpoint of the ≤25-row iterate — the
      // honest (noop) metric showed the un-truncated ladder re-executing
      // prior rounds through each round's broadcast (the hits/sssp
      // pattern; the r16 no-checkpoint readings were count()-pruned).
      for (_ <- 1 to 5) {
        val contrib = e.join(broadcast(ranks), col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(expr("(nr * w) DIV ow")).as("c"))
        ranks = n.join(broadcast(contrib), col("node") === col("dst"), "left")
          .select(col("node"),
            expr("6000000L + (85 * coalesce(c, 0L)) DIV 100").as("nr"))
          .localCheckpoint(false)
      }
      ranks.select(col("node"),
          (col("nr").cast(DoubleType) / lit(1e9)).as("pagerank"))
        .orderBy("node")
    },

    // Weighted (multiset) Jaccard near-dup — the SURVEY "weighted MinHash"
    // idea in its exact form: 3-token shingles WITH multiplicity,
    // J_w = Σ min(cA,cB) / Σ max(cA,cB), threshold 0.8 decided by the exact
    // integer cross-multiplication 5·Σmin ≥ 4·(lenA+lenB−Σmin). Candidates
    // come from the same df≥2-pruned inverted index as dedup_ngram_jaccard
    // (a shingle in one doc can never pair) — index self-join, never
    // all-pairs. Plan: a scan of the staged (doc, shingle, count) index
    // (wshingle_df) feeds the self-join on the shingle key.
    q("dedup_weighted_jaccard",
      """WITH dd AS (SELECT doc_id, string_split(text,' ') AS arr FROM documents
        |  WHERE len(string_split(text,' ')) >= 3),
        |sh0 AS (SELECT doc_id,
        |    unnest(list_transform(range(len(arr)-2), i -> arr[i+1]||' '||arr[i+2]||' '||arr[i+3])) AS sh
        |  FROM dd),
        |shc AS (SELECT doc_id, sh, count(*) AS c FROM sh0 GROUP BY 1, 2),
        |lens AS (SELECT doc_id, sum(c) AS len FROM shc GROUP BY 1),
        |keep AS (SELECT sh FROM shc GROUP BY sh HAVING count(*) BETWEEN 2 AND 10000),
        |mins AS (SELECT a.doc_id AS ia, b.doc_id AS ib, sum(least(a.c, b.c)) AS smin
        |  FROM shc a JOIN keep ON a.sh = keep.sh
        |  JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ia, ib,
        |  CAST((2000000 * smin + (la.len + lb.len - smin))
        |    // (2 * (la.len + lb.len - smin)) AS BIGINT) / 1000000.0 AS wjac
        |FROM mins JOIN lens la ON la.doc_id = ia JOIN lens lb ON lb.doc_id = ib
        |WHERE 5 * smin >= 4 * (la.len + lb.len - smin)
        |ORDER BY ia, ib""") { (s, dir) =>
      // multiset shingle-count inverted index, staged once per (JVM, sf)
      // like the distinct-shingle index — at 100 TB this is a persisted
      // table shared by every weighted-similarity consumer
      val stage = T.staged("wshingle", dir) { o =>
        T.t(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"), explode(Pipelines.shingleArray(col("toks"))).as("sh"))
          .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
          .write.mode("overwrite").parquet(o)
      }
      val shc = T.parquet(s, stage)
      // df ∈ [2, dfCap]: singletons can't pair; the hot-shingle ceiling
      // bounds self-join fan-out at dfCap² per shingle (see
      // GroupPipeline.exactJaccardPairs for the recall argument), staged
      // like shingle_df with the same long surrogate `shid` (Σ min(wA,wB)
      // is invariant under the relabeling; long keys ship narrower rows
      // through the self-join exchange than 3-token strings)
      val wIdx = T.staged("wshingle_df", dir) { o =>
        val kept = shc.withColumnRenamed("c", "w").join(
          shc.groupBy("sh").agg(count(lit(1)).as("df"))
            .filter(col("df") >= 2 && col("df") <= GroupPipeline.dfCap), "sh")
        val dict = kept.select("sh").distinct()
          .withColumn("shid", monotonically_increasing_id())
        kept.join(dict, "sh").write.mode("overwrite").parquet(o)
      }
      Pipelines.indexOverlaps(T.parquet(s, wIdx).select("doc_id", "shid", "w"), "shid",
          shc.groupBy("doc_id").agg(sum("c").as("n")))
        .filter(lit(5) * col("c") >= lit(4) * (col("na") + col("nb") - col("c")))
        .select(col("ia"), col("ib"),
          T.r6("c", "na + nb - c").as("wjac")) // exact-int HALF_UP 6dp
        .orderBy("ia", "ib")
    },

    // Exact rolling median (7-row frame per user) — the robust smoother
    // pipelines prefer over means when values spike. Spark evaluates the
    // exact `percentile` aggregate over the moving frame; DuckDB its
    // windowed `median` (= quantile_cont 0.5). Both interpolate even-count
    // frames as lower + frac·(upper−lower) over the same IEEE64 inputs,
    // and the 6dp round collapses any last-ulp difference. One shuffle on
    // user_id.
    q("window_rolling_median",
      """SELECT event_id, user_id,
        |  round(median(value) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
        |FROM events ORDER BY event_id LIMIT 2000""") { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
      T.t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(expr("percentile(value, 0.5)").over(w), 6).as("med7"))
        .orderBy("event_id")
        .limit(2000)
    },

    // Incremental watermark ingest — the only-new-rows pattern every
    // periodic 100 TB load runs: the committed high-water mark (max ts of
    // the already-loaded half) gates the next batch; output audits the
    // newly ingested rows per day. The watermark is a 1-row broadcast; the
    // batch filter is a scan-level predicate.
    q("etl_incremental_watermark",
      """WITH wm AS (SELECT max(ts) AS w FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
        |nw AS (SELECT CAST(ts AS DATE) AS d FROM events, wm WHERE ts > wm.w)
        |SELECT d, count(*) AS n_new,
        |  (SELECT epoch_us(w) // 1000000 FROM wm) AS watermark_s
        |FROM nw GROUP BY d ORDER BY d""") { (s, dir) =>
      val ev = T.t(s, dir, "events")
      val wm = ev.filter(col("ts") < lit("2024-01-15 00:00:00").cast(TimestampNTZType))
        .agg(max("ts").as("w"))
      ev.crossJoin(broadcast(wm))
        .filter(col("ts") > col("w"))
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_new"),
          first(expr("unix_micros(cast(w as timestamp)) DIV 1000000")).as("watermark_s"))
        .orderBy("d")
    },

    // Two-stage ANN rerank — the production serving shape: a cheap int8
    // quantized dot (codegen'd vec_dot_int) ranks the whole corpus, the
    // exact double dot re-scores only the top-50 survivors, and the final
    // top-5 equals brute force (coarse recall attested at all 3 scales by
    // DepthSpec — the quantization error bound ≪ the 5th/50th margin).
    // Exact-dot evaluations drop from |corpus| to 50 per query. Plan: the
    // vec_dot_int coarse rank runs over the broadcast query set; the exact
    // vec_dot sits above the crnk<=50 filter.
    q("vector_rerank_two_stage",
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe FROM embeddings
        |  WHERE vec_id >= 20 AND vec_id < 40),
        |c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id >= 40),
        |s AS (SELECT q_id, c_id, round(list_dot_product(qe, ce), 6) AS sim FROM q CROSS JOIN c)
        |SELECT q_id, rnk, c_id, sim FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rnk
        |  FROM s)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val e = T.t(s, dir, "embeddings")
      Pipelines.cosineTopKReranked(
          e.filter(col("vec_id") >= 20 && col("vec_id") < 40),
          e.filter(col("vec_id") >= 40), "vec_id", "vec_id", "embedding",
          k = 5, coarseK = 50)
        .orderBy("q_id", "rnk")
    },

    // Catalog introspection — dbsuite's heart (SYSCAT extraction → object
    // model): every fixture table's columns with ordinal and type, as a
    // relation. The Spark side walks the live Dataset schemas and maps
    // Catalyst types to portable SQL names; the oracle reads DuckDB's
    // information_schema over the same parquet — agreeing output IS the
    // cross-engine type-mapping table.
    q("catalog_profile_tables", {
      val tabs = Seq("customer", "documents", "embeddings", "events", "lineitem",
        "nation", "orders", "part", "region", "supplier")
      s"""SELECT table_name AS tbl, CAST(ordinal_position AS INT) AS ord,
         |  column_name AS col_name, data_type AS dtype
         |FROM information_schema.columns
         |WHERE table_name IN (${tabs.map(t => s"'$t'").mkString(", ")})
         |ORDER BY tbl, ord"""
    }) { (s, dir) =>
      val tabs = Seq("customer", "documents", "embeddings", "events", "lineitem",
        "nation", "orders", "part", "region", "supplier")
      def duckName(dt: DataType): String = dt match {
        case LongType => "BIGINT"
        case IntegerType => "INTEGER"
        case DoubleType => "DOUBLE"
        case FloatType => "FLOAT"
        case StringType => "VARCHAR"
        case DateType => "DATE"
        case _: TimestampType | _: TimestampNTZType => "TIMESTAMP"
        case ArrayType(e, _) => duckName(e) + "[]"
        case other => other.sql
      }
      import s.implicits._
      tabs.flatMap { tb =>
        T.t(s, dir, tb).schema.fields.zipWithIndex.map { case (f, i) =>
          (tb, i + 1, f.name, duckName(f.dataType))
        }
      }.toDF("tbl", "ord", "col_name", "dtype")
        .orderBy("tbl", "ord")
    },

    // View→relation dependency extraction — the SYSCAT.VIEWDEP half of the
    // reference's object model: register a 3-view hierarchy (view-over-view
    // included), then derive DIRECT dependency edges from the ANALYZED plans
    // via Exec.viewDependencies (topmost known SubqueryAlias, no descent).
    // The oracle declares the edges the registered DDL implies; agreeing
    // output proves the plan walk reads the catalog truthfully. Metadata-
    // sized and driver-side by nature — no data scan.
    q("catalog_view_dependencies",
      """SELECT * FROM (VALUES
        |  ('v_bigspenders','v_custorders','view'),
        |  ('v_custorders','customer','table'),
        |  ('v_custorders','orders','table'),
        |  ('v_nationsales','nation','table'),
        |  ('v_nationsales','v_custorders','view'))
        |AS t(view_name, depends_on, dep_kind) ORDER BY view_name, depends_on""") { (s, dir) =>
      val sfx = (dir.hashCode & Int.MaxValue).toString
      def reg(tbl: String): String = {
        val n = s"graft_cat_${tbl}_$sfx"
        T.t(s, dir, tbl).createOrReplaceTempView(n)
        n
      }
      val cust = reg("customer"); val ord = reg("orders"); val nat = reg("nation")
      val vco = s"graft_v_custorders_$sfx"
      val vns = s"graft_v_nationsales_$sfx"
      val vbs = s"graft_v_bigspenders_$sfx"
      s.sql(s"""CREATE OR REPLACE TEMP VIEW $vco AS
        SELECT c_custkey, c_nationkey, o_orderkey, o_totalprice
        FROM $cust JOIN $ord ON c_custkey = o_custkey""")
      s.sql(s"""CREATE OR REPLACE TEMP VIEW $vns AS
        SELECT n_name, count(*) AS cnt
        FROM $vco JOIN $nat ON c_nationkey = n_nationkey GROUP BY n_name""")
      s.sql(s"""CREATE OR REPLACE TEMP VIEW $vbs AS
        SELECT c_custkey FROM $vco WHERE o_totalprice > 100000""")
      val known = Set(cust, ord, nat, vco)
      def strip(n: String): String =
        n.stripSuffix(s"_$sfx").stripPrefix("graft_cat_").stripPrefix("graft_")
      import s.implicits._
      graft.Exec.viewDependencies(s, Seq(vco, vns, vbs), known)
        .map { case (v, d) =>
          (strip(v), strip(d), if (d.startsWith("graft_v_")) "view" else "table")
        }.toDF("view_name", "depends_on", "dep_kind")
        .orderBy("view_name", "depends_on")
    },

    // RAG retrieval prep — the end-to-end shape a training/serving pipeline
    // runs: join documents to their embeddings (doc_id ≡ vec_id), retrieve
    // top-3 similar docs per query doc with the codegen'd exact dot, and
    // join the neighbor's text metadata back on. Queries broadcast over the
    // corpus; the metadata join is a second broadcast of the tiny result.
    q("pipeline_rag_retrieval",
      """WITH de AS (SELECT d.doc_id, d.lang, d.source, e.embedding::DOUBLE[] AS emb
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |q AS (SELECT doc_id AS q_id, emb AS qe FROM de WHERE doc_id < 10),
        |c AS (SELECT doc_id AS c_id, lang, source, emb AS ce FROM de WHERE doc_id >= 10),
        |s AS (SELECT q_id, c_id, lang, source, round(list_dot_product(qe, ce), 6) AS sim
        |  FROM q CROSS JOIN c)
        |SELECT q_id, rnk, c_id, sim, lang, source FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rnk
        |  FROM s)
        |WHERE rnk <= 3 ORDER BY q_id, rnk""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val de = T.t(s, dir, "documents").select("doc_id", "lang", "source")
        .join(T.t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
          col("doc_id") === col("vec_id"))
      val qs = de.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("embedding").as("qe"))
      val cs = de.filter(col("doc_id") >= 10)
        .select(col("doc_id").as("c_id"), col("lang"), col("source"),
          col("embedding").as("ce"))
      cs.crossJoin(broadcast(qs))
        .withColumn("sim", round(call_function("vec_dot", col("qe"), col("ce")), 6))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))).cast(IntegerType))
        .filter(col("rnk") <= 3)
        .select("q_id", "rnk", "c_id", "sim", "lang", "source")
        .orderBy("q_id", "rnk")
    },

    // Near-containment detection — training-data decontamination's core
    // test: is ≥90% of the SMALLER document's shingle set inside the
    // larger's? Catches quotes/subsets that symmetric Jaccard misses
    // (a small doc embedded in a big one has low Jaccard but containment
    // 1.0). Same df≥2-pruned inverted index as the Jaccard family; the
    // threshold is the exact integer cross-multiplication 10·c ≥ 9·min(na,nb).
    q("dedup_containment",
      """WITH dd AS (SELECT doc_id, string_split(text,' ') AS arr FROM documents
        |  WHERE len(string_split(text,' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(arr)-2), i -> arr[i+1]||' '||arr[i+2]||' '||arr[i+3])) AS sh
        |  FROM dd),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) BETWEEN 2 AND 10000),
        |common AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN keep ON a.sh = keep.sh
        |  JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT ia, ib,
        |  CAST((2000000 * c + least(sa.n, sb.n))
        |    // (2 * least(sa.n, sb.n)) AS BIGINT) / 1000000.0 AS containment
        |FROM common JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
        |WHERE 10 * c >= 9 * least(sa.n, sb.n)
        |ORDER BY ia, ib""") { (s, dir) =>
      // df ∈ [2, dfCap] over the staged long-surrogate index: see
      // GroupPipeline.exactJaccardPairs for the hot-shingle-ceiling recall
      // argument and the measured-out prefix filtering
      Pipelines.indexOverlaps(GroupPipeline.shingleDfRows(s, dir)
          .filter(col("df") <= GroupPipeline.dfCap).select("doc_id", "shid"),
          "shid", GroupPipeline.shingleSizes(s, dir))
        .filter(lit(10) * col("c") >= lit(9) * least(col("na"), col("nb")))
        .select(col("ia"), col("ib"),
          T.r6("c", "least(na, nb)").as("containment")) // exact-int HALF_UP 6dp
        .orderBy("ia", "ib")
    },

    // Sessionized conversion rate — the product metric behind every funnel:
    // 30-min-gap sessions (lag-gap → cumulative sum, the stream_session_window
    // batch form), a per-session purchase flag, then conversion per
    // session-start day. All shuffles share the user_id key until the final
    // small per-day agg. The rate is emitted as exact integer parts-per-million
    // with pure-integer HALF_UP — (2·10⁶·conv + n + n) div (2n) — because a
    // rounded double rate is engine-fragile: 645/3200 = 0.2015625 is an exact
    // .5 tie at the 6th decimal, and different DuckDB builds round it
    // half-even vs half-up. Integer ppm is bit-identical everywhere.
    q("window_session_conversion",
      """WITH g AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |sess AS (SELECT *, sum(brk) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |per AS (SELECT user_id, sid,
        |    CAST(min(ts) AS DATE) AS start_day,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM sess GROUP BY 1, 2)
        |SELECT start_day, count(*) AS n_sessions, CAST(sum(conv) AS BIGINT) AS n_converted,
        |  CAST((2000000 * sum(conv) + count(*)) // (2 * count(*)) AS BIGINT)
        |    AS conv_rate_ppm
        |FROM per GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val g = T.t(s, dir, "events")
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull ||
            expr("unix_micros(cast(ts as timestamp)) - unix_micros(cast(prev as timestamp))") > 1800000000L, 1)
            .otherwise(0))
      val sess = g.withColumn("sid",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy("user_id", "sid")
        .agg(to_date(min(col("ts"))).as("start_day"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
        .groupBy("start_day")
        .agg(count(lit(1)).as("n_sessions"), sum(col("conv")).as("n_converted"))
        .withColumn("conv_rate_ppm",
          expr("(2000000L * n_converted + n_sessions) div (2L * n_sessions)"))
        .orderBy("start_day")
    },

    // Profile drift monitor — the scheduled check that catches silent
    // upstream changes: per-event_type row counts and exact-decimal value
    // means for the first half (days ≤ 15) vs the second, with a drift
    // flag when the volume ratio leaves [0.8, 1.25] (integer
    // cross-multiplied — no float compare). One scan, conditional
    // aggregates, 5-row output.
    q("dq_profile_drift",
      """WITH h AS (SELECT event_type,
        |    CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15' THEN 0 ELSE 1 END AS half,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |agg AS (SELECT event_type,
        |    count(*) FILTER (WHERE half = 0) AS n_a,
        |    count(*) FILTER (WHERE half = 1) AS n_b,
        |    CAST(sum(v) FILTER (WHERE half = 0) * 100 AS HUGEINT) AS c_a,
        |    CAST(sum(v) FILTER (WHERE half = 1) * 100 AS HUGEINT) AS c_b
        |  FROM h GROUP BY 1)
        |SELECT event_type, n_a, n_b,
        |  CAST((2000000 * c_a + 100 * n_a) // (200 * n_a) AS BIGINT) / 1000000.0 AS mean_a,
        |  CAST((2000000 * c_b + 100 * n_b) // (200 * n_b) AS BIGINT) / 1000000.0 AS mean_b,
        |  CASE WHEN 5 * n_b < 4 * n_a OR 4 * n_b > 5 * n_a THEN 1 ELSE 0 END AS volume_drift
        |FROM agg ORDER BY event_type""") { (s, dir) =>
      val h = T.t(s, dir, "events")
        .withColumn("half",
          when(to_date(col("ts")) <= lit("2024-01-15").cast(DateType), 0).otherwise(1))
        .withColumn("v", col("value").cast(T.dec))
      h.groupBy("event_type")
        .agg(count(when(col("half") === 0, 1)).as("n_a"),
          count(when(col("half") === 1, 1)).as("n_b"),
          (sum(when(col("half") === 0, col("v"))) * 100)
            .cast(DecimalType(38, 0)).as("c_a"),
          (sum(when(col("half") === 1, col("v"))) * 100)
            .cast(DecimalType(38, 0)).as("c_b"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          // exact cents/(100·n) rationals → exact-int HALF_UP 6dp (T.r6)
          T.r6("c_a", "100L * n_a").as("mean_a"),
          T.r6("c_b", "100L * n_b").as("mean_b"),
          when(lit(5) * col("n_b") < lit(4) * col("n_a")
            || lit(4) * col("n_b") > lit(5) * col("n_a"), 1).otherwise(0).as("volume_drift"))
        .orderBy("event_type")
    },

    // Sliding exact distinct — distinct users over a trailing 7-day window
    // per day, computed the scale-safe way: each active (user, day) fact is
    // replicated to the ≤7 window-end days it can serve (a constant
    // fan-out, like the interval-bucketed join), then one count-distinct
    // per day. No per-day rescan, no window-of-sets state; the shuffle key
    // is the day.
    q("window_sliding_distinct_users",
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |span AS (SELECT min(d) AS d0, max(d) AS d1 FROM act),
        |rep AS (SELECT a.user_id, a.d + CAST(x.o AS INT) AS wd
        |  FROM act a CROSS JOIN (SELECT unnest(range(7)) AS o) x, span
        |  WHERE a.d + CAST(x.o AS INT) <= span.d1)
        |SELECT wd AS day_end, count(DISTINCT user_id) AS users_7d
        |FROM rep GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      Pipelines.slidingDistinct(T.t(s, dir, "events"), "user_id", "ts", 7)
        .withColumnRenamed("distinct_7d", "users_7d")
        .orderBy("day_end")
    },

    // Pareto / cumulative-share curve — "which customers are 80% of
    // revenue": per-customer exact decimal revenue, ranked desc, running
    // share of the total. The top-100 is taken with TakeOrderedAndProject
    // (parallel per-partition heaps) BEFORE any window — the ordered
    // window only ever sees 100 rows, so no global single-partition sort
    // of the full customer set exists at any scale. The running sum is
    // decimal (exact); only the final share divides two exact decimals as
    // doubles.
    q("window_cumulative_share",
      """WITH per AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT sum(rev) AS t FROM per),
        |ranked AS (SELECT o_custkey, rev,
        |    CAST(row_number() OVER (ORDER BY rev DESC, o_custkey) AS INT) AS rnk,
        |    sum(rev) OVER (ORDER BY rev DESC, o_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS crev
        |  FROM per)
        |SELECT rnk, o_custkey, CAST(rev AS DOUBLE) AS rev,
        |  CAST((2000000 * CAST(crev * 100 AS HUGEINT) + CAST(tot.t * 100 AS HUGEINT))
        |    // (2 * CAST(tot.t * 100 AS HUGEINT)) AS BIGINT) / 1000000.0 AS cum_share
        |FROM ranked CROSS JOIN tot WHERE rnk <= 100 ORDER BY rnk""") { (s, dir) =>
      val per = T.t(s, dir, "orders")
        .groupBy("o_custkey").agg(sum(col("o_totalprice").cast(T.dec)).as("rev"))
      val tot = per.agg(sum("rev").as("t"))
      val wOrd = Window.orderBy(col("rev").desc, col("o_custkey"))
      per.orderBy(col("rev").desc, col("o_custkey")).limit(100) // TakeOrdered
        .crossJoin(broadcast(tot))
        .withColumn("rnk", row_number().over(wOrd).cast(IntegerType))
        .withColumn("crev", sum(col("rev")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("rnk"), col("o_custkey"), col("rev").cast(DoubleType).as("rev"),
          // exact cents/cents rational → exact-int HALF_UP 6dp (T.r6);
          // DECIMAL(38,0) cents keep the 2·10⁶ scaling exact at any size
          T.r6("cast(crev * 100 as decimal(38,0))",
            "cast(t * 100 as decimal(38,0))").as("cum_share"))
        .orderBy("rnk")
    },

    // Gini concentration coefficient of customer revenue — the inequality
    // summary behind "how skewed is our data": G = (2·Σ i·xᵢ)/(n·Σxᵢ)
    // − (n+1)/n over revenues sorted ASC with integer ranks. Revenues are
    // integer CENTS (G is invariant to the ×100 scaling); the i·cents
    // products and their sums run in DECIMAL(38,0) on the Spark side so the
    // aggregate itself is 128-bit-wide (matching DuckDB's HUGEINT sums —
    // a LongType sum of i·cents would wrap silently near ~2e10 rows,
    // ADVICE r6). G is emitted as the single exact rational
    // (2·six − (n+1)·sx)/(n·sx) in exact-int HALF_UP 6dp form (T.r6):
    // no engine-dependent double rounding anywhere. Per-nation grouping
    // keeps the rank window keyed.
    q("agg_gini_concentration",
      """WITH per AS (SELECT c.c_nationkey AS nk, o.o_custkey,
        |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT nk, cents,
        |    row_number() OVER (PARTITION BY nk ORDER BY cents, o_custkey) AS i
        |  FROM per),
        |g AS (SELECT nk, count(*) AS n,
        |    sum(CAST(cents AS HUGEINT)) AS sx,
        |    sum(CAST(i AS HUGEINT) * cents) AS six
        |  FROM rk GROUP BY 1)
        |SELECT nk, n,
        |  CAST((2000000 * (2 * six - (n + 1) * sx) + n * sx)
        |    // (2 * n * sx) AS BIGINT) / 1000000.0 AS gini
        |FROM g ORDER BY nk""") { (s, dir) =>
      val per = T.t(s, dir, "orders")
        .join(T.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"), col("o_custkey"))
        .agg((sum(col("o_totalprice").cast(T.dec)) * 100).cast(LongType).as("cents"))
      val rk = per.withColumn("i", row_number().over(
        Window.partitionBy("nk").orderBy(col("cents"), col("o_custkey"))))
      rk.groupBy("nk")
        .agg(count(lit(1)).as("n"),
          sum(col("cents").cast(DecimalType(38, 0))).as("sx"),
          sum(col("i").cast(DecimalType(38, 0)) * col("cents")).as("six"))
        .select(col("nk"), col("n"),
          T.r6("2L * six - (n + 1L) * sx", "n * sx").as("gini"))
        .orderBy("nk")
    },

    // Bigram language-model table — next-word prediction the counting way:
    // P(w2|w1) = c(w1,w2)/c(w1,·) for the 10 most frequent first words,
    // top-3 continuations each. Probabilities use exact-integer HALF_UP
    // 6dp (T.r6 — no engine-dependent double rounding); ranks tie-break
    // lexicographically. The explode→count→TakeOrdered shape is the
    // n-gram LM build at any corpus size.
    q("text_ngram_lm_nextword",
      """WITH dd AS (SELECT doc_id, string_split(text,' ') AS arr FROM documents
        |  WHERE len(string_split(text,' ')) >= 2),
        |bg0 AS (SELECT unnest(list_transform(range(len(arr)-1),
        |    i -> arr[i+1] || ' ' || arr[i+2])) AS b FROM dd),
        |c2 AS (SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
        |    count(*) AS c FROM bg0 GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c) AS tot FROM c2 GROUP BY 1),
        |top1 AS (SELECT w1, tot FROM (SELECT w1, tot,
        |    row_number() OVER (ORDER BY tot DESC, w1) AS rn FROM c1) WHERE rn <= 10),
        |nxt AS (SELECT c2.w1, c2.w2, c2.c, top1.tot,
        |    CAST(row_number() OVER (PARTITION BY c2.w1 ORDER BY c2.c DESC, c2.w2) AS INT) AS rnk
        |  FROM c2 JOIN top1 ON c2.w1 = top1.w1)
        |SELECT w1, rnk, w2, c,
        |  CAST((2000000 * c + tot) // (2 * tot) AS BIGINT) / 1000000.0 AS p
        |FROM nxt WHERE rnk <= 3 ORDER BY w1, rnk""") { (s, dir) =>
      val bg = T.t(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(toks)-2), i -> struct(toks[i] as w1, toks[i+1] as w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      val c1 = c2.groupBy("w1").agg(sum("c").as("tot"))
      // TakeOrdered re-plan (VERDICT r6 #2): orderBy+limit is a parallel
      // per-partition top-k — the first-word vocabulary (10⁸+ rows at
      // 100 TB) never funnels through a single-partition WindowExec; the
      // rank window then sorts only the 10 surviving rows.
      val top1 = c1.orderBy(col("tot").desc, col("w1")).limit(10)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("tot").desc, col("w1")))).filter(col("rn") <= 10)
        .select("w1", "tot")
      c2.join(broadcast(top1), "w1")
        .withColumn("rnk", row_number().over(
          Window.partitionBy("w1").orderBy(col("c").desc, col("w2"))).cast(IntegerType))
        .filter(col("rnk") <= 3)
        .select(col("w1"), col("rnk"), col("w2"), col("c"),
          T.r6("c", "tot").as("p")) // exact-int HALF_UP 6dp
        .orderBy("w1", "rnk")
    },

    // Tolerance-bounded as-of — sensor-style enrichment: each purchase
    // takes the most recent prior click of the same user ONLY if it is
    // within 1 hour; older matches become NULL instead of stale joins.
    // Same single window pass as join_asof (one user-keyed shuffle), the
    // tolerance applied as an integer-microsecond postfilter on the
    // carried timestamp.
    q("join_asof_tolerance",
      """WITH base AS (SELECT event_id, user_id, ts, event_type FROM events
        |  WHERE event_type IN ('purchase', 'click')),
        |w AS (SELECT event_id, user_id, ts, event_type,
        |    max(CASE WHEN event_type = 'click' THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bts
        |  FROM base)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN bts IS NOT NULL AND epoch_us(ts) - epoch_us(bts) <= 3600000000
        |    THEN bts END AS click_ts,
        |  CASE WHEN bts IS NOT NULL AND epoch_us(ts) - epoch_us(bts) <= 3600000000
        |    THEN (epoch_us(ts) - epoch_us(bts)) // 1000000 END AS age_s
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""") { (s, dir) =>
      val wB = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      T.t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select("event_id", "user_id", "ts", "event_type")
        .withColumn("bts", max(when(col("event_type") === "click", col("ts"))).over(wB))
        .filter(col("event_type") === "purchase")
        .withColumn("d_us",
          expr("unix_micros(cast(ts as timestamp)) - unix_micros(cast(bts as timestamp))"))
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("bts").isNotNull && col("d_us") <= 3600000000L, col("bts")).as("click_ts"),
          when(col("bts").isNotNull && col("d_us") <= 3600000000L,
            expr("d_us DIV 1000000")).as("age_s"))
        .orderBy("event_id")
    },

    // Inter-arrival time distribution — pipeline telemetry's latency
    // histogram: per event_type, exact quantiles (p50/p90/p99) of the
    // integer-second gaps between consecutive events of that type for the
    // same user. Gaps are exact BIGINTs from one lag window; the quantile
    // interpolation runs over identical integer inputs in both engines,
    // 6dp-rounded. Shuffles: one on (user), one small agg on type.
    // Scale note: exact `percentile` buffers each group's values — fine to
    // ~10⁷ gaps/group; beyond that swap in the sketch (`agg_approx_quantile`
    // pattern), same plan shape.
    q("ts_interarrival_quantiles",
      """WITH g AS (SELECT event_type,
        |    (epoch_us(ts) - epoch_us(lag(ts) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id))) // 1000000 AS gap_s
        |  FROM events),
        |q AS (SELECT event_type,
        |    count(gap_s) AS n_gaps,
        |    round(quantile_cont(gap_s, 0.5), 6) AS p50,
        |    round(quantile_cont(gap_s, 0.9), 6) AS p90,
        |    round(quantile_cont(gap_s, 0.99), 6) AS p99
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1)
        |SELECT * FROM q ORDER BY event_type""") { (s, dir) =>
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
      T.t(s, dir, "events")
        .withColumn("gap_s", expr(
          "(unix_micros(cast(ts as timestamp)) - unix_micros(cast(lag(ts) over " +
            "(partition by user_id, event_type order by ts, event_id) as timestamp))) DIV 1000000"))
        .filter(col("gap_s").isNotNull)
        .groupBy("event_type")
        .agg(count(col("gap_s")).as("n_gaps"),
          round(expr("percentile(gap_s, 0.5)"), 6).as("p50"),
          round(expr("percentile(gap_s, 0.9)"), 6).as("p90"),
          round(expr("percentile(gap_s, 0.99)"), 6).as("p99"))
        .orderBy("event_type")
    },

    // Weighted median — the order statistic that respects row mass: per
    // returnflag, the smallest l_extendedprice whose cumulative quantity
    // weight reaches half the total. Lower weighted median ⇒ NO
    // interpolation: the answer is an exact data value picked by exact
    // integer cumulative sums (quantities are whole units in the
    // fixtures). One sort-window pass per group + a 1-row-per-group pick.
    q("agg_weighted_median",
      """WITH w AS (SELECT l_returnflag AS rf,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem),
        |c AS (SELECT rf, price, qty,
        |    sum(qty) OVER (PARTITION BY rf ORDER BY price, qty
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    sum(qty) OVER (PARTITION BY rf) AS totw
        |  FROM w),
        |pick AS (SELECT rf, CAST(price AS DOUBLE) AS wmedian,
        |    row_number() OVER (PARTITION BY rf ORDER BY price, qty) AS rn
        |  FROM c WHERE 2 * cumw >= totw)
        |SELECT rf, wmedian FROM pick WHERE rn = 1 ORDER BY rf""") { (s, dir) =>
      // TWO-PHASE bucketed weighted median (re-planned after the r11 sf1
      // probe): the naive form runs a data-sized running window over ONLY
      // 3 returnflag partitions — a parallelism ceiling that single-tasks
      // millions of rows per flag at scale. Phase 1 aggregates weights to
      // a coarse cent-bucket spine (cents >> 16 ≈ $655 buckets; the price
      // DOMAIN is TPC-H-bounded, so ≤ ~170 buckets at any sf) and finds
      // each flag's crossing bucket with a spine-sized window. Phase 2
      // runs the EXACT row-level (price, qty) window only INSIDE that one
      // bucket (1/buckets of the data), offset by the weight before it.
      // Same crossing row as the single-window form — the smallest price
      // whose running weight reaches half — at a fraction of the window
      // input and with real parallelism in phase 1's aggregation.
      val li = T.t(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"),
          col("l_extendedprice").cast(T.dec).as("price"),
          col("l_quantity").cast(LongType).as("qty"))
        .withColumn("bkt", expr("shiftright(cast(price * 100 as bigint), 16)"))
      val byBkt = Window.partitionBy("rf").orderBy("bkt")
      val spine = li.groupBy("rf", "bkt").agg(sum("qty").as("bw"))
        .withColumn("cumb", sum(col("bw")).over(
          byBkt.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("totw", sum(col("bw")).over(Window.partitionBy("rf")))
      val crossing = spine
        .filter(lit(2) * col("cumb") >= col("totw"))
        .withColumn("rnb", row_number().over(byBkt))
        .filter(col("rnb") === 1)
        .select(col("rf").as("crf"), col("bkt").as("cbkt"),
          (col("cumb") - col("bw")).as("before"), col("totw"))
      val byPrice = Window.partitionBy("rf").orderBy("price", "qty")
      li.join(broadcast(crossing),
          col("rf") === col("crf") && col("bkt") === col("cbkt"))
        .withColumn("cumw", col("before") + sum(col("qty")).over(
          byPrice.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(lit(2) * col("cumw") >= col("totw"))
        .withColumn("rn", row_number().over(byPrice))
        .filter(col("rn") === 1)
        .select(col("rf"), col("price").cast(DoubleType).as("wmedian"))
        .orderBy("rf")
    },

    // Feature hashing (the "hashing trick") — fixed-width bag-of-words
    // featurization with no vocabulary coordination: token → engine-portable
    // poly_hash → one of 64 dims, exact integer counts per (doc, dim).
    // The vocabulary-free property is WHY it scales: no global dictionary
    // build, no OOV handling — one stateless pass + one count agg. DuckDB
    // reproduces the hash with a HUGEINT fold, so the features themselves
    // are oracle-checked.
    q("text_feature_hashing",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 10),
        |dims AS (SELECT doc_id, CAST((list_reduce(
        |    list_concat([CAST(0 AS HUGEINT)],
        |      list_transform(range(length(tok)),
        |        j -> CAST(ascii(substr(tok, CAST(j+1 AS INT), 1)) AS HUGEINT))),
        |    (h, c) -> (h * 257 + c) % CAST(2305843009213693951 AS HUGEINT)
        |  ) * CAST(1181783497276652981 AS HUGEINT) + 1)
        |    % CAST(2305843009213693951 AS HUGEINT) % 64 AS INT) AS dim
        |  FROM toks)
        |SELECT doc_id, dim, count(*) AS cnt
        |FROM dims GROUP BY 1, 2 ORDER BY doc_id, dim""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      T.t(s, dir, "documents")
        .filter(col("doc_id") < 10)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .withColumn("dim",
          (call_function("poly_hash", col("tok")) % 64).cast(IntegerType))
        .groupBy("doc_id", "dim").agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "dim")
    },

    // Closed-form OLS (price-per-quantity line per returnflag) — model
    // fitting as one aggregate: slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²)
    // over EXACT integer sums (y in cents, x in whole units), combined in
    // 128-bit-safe integer space (Spark DECIMAL(38,0), DuckDB HUGEINT) so
    // both engines divide bit-identical operands. One scan, map-side
    // combinable — the canonical "train a tiny model on 100 TB" shape.
    q("ml_linreg_closed_form",
      """WITH b AS (SELECT l_returnflag AS rf,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem),
        |g AS (SELECT rf, count(*) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x * y) AS HUGEINT) AS sxy, CAST(sum(x * x) AS HUGEINT) AS sxx
        |  FROM b GROUP BY 1)
        |SELECT rf, n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_cents,
        |  round((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / n, 6) AS intercept_cents
        |FROM g ORDER BY rf""") { (s, dir) =>
      val d38 = DecimalType(38, 0)
      val b = T.t(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"),
          col("l_quantity").cast(LongType).as("x"),
          (col("l_extendedprice").cast(T.dec) * 100).cast(LongType).as("y"))
      // cast to DECIMAL(38,0) BEFORE the sum so the aggregate itself runs in
      // 128-bit space like DuckDB's HUGEINT sum — a LongType sum of x·y
      // (~5e8/row) would wrap silently near ~2e10 rows (ADVICE r6)
      val g = b.groupBy("rf")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
          sum(col("x").cast(d38) * col("y")).as("sxy"),
          sum(col("x").cast(d38) * col("x")).as("sxx"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
      g.select(col("rf"), col("n"),
          round(slope, 6).as("slope_cents"),
          round((col("sy").cast(DoubleType) - slope * col("sx").cast(DoubleType)) / col("n"), 6)
            .as("intercept_cents"))
        .orderBy("rf")
    },

    // Per-key feature standardization — the z-score normalization every
    // feature pipeline applies before training, per entity: each user's
    // events standardized against that user's own exact integer-cents
    // moments (population std). Users with one event or zero variance are
    // excluded by exact integer predicates. The per-key stats join is the
    // same user-partitioned shuffle the window family uses.
    // DECIMAL(38,0) before the sum: s2 = Σc² (~2.5e9/row) approaches the
    // 64-bit bound near ~4e9 events per user; DuckDB sums in HUGEINT
    sqlKey("ml_feature_standardize",
      """WITH b AS (SELECT event_id, user_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |st AS (SELECT user_id, count(*) AS n, sum(c) AS s1, sum(c * c) AS s2
        |  FROM b GROUP BY 1),
        |z AS (SELECT b.event_id, b.user_id,
        |    round((CAST(b.c AS DOUBLE) - CAST(st.s1 AS DOUBLE) / st.n)
        |      / (sqrt(CAST(st.n * st.s2 - st.s1 * st.s1 AS DOUBLE)) / st.n), 6) AS z
        |  FROM b JOIN st ON b.user_id = st.user_id
        |  WHERE st.n >= 2 AND st.n * st.s2 - st.s1 * st.s1 > 0)
        |SELECT event_id, user_id, z FROM z ORDER BY event_id LIMIT 2000"""),

    // Point-in-time join — the feature-store correctness primitive: which
    // VERSION of the customer's state (their cumulative order index) was
    // current when each lineitem shipped? Versions (orders) and probes
    // (lineitems) union into ONE stream per custkey ordered by date, a
    // window carries the last version forward — the as-of machinery, so
    // no range join, no per-probe scan, one shuffle on the customer key.
    // Output: how many lineitems shipped under each version number.
    sqlKey("join_point_in_time",
      """WITH v AS (SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
        |    o_orderkey AS tie,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS BIGINT) AS ver,
        |    0 AS is_probe, CAST(NULL AS DATE) AS pd
        |  FROM orders),
        |p AS (SELECT o.o_custkey AS k, CAST(l.l_shipdate AS DATE) AS d,
        |    l.l_orderkey AS tie, CAST(NULL AS BIGINT) AS ver, 1 AS is_probe,
        |    CAST(l.l_shipdate AS DATE) AS pd
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |u AS (SELECT *, max(ver) OVER (PARTITION BY k
        |    ORDER BY d, is_probe, tie, ver
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur_ver
        |  FROM (SELECT k, d, tie, ver, is_probe, pd FROM v
        |        UNION ALL SELECT k, d, tie, ver, is_probe, pd FROM p))
        |SELECT coalesce(cur_ver, 0) AS version, count(*) AS n_lineitems
        |FROM u WHERE is_probe = 1 GROUP BY 1 ORDER BY 1"""),

    // Order-independent table checksum — migration validation's handshake:
    // per-table row count + the exact sum of per-row portable fingerprints
    // (poly_hash over '|'-joined key columns). Summing in 128-bit-safe
    // space (DECIMAL(38,0) ≡ HUGEINT) keeps the checksum exact and
    // partition-order-independent, so source and target clusters can
    // compare one row per table instead of re-reading each other's data.
    q("dq_table_checksum", {
      def side(t: String, cols: String) =
        s"""SELECT '$t' AS tbl, count(*) AS n_rows,
           |  sum(CAST((list_reduce(
           |    list_concat([CAST(0 AS HUGEINT)],
           |      list_transform(range(length($cols)),
           |        j -> CAST(ascii(substr($cols, CAST(j+1 AS INT), 1)) AS HUGEINT))),
           |    (h, c) -> (h * 257 + c) % CAST(2305843009213693951 AS HUGEINT)
           |  ) * CAST(1181783497276652981 AS HUGEINT) + 1)
           |    % CAST(2305843009213693951 AS HUGEINT) AS HUGEINT))::VARCHAR AS checksum
           |FROM $t""".stripMargin
      side("nation", "concat_ws('|', CAST(n_nationkey AS VARCHAR), n_name)") +
        "\nUNION ALL\n" +
        side("region", "concat_ws('|', CAST(r_regionkey AS VARCHAR), r_name)") +
        "\nUNION ALL\n" +
        side("supplier", "concat_ws('|', CAST(s_suppkey AS VARCHAR), s_name)") +
        "\nORDER BY tbl"
    }) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      def side(t: String, cols: Column) =
        T.t(s, dir, t).agg(
          count(lit(1)).as("n_rows"),
          sum(call_function("poly_hash", cols).cast(DecimalType(38, 0)))
            .cast(StringType).as("checksum"))
          .select(lit(t).as("tbl"), col("n_rows"), col("checksum"))
      side("nation", concat_ws("|", col("n_nationkey").cast(StringType), col("n_name")))
        .unionByName(side("region",
          concat_ws("|", col("r_regionkey").cast(StringType), col("r_name"))))
        .unionByName(side("supplier",
          concat_ws("|", col("s_suppkey").cast(StringType), col("s_name"))))
        .orderBy("tbl")
    },

    // Median absolute deviation — the robust spread measure outlier-heavy
    // pipelines use instead of stddev: MAD = median(|v − median(v)|) per
    // event_type. Two exact-percentile aggregation passes (the per-type
    // median is a 5-row broadcast between them); deviations are exact
    // cents, both medians 6dp-rounded. Scale note: same exact-percentile
    // caveat as ts_interarrival_quantiles — sketch it past ~10⁷/group.
    q("stat_mad_robust",
      """WITH b AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |med AS (SELECT event_type, median(c) AS m FROM b GROUP BY 1),
        |dev AS (SELECT b.event_type, abs(CAST(b.c AS DOUBLE) - med.m) AS d
        |  FROM b JOIN med ON b.event_type = med.event_type)
        |SELECT event_type, round(min(m) / 100, 6) AS median_val,
        |  round(median(d) / 100, 6) AS mad
        |FROM dev JOIN med USING (event_type)
        |GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      val b = T.t(s, dir, "events")
        .select(col("event_type"), (col("value").cast(T.dec) * 100).cast(LongType).as("c"))
      val med = b.groupBy("event_type").agg(expr("percentile(c, 0.5)").as("m"))
      b.join(broadcast(med), "event_type")
        .withColumn("d", abs(col("c").cast(DoubleType) - col("m")))
        .groupBy("event_type")
        .agg(round(min(col("m")) / 100, 6).as("median_val"),
          round(expr("percentile(d, 0.5)") / 100, 6).as("mad"))
        .orderBy("event_type")
    },

    // Calendar activity matrix — the weekday × hour heatmap behind every
    // ops dashboard: event counts per (day-of-week, hour-of-day). Pure
    // integer bucketing (dow aligned to DuckDB's 0=Sunday), one small agg.
    q("ts_weekday_hour_matrix",
      """SELECT CAST(date_part('dow', ts) AS INT) AS dow,
        |  CAST(date_part('hour', ts) AS INT) AS hh, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      T.t(s, dir, "events")
        .groupBy((dayofweek(col("ts")) - 1).cast(IntegerType).as("dow"),
          hour(col("ts")).cast(IntegerType).as("hh"))
        .agg(count(lit(1)).as("n"))
        .orderBy("dow", "hh")
    },

    // Day-over-day top movers — "what changed the most since yesterday":
    // per-type daily counts, lag for the previous day, rank by absolute
    // integer delta (ties by type then day). Lag+rank over exact counts —
    // the anomaly-triage view dq_anomaly_zscore's flags link to.
    q("window_top_movers",
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT *, lag(c) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |  FROM d)
        |SELECT event_type, day, c, prev, c - prev AS delta,
        |  CAST(row_number() OVER (ORDER BY abs(c - prev) DESC, event_type, day) AS INT) AS rnk
        |FROM l WHERE prev IS NOT NULL
        |QUALIFY rnk <= 20 ORDER BY rnk""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      d.withColumn("prev", lag(col("c"), 1).over(
          Window.partitionBy("event_type").orderBy("day")))
        .filter(col("prev").isNotNull)
        .withColumn("delta", col("c") - col("prev"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(abs(col("delta")).desc, col("event_type"), col("day")))
          .cast(IntegerType))
        .filter(col("rnk") <= 20)
        .select("event_type", "day", "c", "prev", "delta", "rnk")
        .orderBy("rnk")
    },

    // Semi-supervised label propagation — classify the unlabeled half of
    // the nation graph from trade-weighted neighbor votes: even-keyed
    // nations keep their region as seed labels, odd-keyed nations take the
    // weighted-majority region of their trading partners (2 rounds, ties →
    // smaller label). Each round is one edges⋈labels join + an argmax —
    // the same broadcast-iteration shape as PageRank, with exact integer
    // vote weights so the argmax is deterministic everywhere.
    q("graph_label_propagation", {
      val vote = (p: Int, c: Int) =>
        s"""v$c AS (SELECT e.dst AS node, l.lab, sum(e.w) AS votes
           |  FROM e JOIN l$p l ON l.node = e.src WHERE l.lab IS NOT NULL
           |  GROUP BY 1, 2),
           |w$c AS (SELECT node, lab, row_number() OVER (
           |    PARTITION BY node ORDER BY votes DESC, lab) AS rn FROM v$c),
           |l$c AS (SELECT n.node,
           |    CASE WHEN n.node % 2 = 0 THEN n.seed
           |      ELSE coalesce(w.lab, NULL) END AS lab
           |  FROM n LEFT JOIN (SELECT node, lab FROM w$c WHERE rn = 1) w
           |    ON w.node = n.node)""".stripMargin
      // e0/e are each referenced twice downstream: MATERIALIZED is load-
      // bearing — DuckDB's default inlining re-expands the 4-way lineitem
      // join per reference and its optimizer then mis-plans the expanded
      // tree (observed at the ×10 sf1 probe: >19 GB of spill and an OOM
      // where the materialized form answers in 0.6 s)
      s"""WITH e0 AS MATERIALIZED (SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2),
         |e AS MATERIALIZED (SELECT src, dst, w FROM e0 UNION ALL
         |      SELECT dst, src, w FROM e0 WHERE src <> dst),
         |n AS (SELECT n_nationkey AS node, n_regionkey AS seed FROM nation),
         |l0 AS (SELECT node, CASE WHEN node % 2 = 0 THEN seed END AS lab FROM n),
         |${vote(0, 1)},
         |${vote(1, 2)}
         |SELECT node, lab AS label FROM l2 ORDER BY node"""
    }) { (s, dir) =>
      // staged shared artifact (r16): see GroupSeven.nationEdges — the
      // star join runs once per dataset, every consumer reads ≤625 rows
      val e0 = GroupSeven.nationEdges(s, dir)
      val e = e0.select("src", "dst", "w")
        .unionByName(e0.filter(col("src") =!= col("dst"))
          .select(col("dst").as("src"), col("src").as("dst"), col("w")))
        .localCheckpoint(false)
      val n = T.t(s, dir, "nation")
        .select(col("n_nationkey").as("node"), col("n_regionkey").as("seed"))
      var labels = n.select(col("node"),
        when(col("node") % 2 === 0, col("seed")).as("lab"))
      for (_ <- 1 to 2) {
        val votes = e.join(broadcast(labels.filter(col("lab").isNotNull)),
            col("src") === col("node"))
          .groupBy(col("dst"), col("lab")).agg(sum("w").as("votes"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("dst").orderBy(col("votes").desc, col("lab"))))
          .filter(col("rn") === 1).select(col("dst"), col("lab").as("wlab"))
        labels = n.join(broadcast(votes), col("node") === col("dst"), "left")
          .select(col("node"),
            when(col("node") % 2 === 0, col("seed")).otherwise(col("wlab")).as("lab"))
      }
      labels.select(col("node"), col("lab").as("label")).orderBy("node")
    },

    // SQL-macro UDF — Spark 4's CREATE TEMPORARY FUNCTION ... RETURN expr
    // (SQL-defined scalar UDF): unlike a closure UDF the body is Catalyst-
    // visible (inlined, optimized, codegen'd — the 100 TB-safe way to share
    // business logic). The macro bands order totals; the oracle inlines the
    // same CASE.
    q("udf_sql_macro",
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
        |    WHEN o_totalprice < 150000 THEN 'mid' ELSE 'high' END AS band,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_price_band(p DOUBLE)
              |RETURNS STRING
              |RETURN CASE WHEN p < 50000 THEN 'low'
              |  WHEN p < 150000 THEN 'mid' ELSE 'high' END""".stripMargin)
      T.t(s, dir, "orders").createOrReplaceTempView("graft_sqludf_orders")
      s.sql("""SELECT graft_price_band(o_totalprice) AS band, count(*) AS n,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
              |FROM graft_sqludf_orders GROUP BY 1 ORDER BY 1""".stripMargin)
    }
  )
}
