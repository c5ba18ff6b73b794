package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-V (round 9) — training-data pipeline depth: the operators a
  * production LLM corpus pipeline runs between dedup and export (sliding
  * context chunking, deterministic dataset splits, benchmark
  * decontamination), plus robust/interpolated statistics the relational
  * surface was still missing.
  *
  * Determinism rules follow §2-T/U: exact integers wherever possible, every
  * float boundary is a single IEEE op on bit-identical operands, ranks break
  * ties on ids, integer aggregates are CAST AS BIGINT in the oracle (no
  * HUGEINT reaches an output column).
  */
object GroupNine {

  val defs: Seq[Q] = Seq(

    // Sliding-window context chunking — the RAG/embedding prep step: each
    // document's token stream is cut into windows of 64 tokens advancing
    // by a 48-token stride (16-token overlap), the shape every retrieval
    // index and long-context packer ingests. Pure per-row generator
    // (split → stride sequence → posexplode → slice): no shuffle before
    // the final presentation sort, so at 100 TB it is one scan-shaped
    // map stage that parallelizes with the input splits.
    q("text_chunk_sliding",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |c0 AS (SELECT doc_id, toks, n,
        |    unnest(range(0, CAST(n AS BIGINT), 48)) AS st FROM d),
        |c AS (SELECT doc_id, CAST(st // 48 AS BIGINT) AS chunk_idx,
        |    CAST(st AS BIGINT) AS st, toks, n FROM c0)
        |SELECT doc_id, chunk_idx,
        |  CAST(least(n - st, 64) AS BIGINT) AS n_tok,
        |  toks[CAST(st + 1 AS INT)] AS first_tok,
        |  toks[CAST(least(st + 64, n) AS INT)] AS last_tok
        |FROM c ORDER BY doc_id, chunk_idx""") { (s, dir) =>
      graft.api.Pipelines
        .chunkSliding(T.t(s, dir, "documents"), "doc_id", "text", 64, 48)
        .select(col("doc_id"), col("chunk_idx"), col("n_tok"),
          expr("toks[0]").as("first_tok"),
          expr("element_at(toks, cast(n_tok as int))").as("last_tok"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Deterministic train/valid/test split — the dataset-assignment step of
    // every training run: poly_hash(doc_id) mod 100 gates each doc into
    // 80/10/10 splits. Like pipeline_mixture_sample, the gate is the
    // engine-portable polynomial hash (not rand()), so the assignment is
    // reproducible across engines, partitionings and reruns — the property
    // that makes a split auditable. One scan + one small agg; the split
    // column is a stateless scan-level expression at any scale.
    q("pipeline_dataset_split",
      """WITH d AS (SELECT doc_id, lang,
        |    len(string_split(text, ' ')) AS toks,
        |    CAST(doc_id AS VARCHAR) AS ds FROM documents),
        |h AS (SELECT lang, toks, (list_reduce(
        |    list_concat([CAST(0 AS HUGEINT)],
        |      list_transform(range(length(ds)),
        |        i -> CAST(ascii(substr(ds, CAST(i+1 AS INT), 1)) AS HUGEINT))),
        |    (hh, c) -> (hh * 257 + c) % CAST(2305843009213693951 AS HUGEINT)
        |  ) * CAST(1181783497276652981 AS HUGEINT) + 1)
        |    % CAST(2305843009213693951 AS HUGEINT) % 100 AS bucket
        |  FROM d)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
        |  lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      graft.api.Pipelines
        .datasetSplit(T.t(s, dir, "documents"), "doc_id", 80, 10)
        .select(col("split"), col("lang"),
          size(split(col("text"), " ")).cast(LongType).as("toks"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
        .orderBy("split", "lang")
    },

    // Benchmark decontamination — the train/eval overlap scrub every
    // serious training corpus runs: an eval set (here docs with
    // doc_id % 97 = 0) is shingled into 5-token n-grams
    // (fixture docs are short — real pipelines use 8-13-gram windows; the
    // shape is identical) and any corpus
    // doc sharing a shingle is flagged, with the count of distinct eval
    // docs it collides with. The eval side is benchmark-sized (small by
    // construction), so its distinct (shingle, eval_id) set BROADCASTs
    // and the corpus side stays one scan + generator — the exact
    // production shape: 100 TB of corpus streams past a few MB of eval
    // shingles, no shuffle of the big side.
    q("pipeline_decontaminate",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS arr
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |    range(len(arr) - 4),
        |    i -> array_to_string(arr[CAST(i+1 AS INT):CAST(i+5 AS INT)], ' ')
        |  )) AS sh FROM d WHERE len(arr) >= 5)
        |SELECT c.doc_id, CAST(count(DISTINCT e.doc_id) AS BIGINT)
        |    AS n_eval_overlap
        |FROM sh c JOIN sh e ON c.sh = e.sh
        |WHERE e.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
        |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val docs = T.t(s, dir, "documents")
      graft.api.Pipelines
        .decontaminate(docs.where(col("doc_id") % 97 =!= 0),
          docs.where(col("doc_id") % 97 === 0), "doc_id", "text", 5)
        .orderBy("doc_id")
    },

    // Exact INTERPOLATED percentiles (PERCENTILE_CONT semantics) per group —
    // the relational-surface sibling of agg_approx_quantile (t-digest
    // sketch), agg_median_disc and agg_quantiles_disc (discrete): index
    // (n−1)·p, linear interpolation between the two straddling order
    // statistics. Spark's `percentile` and DuckDB's `quantile_cont` use
    // the same lower + (upper−lower)·frac formula over the same input
    // doubles, so the boundary is bit-stable. Distributed agg (no global
    // sort surfaces in the plan — Spark's Percentile is a partial-merge
    // aggregate), grouped on a 3-value enum key.
    q("agg_percentile_cont_interp",
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.25) AS p25,
        |  quantile_cont(l_extendedprice, 0.5)  AS p50,
        |  quantile_cont(l_extendedprice, 0.75) AS p75
        |FROM lineitem GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      // Re-planned (r16 optimization, guide §1.2/§5 — the
      // agg_histogram_equidepth machinery GROUPED): exact `percentile` is
      // an ObjectHashAggregate whose per-group state is a counts map over
      // every distinct price (~194k entries per returnflag at sf0.1,
      // growing toward the ~10M-entry price-domain ceiling), with every
      // partial map merged and sorted on the group's ONE reducer — 3
      // reducers own the whole board at 100 TB. The 9 needed order
      // statistics are instead selected two-phase: counts aggregate onto
      // the per-group cent-bucket spine (shiftright(cents,16) ≈ $655
      // buckets, ≤ ~170 rows per group at ANY scale), each rank's bucket
      // is located on the spine, and row_number picks the exact ranks
      // inside the ≤18 crossing buckets only. The interpolation
      // reproduces Percentile.getPercentile term-for-term — position =
      // (N−1)·pct, (higher−pos)·v_lo + (pos−lower)·v_hi, with the
      // integral-position and equal-values short-circuits — proved
      // BIT-EQUAL to the old single-aggregate plan at sf0.001/0.01/0.1
      // and at an ×8 replicated fixture (pinned at sf0.001 by NineSpec
      // "agg_percentile_cont_interp is bit-equal to the exact Percentile
      // plan"), then oracle-gated per round. No data-sized aggregation state remains.
      // PRECONDITION (ADVICE r16): the value column must be non-null for
      // every group that should appear — a group whose values are ALL
      // NULL has n=0, gets negative rank positions that match no spine
      // bucket, and is DROPPED, where the old `percentile` aggregate
      // emitted it with NULL p25/p50/p75. Unreachable here (TPC-H
      // l_extendedprice is NOT NULL; verified in the fixtures); reusing
      // this machinery on nullable inputs requires a left join of tgt
      // back to the group spine to restore NULL-quantile rows.
      // body factored into Pipelines.centSpinePercentiles (ADVICE r16) so
      // library callers run the SAME code this key executes.
      val x = T.t(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"),
          col("l_extendedprice").cast(DoubleType).as("p"))
      graft.api.Pipelines.centSpinePercentiles(x)
        .select(col("rf").as("l_returnflag"), col("p25"), col("p50"),
          col("p75"))
        .orderBy("l_returnflag")
    },

    // Theil–Sen robust trend slope of the daily purchase series — the
    // median of all pairwise slopes, the outlier-resistant complement of
    // stat_mann_kendall's S statistic (same bounded ≤31-day spine, same
    // theta self-join shape). Each slope is ONE IEEE division of exact
    // integers (Δcount / Δdays) — bit-identical in both engines — and the
    // median is pure SELECTION of the two middle order statistics (by
    // slope, then pair ids) averaged in one IEEE op: no
    // engine-divergent interpolation path. The pair spine is ≤31² rows,
    // so the global rank window is semantics-bounded (audit-allowlisted).
    q("stat_theil_sen_slope",
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |p AS (SELECT a.d AS d1, b.d AS d2,
        |    CAST(b.c - a.c AS DOUBLE) / date_diff('day', a.d, b.d) AS slope
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |r AS (SELECT slope, row_number() OVER (ORDER BY slope, d1, d2) AS rn,
        |    count(*) OVER () AS n FROM p)
        |SELECT CAST(max(n) AS BIGINT) AS n_pairs, avg(slope) AS slope
        |FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1""") { (s, dir) =>
      val daily = T.t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
      val p = daily.as("a").join(daily.as("b"), col("a.d") < col("b.d"))
        .select(col("a.d").as("d1"), col("b.d").as("d2"),
          ((col("b.c") - col("a.c")).cast(DoubleType) /
            datediff(col("b.d"), col("a.d"))).as("slope"))
      p.withColumn("rn",
          row_number().over(Window.orderBy("slope", "d1", "d2")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .where(col("rn") === expr("(n + 1L) div 2") ||
          col("rn") === expr("n div 2 + 1L"))
        .agg(max("n").as("n_pairs"), avg("slope").as("slope"))
    },

    // One-level decision tree (decision stump) trained by aggregation —
    // the simplest train-by-agg classifier after the perceptron: is an
    // order URGENT given its total price? 20 equal-width candidate
    // thresholds from a 1-row min/max scalar, each row binned once by a
    // single shared IEEE expression, per-bin (n, pos) counts, then the
    // best cut chosen by exact-integer training ACCURACY (majority class
    // each side — no float impurity, no tie ambiguity: ties break to the
    // lower bin). One scan + a 20-row cumulative spine: the threshold
    // search never rescans the data, which is what a 100 TB stump needs.
    q("ml_decision_stump",
      """WITH o AS (SELECT o_totalprice AS p,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |mm AS (SELECT min(p) AS mn, max(p) AS mx FROM o),
        |b AS (SELECT least(19, CAST(floor((p - mn) / ((mx - mn) / 20.0))
        |    AS BIGINT)) AS bin, y FROM o CROSS JOIN mm),
        |bins AS (SELECT bin, count(*) AS n, sum(y) AS pos
        |  FROM b GROUP BY 1),
        |tot AS (SELECT sum(n) AS nt, sum(pos) AS pt FROM bins),
        |cum AS (SELECT bin,
        |    sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS nl,
        |    sum(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS pl
        |  FROM bins),
        |sc AS (SELECT bin,
        |    greatest(pl, nl - pl) + greatest(pt - pl, (nt - nl) - (pt - pl))
        |      AS correct, nt
        |  FROM cum CROSS JOIN tot WHERE nl < nt)
        |SELECT CAST(bin AS BIGINT) AS cut_bin,
        |  CAST(correct AS BIGINT) AS correct, CAST(nt AS BIGINT) AS total,
        |  CAST((2000000 * correct + nt) // (2 * nt) AS BIGINT) / 1000000.0
        |    AS accuracy
        |FROM sc ORDER BY correct DESC, bin LIMIT 1""") { (s, dir) =>
      val o = T.t(s, dir, "orders")
        .select(col("o_totalprice").cast(DoubleType).as("p"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("y"))
      val mm = o.agg(min("p").as("mn"), max("p").as("mx"))
      val b = o.crossJoin(broadcast(mm))
        .select(least(lit(19L),
          floor((col("p") - col("mn")) / ((col("mx") - col("mn")) / 20.0))
            .cast(LongType)).as("bin"), col("y"))
      val bins = b.groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("y").as("pos"))
      val tot = bins.agg(sum("n").as("nt"), sum("pos").as("pt"))
      val w = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bins.withColumn("nl", sum("n").over(w))
        .withColumn("pl", sum("pos").over(w))
        .crossJoin(broadcast(tot))
        .where(col("nl") < col("nt"))
        .select(col("bin").as("cut_bin"),
          (greatest(col("pl"), col("nl") - col("pl")) +
            greatest(col("pt") - col("pl"),
              (col("nt") - col("nl")) - (col("pt") - col("pl"))))
            .as("correct"),
          col("nt").as("total"))
        .withColumn("accuracy", T.r6("correct", "total"))
        .orderBy(col("correct").desc, col("cut_bin")).limit(1)
    },

    // Peak-to-trough drawdown over the daily event-count series, per
    // event type — the monitoring primitive "how far below the
    // running peak did traffic fall, and when": running max over each
    // type's day series, drawdown = peak − count, then the max drawdown
    // with its earliest day. Every quantity is an exact integer on a
    // ≤31-day-per-type spine, and every window is PARTITIONED by
    // event_type — nothing global, nothing float.
    sqlKey("window_drawdown_series",
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    count(*) AS c FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, d, c,
        |    max(c) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS UNBOUNDED PRECEDING) AS peak FROM daily),
        |dd AS (SELECT event_type, d, c, peak, peak - c AS drawdown,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY peak - c DESC, d) AS rn FROM r)
        |SELECT event_type, d AS dd_day,
        |  CAST(drawdown AS BIGINT) AS max_drawdown,
        |  CAST(peak AS BIGINT) AS peak_at, CAST(c AS BIGINT) AS count_at
        |FROM dd WHERE rn = 1 ORDER BY event_type"""),

    // Header/detail reconciliation — the classic ETL audit: does each
    // order's header total equal the sum of its lines' extended value
    // (price × (1+tax) × (1−discount))? All arithmetic in EXACT integer
    // micro-currency (cents × 1e4 from the 2dp fixture doubles), summed
    // as DECIMAL(38,0) so a 100 TB fact table cannot overflow a BIGINT
    // accumulator; the per-status report emits counts, both totals and
    // the worst absolute discrepancy. (These fixtures are TPC-H-ISH:
    // the invariant does NOT hold — the audit's job is to report that,
    // deterministically.) One co-keyed join + two aggs.
    sqlKey("dq_header_detail_reconcile",
      """WITH l AS (SELECT l_orderkey, sum(
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 + CAST(round(l_tax * 100) AS BIGINT))
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS detail_e6
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) * 10000 AS header_e6,
        |    detail_e6 FROM orders JOIN l ON o_orderkey = l_orderkey)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CASE WHEN abs(header_e6 - detail_e6) <= 10000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1c,
        |  CAST(sum(header_e6) AS DOUBLE) / 1000000.0 AS header_total,
        |  CAST(sum(detail_e6) AS DOUBLE) / 1000000.0 AS detail_total,
        |  CAST(max(abs(header_e6 - detail_e6)) AS DOUBLE) / 1000000.0
        |    AS max_abs_diff
        |FROM j GROUP BY 1 ORDER BY 1"""),

    // Month-over-month revenue growth per nation — the period-over-period
    // BI primitive: monthly header revenue (exact cents) per nation,
    // LAG one month within the nation partition, growth as the
    // sign-aware exact-rational 6dp boundary (T.r6s) of Δ/prev. Dims
    // broadcast, facts aggregate map-side first, and every window is
    // partitioned by nation — the plan a 100 TB fact table wants.
    q("window_mom_growth",
      """WITH m AS (SELECT n_name, date_trunc('month', o_orderdate) AS mon,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2),
        |g AS (SELECT n_name, mon, rev_c,
        |    lag(rev_c) OVER (PARTITION BY n_name ORDER BY mon) AS prev_c
        |  FROM m)
        |SELECT n_name, mon, CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
        |  CASE WHEN prev_c IS NULL THEN NULL ELSE
        |    CASE WHEN rev_c >= prev_c THEN
        |      CAST((2000000*(rev_c - prev_c) + prev_c) // (2*prev_c)
        |        AS BIGINT) / 1000000.0
        |    ELSE -(CAST((2000000*(prev_c - rev_c) + prev_c) // (2*prev_c)
        |        AS BIGINT) / 1000000.0) END END AS growth
        |FROM g ORDER BY n_name, mon""") { (s, dir) =>
      val m = T.t(s, dir, "orders")
        .join(broadcast(T.t(s, dir, "customer")
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(T.t(s, dir, "nation")
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), trunc(col("o_orderdate"), "month").as("mon"))
        .agg(sum(round(col("o_totalprice") * 100).cast(LongType))
          .as("rev_c"))
      m.withColumn("prev_c",
          lag("rev_c", 1).over(Window.partitionBy("n_name").orderBy("mon")))
        .select(col("n_name"), col("mon"),
          (col("rev_c").cast(DoubleType) / 100.0d).as("revenue"),
          when(col("prev_c").isNull, lit(null).cast(DoubleType))
            .otherwise(T.r6s("rev_c - prev_c", "prev_c")).as("growth"))
        .orderBy("n_name", "mon")
    },

    // Degree histogram of the part co-purchase graph — the first summary
    // a graph pipeline prints (and the skew diagnostic every scale plan
    // needs before choosing a join strategy): per-node neighbor count
    // over the STAGED distinct-pair table (shared with triangle count /
    // CC — the index is built once per fixture dir), folded into
    // #nodes per degree. Exact integers end to end; output is bounded
    // by the number of distinct degrees.
    q("graph_degree_histogram",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pr AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, count(*) AS degree FROM (
        |    SELECT pa AS node FROM pr UNION ALL SELECT pb FROM pr)
        |  GROUP BY 1)
        |SELECT CAST(degree AS BIGINT) AS degree,
        |  CAST(count(*) AS BIGINT) AS n_nodes
        |FROM deg GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      // the per-node degree is the staged artifact (shared with triangle
      // count / CC / assortativity); the per-invocation plan is one small
      // agg over a node-sized table
      GroupSeven.pairDegree(s, dir)
        .select(col("d").as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    },

    // Within-document repetition profile — the Gopher/C4-style quality
    // signal "how much of this doc is the same bigram over and over":
    // per doc, duplicate-bigram count = total bigrams − distinct bigrams
    // (all exact integers, computed INSIDE the row by array ops — no
    // explode, no shuffle), rolled up per source with the exact-rational
    // 6dp duplicate rate and the count of docs past the 30 % filter
    // threshold. One scan-shaped map + one small agg: at 100 TB this is
    // embarrassingly parallel with the input splits.
    q("text_repetition_ratio",
      """WITH d AS (SELECT source, string_split(text, ' ') AS arr
        |  FROM documents),
        |b AS (SELECT source, len(arr) - 1 AS nb,
        |    len(arr) - 1 - len(list_distinct(list_transform(
        |      range(len(arr) - 1),
        |      i -> arr[CAST(i+1 AS INT)] || ' ' || arr[CAST(i+2 AS INT)]
        |    ))) AS ndup
        |  FROM d WHERE len(arr) >= 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nb) AS BIGINT) AS n_bigrams,
        |  CAST(sum(ndup) AS BIGINT) AS n_dup,
        |  CAST((2000000 * sum(ndup) + sum(nb)) // (2 * sum(nb)) AS BIGINT)
        |    / 1000000.0 AS dup_rate,
        |  CAST(sum(CASE WHEN 10 * ndup > 3 * nb THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_flagged
        |FROM b GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      T.t(s, dir, "documents")
        .select(col("source"), split(col("text"), " ").as("arr"))
        .where(size(col("arr")) >= 2)
        .select(col("source"),
          (size(col("arr")) - 1).cast(LongType).as("nb"),
          (size(col("arr")) - 1 - expr(
            "size(array_distinct(transform(sequence(0, size(arr)-2)," +
              " i -> concat(arr[i], ' ', arr[i+1]))))"))
            .cast(LongType).as("ndup"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nb").as("n_bigrams"),
          sum("ndup").as("n_dup"),
          sum(when(col("ndup") * 10 > col("nb") * 3, 1L).otherwise(0L))
            .as("n_flagged"))
        .withColumn("dup_rate", T.r6("n_dup", "n_bigrams"))
        .select("source", "n_docs", "n_bigrams", "n_dup", "dup_rate",
          "n_flagged")
        .orderBy("source")
    },

    // Spearman rank correlation between the daily purchase and click
    // series — the robust monotone-association complement of
    // agg_corr_covar's Pearson r: ranks are integer PERMUTATION ranks
    // (row_number with the day as tie-break, so no float average-rank
    // path), Σd² is an exact integer, and ρ = 1 − 6Σd²/(n³−n) is emitted
    // through the sign-aware exact-rational 6dp boundary (T.r6s) — no
    // engine-divergent arithmetic anywhere. The spine is the bounded
    // ≤31-day calendar (theil_sen precedent), so the rank windows are
    // semantics-bounded, and the heavy input pass is one distributed agg.
    q("stat_spearman_rank",
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c
        |  FROM events GROUP BY 1),
        |r AS (SELECT d, row_number() OVER (ORDER BY p, d) AS rx,
        |    row_number() OVER (ORDER BY c, d) AS ry FROM daily),
        |st AS (SELECT count(*) AS n, sum((rx-ry)*(rx-ry)) AS d2 FROM r)
        |SELECT CAST(n AS BIGINT) AS n_days, CAST(d2 AS BIGINT) AS sum_d2,
        |  (CASE WHEN (n*n*n - n) - 6*d2 < 0 THEN -1 ELSE 1 END) *
        |    CAST((2000000 * abs((n*n*n - n) - 6*d2) + (n*n*n - n))
        |      // (2 * (n*n*n - n)) AS BIGINT) / 1000000.0 AS rho
        |FROM st""") { (s, dir) =>
      val daily = T.t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("p"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("c"))
      daily
        .withColumn("rx", row_number().over(Window.orderBy("p", "d")))
        .withColumn("ry", row_number().over(Window.orderBy("c", "d")))
        .agg(count(lit(1)).as("n"),
          sum((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("d2"))
        .select(col("n").as("n_days"), col("d2").as("sum_d2"),
          T.r6s("(n*n*n - n) - 6*d2", "n*n*n - n").as("rho"))
    },

    // Common-neighbor link prediction over the STRONG co-purchase graph —
    // the classic "people who bought X also bought Y" candidate scorer:
    // for every non-adjacent pair reachable through a shared neighbor,
    // the exact common-neighbor count plus the neighborhood Jaccard
    // (|N(a)∩N(b)| / |N(a)∪N(b)|) as the exact-rational 6dp boundary,
    // top-20 by (count, ids). Runs on the support-top-2000 edge set
    // (deterministic TakeOrdered cut: support desc, then ids — the
    // graph_cc_logrounds pattern): link prediction over EVERY noise
    // basket pair is Σd² wedges — 3·10⁸ at sf0.1 already, quadratic
    // doom at 100 TB — while the thresholded strong graph bounds the
    // wedge join by construction at any scale and is what a
    // recommender actually scores.
    q("graph_common_neighbors",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |sup AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    count(*) AS sup
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |pr AS (SELECT pa, pb FROM sup ORDER BY sup DESC, pa, pb
        |  LIMIT 2000),
        |e AS (SELECT pa AS src, pb AS dst FROM pr
        |  UNION ALL SELECT pb, pa FROM pr),
        |deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
        |w AS (SELECT e1.src AS a, e2.dst AS c, count(*) AS cn
        |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
        |  WHERE e1.src < e2.dst GROUP BY 1, 2),
        |nw AS (SELECT a, c, cn FROM w
        |  WHERE NOT EXISTS (SELECT 1 FROM pr
        |    WHERE pr.pa = w.a AND pr.pb = w.c))
        |SELECT a AS pa, c AS pb, CAST(cn AS BIGINT) AS common_n,
        |  CAST(da.d AS BIGINT) AS deg_a, CAST(dc.d AS BIGINT) AS deg_b,
        |  CAST((2000000 * cn + (da.d + dc.d - cn))
        |    // (2 * (da.d + dc.d - cn)) AS BIGINT) / 1000000.0 AS jaccard
        |FROM nw JOIN deg da ON nw.a = da.node JOIN deg dc ON nw.c = dc.node
        |ORDER BY common_n DESC, pa, pb LIMIT 20""") { (s, dir) =>
      val pr = GroupSeven.pairSupport(s, dir)
        .orderBy(col("sup").desc, col("pa"), col("pb")).limit(2000)
        .select("pa", "pb")
      val e = pr.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(pr.select(col("pb").as("src"), col("pa").as("dst")))
      val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      val w = e.as("e1")
        .join(e.as("e2"), col("e1.dst") === col("e2.src"))
        .where(col("e1.src") < col("e2.dst"))
        .groupBy(col("e1.src").as("a"), col("e2.dst").as("c"))
        .agg(count(lit(1)).as("cn"))
      w.join(pr, col("a") === col("pa") && col("c") === col("pb"),
          "left_anti")
        .join(deg.select(col("node").as("na"), col("d").as("deg_a")),
          col("a") === col("na"))
        .join(deg.select(col("node").as("nc"), col("d").as("deg_b")),
          col("c") === col("nc"))
        .select(col("a").as("pa"), col("c").as("pb"),
          col("cn").as("common_n"), col("deg_a"), col("deg_b"),
          T.r6("common_n", "deg_a + deg_b - common_n").as("jaccard"))
        .orderBy(col("common_n").desc, col("pa"), col("pb"))
        .limit(20)
    },

    // 2-D skyline (Pareto front) of orders on (earlier date better,
    // higher price better) — the classic dominance operator (Börzsönyi's
    // SKYLINE OF): an order survives iff no other order has an
    // earlier-or-equal date AND a higher-or-equal price with one strict.
    // Planned the scale-safe way: the data-sized pass is one groupBy to
    // a per-day max-price spine (one row per CALENDAR day — bounded by
    // years, not data), the running-max scan over strictly-earlier days
    // runs on that bounded spine, and survivors join back to the fact
    // table on (date, exact cents). Same-day equal-price ties all
    // survive, so the result is set-deterministic with no rank window
    // over data-sized input.
    sqlKey("window_skyline_2d",
      """WITH daily AS (SELECT o_orderdate AS d,
        |    max(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx
        |  FROM orders GROUP BY 1),
        |r AS (SELECT d, mx, max(mx) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM daily),
        |sky AS (SELECT d, mx FROM r WHERE pm IS NULL OR mx > pm)
        |SELECT o_orderkey, o_orderdate,
        |  CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE)
        |    / 100.0 AS price
        |FROM orders JOIN sky ON o_orderdate = sky.d
        |  AND CAST(round(o_totalprice * 100) AS BIGINT) = sky.mx
        |ORDER BY o_orderdate, o_orderkey"""),

    // One BPE training round by aggregation — the tokenizer-training
    // primitive: count every adjacent character pair across all token
    // OCCURRENCES in the corpus (the statistic byte-pair encoding
    // maximizes) and emit the top-10 merge candidates by (count, pair).
    // Pure generator → hash agg → TakeOrdered: the pair extraction is
    // per-row array code (no shuffle before the partial agg), so a
    // 100 TB corpus streams through map-side combine into a pair-
    // vocabulary-sized reduce. Exact integers end to end.
    q("text_bpe_pair_merge",
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |p AS (SELECT unnest(list_transform(range(length(tok) - 1),
        |    i -> substr(tok, CAST(i+1 AS INT), 2))) AS pair
        |  FROM t WHERE length(tok) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 10""") { (s, dir) =>
      T.t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .where(length(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok)-1)," +
            " i -> substring(tok, i, 2))")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(10)
    },

    // Filter-funnel attribution — the corpus-curation report every
    // C4-style cleaning run prints: each document is attributed to its
    // FIRST failing filter (priority: non-English → too short → high
    // stopword ratio → kept), with doc/token counts and the exact-
    // rational 6dp corpus share per stage. One scan computes every
    // per-row predicate (no explode), the stage label is a single CASE,
    // and the only non-scan work is an enum-sized agg plus a 1-row
    // total broadcast — the same plan at any corpus size.
    q("pipeline_filter_funnel",
      """WITH m AS (SELECT lang, string_split(text, ' ') AS arr
        |  FROM documents),
        |c AS (SELECT CASE WHEN lang <> 'en' THEN '1_non_en'
        |    WHEN len(arr) < 30 THEN '2_too_short'
        |    WHEN 5 * len(list_filter(arr, t -> t = 'a' OR t = 'the'))
        |      > len(arr) THEN '3_high_stopword'
        |    ELSE '4_kept' END AS stage, len(arr) AS nt FROM m),
        |tot AS (SELECT count(*) AS n FROM c)
        |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST((2000000 * count(*) + max(n)) // (2 * max(n)) AS BIGINT)
        |    / 1000000.0 AS share
        |FROM c CROSS JOIN tot GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val m = T.t(s, dir, "documents")
        .select(col("lang"), split(col("text"), " ").as("arr"))
        .select(
          when(col("lang") =!= "en", "1_non_en")
            .when(size(col("arr")) < 30, "2_too_short")
            .when(expr("5 * size(filter(arr, t -> t = 'a' OR t = 'the'))")
              > size(col("arr")), "3_high_stopword")
            .otherwise("4_kept").as("stage"),
          size(col("arr")).cast(LongType).as("nt"))
      val tot = m.agg(count(lit(1)).as("n"))
      m.groupBy("stage")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
        .crossJoin(broadcast(tot))
        .withColumn("share", T.r6("n_docs", "n"))
        .select("stage", "n_docs", "n_tokens", "share")
        .orderBy("stage")
    },

    // Inclusion-dependency (foreign-key) inference — the catalog-
    // profiling query a schema-discovery tool runs (the dbsuite
    // SYSCAT-analogue for REFERENTIAL constraints): for each declared
    // candidate child→parent column pair, the fraction of distinct
    // child values contained in the parent's distinct values. Five true
    // FKs plus one deliberate negative control; containment is the
    // exact-rational 6dp boundary and the verdict is containment = 1.
    // Each probe is distinct → left join → count: the heavy side
    // reduces to its distinct keys map-side before any shuffle.
    q("catalog_fk_inference",
      """WITH probes AS (
        |  SELECT 'lineitem.l_orderkey' AS child_col,
        |    'orders.o_orderkey' AS parent_col, count(*) AS n_child,
        |    count(p.k) AS n_matched
        |  FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem) c
        |  LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
        |    ON c.k = p.k
        |  UNION ALL SELECT 'lineitem.l_partkey', 'part.p_partkey',
        |    count(*), count(p.k)
        |  FROM (SELECT DISTINCT l_partkey AS k FROM lineitem) c
        |  LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) p
        |    ON c.k = p.k
        |  UNION ALL SELECT 'lineitem.l_suppkey', 'supplier.s_suppkey',
        |    count(*), count(p.k)
        |  FROM (SELECT DISTINCT l_suppkey AS k FROM lineitem) c
        |  LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier) p
        |    ON c.k = p.k
        |  UNION ALL SELECT 'orders.o_custkey', 'customer.c_custkey',
        |    count(*), count(p.k)
        |  FROM (SELECT DISTINCT o_custkey AS k FROM orders) c
        |  LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
        |    ON c.k = p.k
        |  UNION ALL SELECT 'customer.c_nationkey', 'nation.n_nationkey',
        |    count(*), count(p.k)
        |  FROM (SELECT DISTINCT c_nationkey AS k FROM customer) c
        |  LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p
        |    ON c.k = p.k
        |  UNION ALL SELECT 'lineitem.l_orderkey', 'part.p_partkey',
        |    count(*), count(p.k)
        |  FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem) c
        |  LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) p
        |    ON c.k = p.k)
        |SELECT child_col, parent_col, CAST(n_child AS BIGINT) AS n_child,
        |  CAST(n_matched AS BIGINT) AS n_matched,
        |  CAST((2000000 * n_matched + n_child) // (2 * n_child) AS BIGINT)
        |    / 1000000.0 AS containment,
        |  CAST(CASE WHEN n_matched = n_child THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_fk
        |FROM probes ORDER BY child_col, parent_col""") { (s, dir) =>
      def probe(child: DataFrame, childCol: String, childLbl: String,
          parent: DataFrame, parentCol: String, parentLbl: String) = {
        val c = child.select(col(childCol).as("k")).distinct()
        val p = parent.select(col(parentCol).as("pk")).distinct()
        c.join(p, col("k") === col("pk"), "left_outer")
          .agg(count(lit(1)).as("n_child"), count(col("pk")).as("n_matched"))
          .select(lit(childLbl).as("child_col"), lit(parentLbl).as("parent_col"),
            col("n_child"), col("n_matched"))
      }
      val li = T.t(s, dir, "lineitem"); val o = T.t(s, dir, "orders")
      Seq(
        probe(li, "l_orderkey", "lineitem.l_orderkey",
          o, "o_orderkey", "orders.o_orderkey"),
        probe(li, "l_partkey", "lineitem.l_partkey",
          T.t(s, dir, "part"), "p_partkey", "part.p_partkey"),
        probe(li, "l_suppkey", "lineitem.l_suppkey",
          T.t(s, dir, "supplier"), "s_suppkey", "supplier.s_suppkey"),
        probe(o, "o_custkey", "orders.o_custkey",
          T.t(s, dir, "customer"), "c_custkey", "customer.c_custkey"),
        probe(T.t(s, dir, "customer"), "c_nationkey", "customer.c_nationkey",
          T.t(s, dir, "nation"), "n_nationkey", "nation.n_nationkey"),
        probe(li, "l_orderkey", "lineitem.l_orderkey",
          T.t(s, dir, "part"), "p_partkey", "part.p_partkey"))
        .reduce(_ unionAll _)
        .withColumn("containment", T.r6("n_matched", "n_child"))
        .withColumn("is_fk",
          when(col("n_matched") === col("n_child"), 1L).otherwise(0L))
        .orderBy("child_col", "parent_col")
    },

    // Equi-depth (decile) histogram of extended price — the optimizer-
    // statistics primitive every engine's ANALYZE builds: 9 interior
    // decile boundaries from ONE distributed percentile aggregate
    // (Spark's Percentile partial-merges; DuckDB's quantile_cont is the
    // bit-identical interpolation, proved by agg_percentile_cont_interp),
    // broadcast as a 1-row array, then a second scan bins each row by
    // counting boundaries strictly below it — two scans total, no sort,
    // no shuffle of the fact table beyond the enum-sized final agg.
    q("agg_histogram_equidepth",
      """WITH b AS (SELECT quantile_cont(l_extendedprice,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        |  FROM lineitem),
        |a AS (SELECT len(list_filter(qs, q -> q < l_extendedprice))
        |    AS bucket, l_extendedprice AS p FROM lineitem CROSS JOIN b)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n, min(p) AS lo, max(p) AS hi
        |FROM a GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      // Re-planned (r16 optimization, guide §1.2/§5): the one-aggregate
      // `percentile(p, array(...))` form was the board's slowest steady key
      // (component-timed: 3.5 s of its 4.3 s at sf0.1) because exact
      // Percentile is an ObjectHashAggregate whose state is a counts map
      // over every DISTINCT price — 583k entries at sf0.1, DATA-SIZED at
      // 100 TB — merged and sorted on ONE reducer. The decile boundaries
      // are 18 order statistics, so find them with the two-phase bucket-
      // spine selection agg_weighted_median proved out: (1) aggregate row
      // counts onto the domain-bounded cent-bucket spine (cents >> 16 ≈
      // $655 buckets — ≤ ~170 rows at ANY sf, so the cumulative window is
      // spine-sized); (2) locate each needed global rank's bucket on the
      // spine; (3) row_number-select the exact ranks inside the ≤18
      // crossing buckets only (1/buckets of the data, bounded per-task
      // state); (4) reproduce Percentile.getPercentile's interpolation
      // term-for-term — position = (N−1)·pct, v = (higher−pos)·v_lo +
      // (pos−lower)·v_hi with the integral-position and equal-values
      // short-circuits — so the output is BIT-IDENTICAL (proved equal to
      // the old plan at sf0.001/0.01/0.1 before shipping; the DuckDB
      // oracle gates it every round). Measured 3.75 → 2.08 s same-window
      // at sf0.1; no data-sized aggregation state remains.
      val x = T.t(s, dir, "lineitem")
        .select(col("l_extendedprice").cast(DoubleType).as("p"))
      val withB = x.filter(col("p").isNotNull)
        .withColumn("bkt", expr("shiftright(cast(p * 100 as bigint), 16)"))
      val spine = withB.groupBy("bkt").agg(count(lit(1)).as("bw"))
      val wS = Window.orderBy("bkt")
      val cum = spine
        .withColumn("hi", sum(col("bw")).over(
          wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("lo", col("hi") - col("bw"))
      // rank targets from a column-pruned count-only scan (metadata read);
      // count(p) skips NULLs exactly as Percentile does
      val tgt = x.agg(count(col("p")).as("n"))
        .select(explode(expr(
          "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D)")).as("pct"),
          col("n"))
        .withColumn("pos", (col("n") - 1).cast(DoubleType) * col("pct"))
        .withColumn("rlo", floor(col("pos")))
        .withColumn("rhi", ceil(col("pos")))
      val ranks = tgt.select(explode(array(col("rlo"), col("rhi"))).as("r"))
        .distinct()
      // locate each rank's bucket on the spine (≤18 × ≤170 theta join)
      val need = ranks.join(cum,
          col("r") >= col("lo") && col("r") < col("hi"))
        .select(col("r"), col("bkt").as("nbkt"), col("lo").as("nlo"))
      val wB = Window.partitionBy("bkt").orderBy("p")
      val vals = withB
        .join(broadcast(need.select(col("nbkt").as("bkt")).distinct()), "bkt")
        .withColumn("ix", row_number().over(wB).cast(LongType) - 1)
        .join(broadcast(need),
          col("bkt") === col("nbkt") && col("ix") === col("r") - col("nlo"))
        .select(col("r"), col("p").as("v"))
      val q9 = tgt
        .join(vals.select(col("r").as("rlo"), col("v").as("vlo")), "rlo")
        .join(vals.select(col("r").as("rhi"), col("v").as("vhi")), "rhi")
        .select(col("pct"),
          when(col("rlo") === col("rhi") || col("vlo") === col("vhi"),
            col("vlo"))
            .otherwise(
              (col("rhi").cast(DoubleType) - col("pos")) * col("vlo") +
                (col("pos") - col("rlo").cast(DoubleType)) * col("vhi"))
            .as("qv"))
      val b = q9.agg(expr(
        "transform(array_sort(collect_list(struct(pct, qv))), e -> e.qv)")
        .as("qs"))
      x.crossJoin(broadcast(b))
        .select(expr("size(filter(qs, q -> q < p))").cast(LongType)
          .as("bucket"), col("p"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("p").as("lo"), max("p").as("hi"))
        .orderBy("bucket")
    },

    // Binary-quantized ANN — the 1-bit scalar-quantization path every
    // production vector store ships (32× memory cut, popcount distance):
    // each 64-dim embedding packs to two sign-bit halves (two BIGINTs —
    // bit 63 of a single word would collide with the sign), and top-5
    // neighbors per query rank by exact integer Hamming distance
    // bit_count(xor) with id tie-break. The packing is a scan-level
    // expression (at 100 TB the packed index is 16 bytes/vector), the
    // query side broadcasts, and every window is partitioned per query.
    q("vector_binary_hamming_topk",
      """WITH p AS (SELECT vec_id,
        |    CAST(list_sum(list_transform(range(32), i ->
        |      CASE WHEN embedding[CAST(i+1 AS INT)] > 0
        |        THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END))
        |      AS BIGINT) AS lo,
        |    CAST(list_sum(list_transform(range(32, 64), i ->
        |      CASE WHEN embedding[CAST(i+1 AS INT)] > 0
        |        THEN (CAST(1 AS BIGINT) << CAST(i-32 AS INT)) ELSE 0 END))
        |      AS BIGINT) AS hi
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi FROM p
        |  WHERE vec_id < 20),
        |c AS (SELECT vec_id AS c_id, lo, hi FROM p WHERE vec_id >= 20),
        |s AS (SELECT q_id, c_id,
        |    bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS dist
        |  FROM c CROSS JOIN q)
        |SELECT q_id, rnk, c_id, CAST(dist AS BIGINT) AS dist FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY dist, c_id) AS INT) AS rnk FROM s)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""") { (s, dir) =>
      val p = T.t(s, dir, "embeddings").select(col("vec_id"),
        expr("aggregate(sequence(0, 31), 0L, (acc, i) -> acc + " +
          "IF(element_at(embedding, i+1) > 0, shiftleft(1L, i), 0L))")
          .as("lo"),
        expr("aggregate(sequence(32, 63), 0L, (acc, i) -> acc + " +
          "IF(element_at(embedding, i+1) > 0, shiftleft(1L, i-32), 0L))")
          .as("hi"))
      val qs = p.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("lo").as("qlo"),
          col("hi").as("qhi"))
      val cs = p.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("c_id"), col("lo"), col("hi"))
      cs.crossJoin(broadcast(qs))
        .withColumn("dist",
          (expr("bit_count(lo ^ qlo)") + expr("bit_count(hi ^ qhi)"))
            .cast(LongType))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("dist"), col("c_id"))))
        .filter(col("rnk") <= 5)
        .select("q_id", "rnk", "c_id", "dist")
        .orderBy("q_id", "rnk")
    },

    // Modularity of the brand partition of the co-purchase graph — the
    // community-quality score (Newman Q): per brand c, contribution
    // e_c/m − (d_c/2m)², i.e. intra-brand edge share minus the expected
    // share under the degree-preserving null model. Everything is exact
    // integers over the STAGED pair table (shared with triangle/CC/
    // degree-histogram): Q's rational has denominator 4m², so the 6dp
    // boundary runs in DECIMAL(38,0) (2·10⁶·num overflows a BIGINT at
    // fixture-plus scale). Dims broadcast; the only data-sized work is
    // the edge scan + degree agg.
    q("graph_modularity",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pr AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |mm AS (SELECT count(*) AS m FROM pr),
        |bb AS (SELECT p_partkey, p_brand FROM part),
        |e2 AS (SELECT a.p_brand AS ba, b.p_brand AS bbr FROM pr
        |  JOIN bb a ON pr.pa = a.p_partkey
        |  JOIN bb b ON pr.pb = b.p_partkey),
        |intra AS (SELECT ba AS p_brand, count(*) AS ei FROM e2
        |  WHERE ba = bbr GROUP BY 1),
        |deg AS (SELECT node, count(*) AS d FROM (
        |    SELECT pa AS node FROM pr UNION ALL SELECT pb FROM pr)
        |  GROUP BY 1),
        |bd AS (SELECT p_brand, sum(d) AS dc FROM deg
        |  JOIN bb ON node = p_partkey GROUP BY 1),
        |j AS (SELECT bd.p_brand, coalesce(ei, 0) AS ei, dc, m
        |  FROM bd LEFT JOIN intra ON bd.p_brand = intra.p_brand
        |  CROSS JOIN mm)
        |SELECT p_brand, CAST(ei AS BIGINT) AS n_intra,
        |  CAST(dc AS BIGINT) AS deg_sum,
        |  (CASE WHEN 4*CAST(m AS HUGEINT)*ei - CAST(dc AS HUGEINT)*dc < 0
        |    THEN -1 ELSE 1 END) *
        |  CAST((2000000 * abs(4*CAST(m AS HUGEINT)*ei
        |        - CAST(dc AS HUGEINT)*dc)
        |      + 4*CAST(m AS HUGEINT)*m)
        |    // (2 * (4*CAST(m AS HUGEINT)*m)) AS BIGINT) / 1000000.0
        |    AS contrib
        |FROM j ORDER BY p_brand""") { (s, dir) =>
      val pr = GroupSeven.pairSupport(s, dir).select("pa", "pb")
      val mm = pr.agg(count(lit(1)).as("m"))
      val bb = broadcast(T.t(s, dir, "part").select("p_partkey", "p_brand"))
      val e2 = pr
        .join(bb.select(col("p_partkey").as("ka"), col("p_brand").as("ba")),
          col("pa") === col("ka"))
        .join(bb.select(col("p_partkey").as("kb"), col("p_brand").as("bbr")),
          col("pb") === col("kb"))
      val intra = e2.where(col("ba") === col("bbr"))
        .groupBy(col("ba").as("p_brand")).agg(count(lit(1)).as("ei"))
      val deg = pr.select(col("pa").as("node"))
        .unionAll(pr.select(col("pb").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val bd = deg
        .join(bb.select(col("p_partkey").as("node"), col("p_brand")), "node")
        .groupBy("p_brand").agg(sum("d").as("dc"))
      bd.join(intra, Seq("p_brand"), "left_outer")
        .withColumn("ei", coalesce(col("ei"), lit(0L)))
        .crossJoin(broadcast(mm))
        .select(col("p_brand"), col("ei").as("n_intra"),
          col("dc").as("deg_sum"),
          T.r6s(
            "4L*cast(m as decimal(38,0))*ei - cast(dc as decimal(38,0))*dc",
            "4L*cast(m as decimal(38,0))*m").as("contrib"))
        .orderBy("p_brand")
    },

    // KMV sketch set operations — the mergeable-sketch algebra a
    // 100 TB profiler runs instead of exact distincts: k-minimum-values
    // sketches (k = 64, the engine-portable poly_hash) of the URGENT
    // and 2-HIGH customer sets, merged by k-min union, with the
    // intersection estimated from the union sketch's match fraction
    // (est_i = matches·est_u div k). Every estimate is pure integer
    // arithmetic — deterministic on any engine or partitioning — with
    // the exact distinct counts alongside as the audit columns. Sketch
    // construction is TakeOrdered(64) over a map-side-distinct scan.
    q("agg_kmv_set_ops",
      """WITH ha AS (SELECT DISTINCT (list_reduce(
        |    list_concat([CAST(0 AS HUGEINT)],
        |      list_transform(range(length(CAST(o_custkey AS VARCHAR))),
        |        j -> CAST(ascii(substr(CAST(o_custkey AS VARCHAR),
        |          CAST(j+1 AS INT), 1)) AS HUGEINT))),
        |    (h, c) -> (h * 257 + c) % CAST(2305843009213693951 AS HUGEINT)
        |  ) * CAST(1181783497276652981 AS HUGEINT) + 1)
        |    % CAST(2305843009213693951 AS HUGEINT) AS hv
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |hb AS (SELECT DISTINCT (list_reduce(
        |    list_concat([CAST(0 AS HUGEINT)],
        |      list_transform(range(length(CAST(o_custkey AS VARCHAR))),
        |        j -> CAST(ascii(substr(CAST(o_custkey AS VARCHAR),
        |          CAST(j+1 AS INT), 1)) AS HUGEINT))),
        |    (h, c) -> (h * 257 + c) % CAST(2305843009213693951 AS HUGEINT)
        |  ) * CAST(1181783497276652981 AS HUGEINT) + 1)
        |    % CAST(2305843009213693951 AS HUGEINT) AS hv
        |  FROM orders WHERE o_orderpriority = '2-HIGH'),
        |ka AS (SELECT max(hv) AS kth, count(*) AS k FROM
        |  (SELECT hv FROM ha ORDER BY hv LIMIT 64)),
        |kb AS (SELECT max(hv) AS kth, count(*) AS k FROM
        |  (SELECT hv FROM hb ORDER BY hv LIMIT 64)),
        |u AS (SELECT hv, max(ia) AS ia, max(ib) AS ib FROM (
        |    SELECT hv, 1 AS ia, 0 AS ib FROM ha
        |    UNION ALL SELECT hv, 0, 1 FROM hb) GROUP BY hv),
        |su AS (SELECT * FROM u ORDER BY hv LIMIT 64),
        |ku AS (SELECT max(hv) AS kth, count(*) AS k,
        |    sum(ia * ib) AS matches FROM su),
        |ex AS (SELECT
        |    (SELECT count(*) FROM ha) AS exact_a,
        |    (SELECT count(*) FROM hb) AS exact_b)
        |SELECT CAST(exact_a AS BIGINT) AS exact_a,
        |  CAST(exact_b AS BIGINT) AS exact_b,
        |  CAST((CAST(ka.k - 1 AS HUGEINT) * 2305843009213693951) // ka.kth
        |    AS BIGINT) AS est_a,
        |  CAST((CAST(kb.k - 1 AS HUGEINT) * 2305843009213693951) // kb.kth
        |    AS BIGINT) AS est_b,
        |  CAST((CAST(ku.k - 1 AS HUGEINT) * 2305843009213693951) // ku.kth
        |    AS BIGINT) AS est_union,
        |  CAST((CAST(ku.matches AS HUGEINT) *
        |      ((CAST(ku.k - 1 AS HUGEINT) * 2305843009213693951) // ku.kth))
        |    // ku.k AS BIGINT) AS est_inter
        |FROM ex CROSS JOIN ka CROSS JOIN kb CROSS JOIN ku""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val o = T.t(s, dir, "orders")
      def hashes(prio: String) =
        o.where(col("o_orderpriority") === prio)
          .select(col("o_custkey")).distinct()
          .select(call_function("poly_hash",
            col("o_custkey").cast("string")).as("hv"))
      val ha = hashes("1-URGENT"); val hb = hashes("2-HIGH")
      val M = "2305843009213693951L"
      def sketch(h: DataFrame, est: String) =
        h.orderBy("hv").limit(64)
          .agg(max("hv").as("kth"), count(lit(1)).as("k"))
          .select(expr(s"(cast(k - 1 as decimal(38,0)) * $M) div kth")
            .as(est))
      val u = ha.select(col("hv"), lit(1L).as("ia"), lit(0L).as("ib"))
        .unionAll(hb.select(col("hv"), lit(0L).as("ia"), lit(1L).as("ib")))
        .groupBy("hv").agg(max("ia").as("ia"), max("ib").as("ib"))
      val ku = u.orderBy("hv").limit(64)
        .agg(max("hv").as("kth"), count(lit(1)).as("k"),
          sum(col("ia") * col("ib")).as("matches"))
        .select(expr(s"(cast(k - 1 as decimal(38,0)) * $M) div kth")
          .as("est_union"), col("matches"), col("k"))
      ha.agg(count(lit(1)).as("exact_a"))
        .crossJoin(broadcast(hb.agg(count(lit(1)).as("exact_b"))))
        .crossJoin(broadcast(sketch(ha, "est_a")))
        .crossJoin(broadcast(sketch(hb, "est_b")))
        .crossJoin(broadcast(ku))
        .select(col("exact_a"), col("exact_b"), col("est_a"), col("est_b"),
          col("est_union"),
          expr("(cast(matches as decimal(38,0)) * est_union) div k")
            .as("est_inter"))
    },

    // OHLC bars — the canonical time-series downsample (open/high/low/
    // close/volume per instrument per day): open/close are SELECTED by
    // deterministic first/last rank (ts with event_id tie-break — no
    // min_by/arg_min, whose tie behavior differs between engines),
    // high/low/volume are plain per-group aggregates. Every window is
    // PARTITIONED by (type, day); at 100 TB this is one shuffle on the
    // bar key with per-partition sorts — the plan a market-data or
    // metrics pipeline wants.
    q("ts_ohlc_bars",
      """WITH b AS (SELECT event_type, CAST(ts AS DATE) AS d, value,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT event_type, d, CAST(count(*) AS BIGINT) AS n_events,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      val e = T.t(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("d"),
          col("ts"), col("event_id"), col("value"))
      val wA = Window.partitionBy("event_type", "d")
        .orderBy(col("ts"), col("event_id"))
      val wD = Window.partitionBy("event_type", "d")
        .orderBy(col("ts").desc, col("event_id").desc)
      e.withColumn("rn_a", row_number().over(wA))
        .withColumn("rn_d", row_number().over(wD))
        .groupBy("event_type", "d")
        .agg(count(lit(1)).as("n_events"),
          max(when(col("rn_a") === 1, col("value"))).as("open"),
          max("value").as("high"), min("value").as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"))
        .orderBy("event_type", "d")
    },

    // Null-aware anti join — NOT IN's three-valued-logic contract, the
    // semantic trap every engine must honor: with a NULL anywhere in the
    // subquery list, `x NOT IN (list)` is never TRUE, so the result is
    // EMPTY; without NULLs it is a plain anti join. Both variants in one
    // key, counted, so the oracle pins the 3VL behavior itself. Spark
    // plans the NULL variant as a null-aware broadcast anti join —
    // exactly the special-cased operator this key exists to exercise.
    sqlKey("join_anti_null_aware",
      """SELECT 'no_null' AS variant, CAST(count(*) AS BIGINT) AS n_rows
        |FROM customer WHERE c_nationkey NOT IN
        |  (SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'with_null', CAST(count(*) AS BIGINT)
        |FROM customer WHERE c_nationkey NOT IN
        |  (SELECT s_nationkey FROM supplier UNION ALL SELECT NULL)
        |ORDER BY variant"""),

    // Degree assortativity of the co-purchase graph — Newman's r: the
    // Pearson correlation of endpoint degrees over directed edges (both
    // orientations, so the statistic is symmetric). All moments are
    // EXACT integer sums in DECIMAL(38,0) (Σd, Σd², Σdₐ·d_b — BIGINT
    // products wrap at 100 TB edge counts), and r divides two exact
    // quantities cast to double with identical parenthesization, rounded
    // 6dp (the chi2 contract: denominator astronomically large, ties
    // structurally impossible). Answers "do popular parts co-sell with
    // popular parts" — the first structural question after the degree
    // histogram.
    q("graph_assortativity",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pr AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |e AS (SELECT pa AS src, pb AS dst FROM pr
        |  UNION ALL SELECT pb, pa FROM pr),
        |deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
        |ed AS (SELECT da.d AS dx, db.d AS dy FROM e
        |  JOIN deg da ON e.src = da.node JOIN deg db ON e.dst = db.node),
        |st AS (SELECT count(*) AS n, sum(CAST(dx AS HUGEINT)) AS sx,
        |    sum(CAST(dx AS HUGEINT) * dy) AS sxy,
        |    sum(CAST(dx AS HUGEINT) * dx) AS sxx FROM ed)
        |SELECT CAST(n AS BIGINT) AS n_edges,
        |  round(CAST(CAST(n AS HUGEINT) * sxy - sx * sx AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE), 6)
        |    AS assortativity
        |FROM st""") { (s, dir) =>
      val pr = GroupSeven.pairSupport(s, dir).select("pa", "pb")
      val e = pr.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(pr.select(col("pb").as("src"), col("pa").as("dst")))
      // degree comes from the staged artifact (shared with triangle
      // count / CC / the degree histogram) instead of a per-invocation
      // degree shuffle; the two endpoint attachments stay AQE-sized
      val deg = GroupSeven.pairDegree(s, dir)
      val ed = e
        .join(deg.select(col("node").as("na"), col("d").as("dx")),
          col("src") === col("na"))
        .join(deg.select(col("node").as("nb"), col("d").as("dy")),
          col("dst") === col("nb"))
      ed.agg(count(lit(1)).as("n"),
          sum(col("dx").cast(DecimalType(38, 0))).as("sx"),
          sum((col("dx").cast(DecimalType(38, 0)) * col("dy"))).as("sxy"),
          sum((col("dx").cast(DecimalType(38, 0)) * col("dx"))).as("sxx"))
        .select(col("n").cast(LongType).as("n_edges"),
          round(
            expr("cast(cast(n as decimal(38,0)) * sxy - sx * sx as double)")
              / expr(
                "cast(cast(n as decimal(38,0)) * sxx - sx * sx as double)"),
            6).as("assortativity"))
    },

    // Deterministic epoch shuffle — the reproducible data-ordering step
    // of a training run: epoch e's order is poly_hash("e:doc_id"), so
    // every epoch is a different but REPLAYABLE permutation (same on any
    // engine, partitioning or rerun — the property torn-down-and-resumed
    // training jobs need). The key emits each epoch's first five docs;
    // each epoch is its own TakeOrdered (orderBy + limit) — at 100 TB
    // "the head of a shuffle order" never global-sorts the corpus.
    q("pipeline_epoch_shuffle",
      """WITH d AS (SELECT doc_id,
        |    CAST(1 AS BIGINT) + 0 AS _one FROM documents),
        |hs AS (SELECT e, doc_id, (list_reduce(
        |    list_concat([CAST(0 AS HUGEINT)],
        |      list_transform(range(length(CAST(e AS VARCHAR) || ':' ||
        |          CAST(doc_id AS VARCHAR))),
        |        j -> CAST(ascii(substr(CAST(e AS VARCHAR) || ':' ||
        |          CAST(doc_id AS VARCHAR), CAST(j+1 AS INT), 1))
        |          AS HUGEINT))),
        |    (h, c) -> (h * 257 + c) % CAST(2305843009213693951 AS HUGEINT)
        |  ) * CAST(1181783497276652981 AS HUGEINT) + 1)
        |    % CAST(2305843009213693951 AS HUGEINT) AS hv
        |  FROM d CROSS JOIN (SELECT unnest([1, 2, 3]) AS e)),
        |r AS (SELECT e, doc_id, hv,
        |    row_number() OVER (PARTITION BY e ORDER BY hv, doc_id) AS rn
        |  FROM hs)
        |SELECT CAST(e AS BIGINT) AS epoch, CAST(rn AS BIGINT) AS pos,
        |  doc_id, CAST(hv AS BIGINT) AS hv
        |FROM r WHERE rn <= 5 ORDER BY epoch, pos""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val docs = T.t(s, dir, "documents").select("doc_id")
      (1 to 3).map { e =>
        docs.select(lit(e.toLong).as("epoch"), col("doc_id"),
          call_function("poly_hash",
            concat(lit(s"$e:"), col("doc_id").cast("string"))).as("hv"))
          .orderBy("hv", "doc_id").limit(5)
          .withColumn("pos", row_number().over(
            Window.partitionBy("epoch").orderBy("hv", "doc_id"))
            .cast(LongType))
      }.reduce(_ unionAll _)
        .select("epoch", "pos", "doc_id", "hv")
        .orderBy("epoch", "pos")
    },

    // Join-cardinality estimation — the cost-based-optimizer diagnostic:
    // the EXACT join size |lineitem ⋈ orders| computed WITHOUT
    // materializing the join (Σ_k cntA(k)·cntB(k) over the key-count
    // tables — the two-pass trick a 100 TB planner uses), next to the
    // textbook independence estimate |A|·|B| / max(ndv_A, ndv_B), with
    // the signed relative error at the exact-rational 6dp boundary.
    // Everything is integer arithmetic in DECIMAL(38,0).
    q("catalog_join_card_estimate",
      """WITH ca AS (SELECT l_orderkey AS k, count(*) AS c
        |  FROM lineitem GROUP BY 1),
        |cb AS (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |ex AS (SELECT sum(CAST(ca.c AS HUGEINT) * cb.c) AS exact_card
        |  FROM ca JOIN cb ON ca.k = cb.k),
        |sa AS (SELECT count(*) AS n_a, count(DISTINCT l_orderkey) AS ndv_a
        |  FROM lineitem),
        |sb AS (SELECT count(*) AS n_b, count(DISTINCT o_orderkey) AS ndv_b
        |  FROM orders),
        |est AS (SELECT n_a, ndv_a, n_b, ndv_b,
        |    (CAST(n_a AS HUGEINT) * n_b) // greatest(ndv_a, ndv_b)
        |      AS indep_est, exact_card
        |  FROM sa CROSS JOIN sb CROSS JOIN ex)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(ndv_a AS BIGINT) AS ndv_a,
        |  CAST(n_b AS BIGINT) AS n_b, CAST(ndv_b AS BIGINT) AS ndv_b,
        |  CAST(exact_card AS BIGINT) AS exact_card,
        |  CAST(indep_est AS BIGINT) AS indep_est,
        |  (CASE WHEN indep_est - exact_card < 0 THEN -1 ELSE 1 END) *
        |    CAST((2000000 * abs(indep_est - exact_card) + exact_card)
        |      // (2 * exact_card) AS BIGINT) / 1000000.0 AS rel_err
        |FROM est""") { (s, dir) =>
      val li = T.t(s, dir, "lineitem"); val o = T.t(s, dir, "orders")
      val ca = li.groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("c"))
      val cb = o.groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("cb"))
      val ex = ca.join(cb, "k")
        .agg(sum(col("c").cast(DecimalType(38, 0)) * col("cb"))
          .as("exact_card"))
      val sa = li.agg(count(lit(1)).as("n_a"),
        countDistinct(col("l_orderkey")).as("ndv_a"))
      val sb = o.agg(count(lit(1)).as("n_b"),
        countDistinct(col("o_orderkey")).as("ndv_b"))
      sa.crossJoin(broadcast(sb)).crossJoin(broadcast(ex))
        .withColumn("indep_est", expr(
          "(cast(n_a as decimal(38,0)) * n_b) div greatest(ndv_a, ndv_b)"))
        .select(col("n_a"), col("ndv_a"), col("n_b"), col("ndv_b"),
          col("exact_card").cast(LongType).as("exact_card"),
          col("indep_est"),
          T.r6s("cast(indep_est as decimal(38,0)) - exact_card",
            "exact_card").as("rel_err"))
    },

    // Population Stability Index — the model-monitoring drift score
    // between the first calendar week and the rest of the month, binned
    // by a single shared IEEE expression (64-unit value buckets). Counts
    // and totals are exact integers; each bin's PSI term
    // (p−q)·ln(p/q) divides exact ints to doubles with identical
    // parenthesization and rounds 6dp (the entropy-key ln contract) —
    // emitted PER BIN, never float-summed, so the output is order- and
    // partition-independent. One scan + enum-sized agg.
    q("dq_population_stability",
      """WITH b AS (SELECT least(9, CAST(floor(value / 64.0) AS BIGINT))
        |    AS bin,
        |    CASE WHEN CAST(date_part('day', ts) AS INT) <= 7
        |      THEN 1 ELSE 0 END AS is_ref
        |  FROM events),
        |c AS (SELECT bin, sum(is_ref) AS nr, sum(1 - is_ref) AS nc
        |  FROM b GROUP BY 1),
        |t AS (SELECT sum(nr) AS tr, sum(nc) AS tc FROM c)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(nr AS BIGINT) AS n_ref,
        |  CAST(nc AS BIGINT) AS n_cur,
        |  CASE WHEN nr = 0 OR nc = 0 THEN NULL ELSE
        |    round((CAST(nr AS DOUBLE) / tr - CAST(nc AS DOUBLE) / tc)
        |      * ln((CAST(nr AS DOUBLE) / tr) / (CAST(nc AS DOUBLE) / tc)),
        |      6) END AS psi_term
        |FROM c CROSS JOIN t ORDER BY bin""") { (s, dir) =>
      val b = T.t(s, dir, "events")
        .select(least(lit(9L), floor(col("value") / 64.0d).cast(LongType))
          .as("bin"),
          when(dayofmonth(col("ts")) <= 7, 1L).otherwise(0L).as("is_ref"))
      val c = b.groupBy("bin")
        .agg(sum("is_ref").as("nr"), sum(lit(1L) - col("is_ref")).as("nc"))
      val t = c.agg(sum("nr").as("tr"), sum("nc").as("tc"))
      c.crossJoin(broadcast(t))
        .select(col("bin"), col("nr").as("n_ref"), col("nc").as("n_cur"),
          when(col("nr") === 0 || col("nc") === 0,
            lit(null).cast(DoubleType))
            .otherwise(round(
              (col("nr").cast(DoubleType) / col("tr")
                - col("nc").cast(DoubleType) / col("tc"))
                * log((col("nr").cast(DoubleType) / col("tr"))
                  / (col("nc").cast(DoubleType) / col("tc"))), 6))
            .as("psi_term"))
        .orderBy("bin")
    },

    // Column-level lineage — the SYSCAT.COLDEP analogue completing the
    // catalog family (tables → profiles → view deps → COLUMN deps): a
    // revenue-summary view's output columns traced through the ANALYZED
    // plan's alias graph to the base-relation columns they derive from
    // (`Exec.columnLineage`). Literal-only outputs (count(*)) have no
    // lineage rows, by design; the oracle declares the expected edge
    // set. Driver-side plan introspection — no data is read.
    q("catalog_column_lineage",
      """SELECT * FROM (VALUES
        |  ('avg_line_qty', 'lineitem', 'l_quantity'),
        |  ('revenue', 'orders', 'o_totalprice'),
        |  ('status', 'orders', 'o_orderstatus'))
        |AS t(out_col, src_table, src_col)
        |ORDER BY out_col, src_table, src_col""") { (s, dir) =>
      val sfx = (dir.hashCode & Int.MaxValue).toString
      def reg(tbl: String): String = {
        val n = s"graft_lin_${tbl}_$sfx"
        T.t(s, dir, tbl).createOrReplaceTempView(n)
        n
      }
      val ord = reg("orders"); val li = reg("lineitem")
      val v = s"graft_v_revsum_$sfx"
      s.sql(s"""CREATE OR REPLACE TEMP VIEW $v AS
        SELECT o_orderstatus AS status,
          sum(o_totalprice) AS revenue,
          count(*) AS n_orders,
          avg(l.l_quantity) AS avg_line_qty
        FROM $ord o JOIN $li l ON o.o_orderkey = l.l_orderkey
        GROUP BY o_orderstatus""")
      import s.implicits._
      graft.Exec.columnLineage(s, v, Set(ord, li))
        .map { case (out, tbl, c) =>
          (out, tbl.stripPrefix("graft_lin_").stripSuffix(s"_$sfx"), c)
        }
        .toDF("out_col", "src_table", "src_col")
        .where(col("out_col") =!= "n_orders") // literal-only: no lineage
        .orderBy("out_col", "src_table", "src_col")
    },

    // Calibration (reliability) bins — the model-evaluation primitive
    // after the decision stump: 20 equal-width score bins of the order
    // total (shared-IEEE binning from a 1-row min/max scalar, the stump's
    // grid), each reporting count, positive fraction (exact-rational
    // 6dp) and mean score (exact decimal sum ÷ count). A calibrated
    // score's frac_pos should rise with the bin — the spec pins the
    // bracket, the oracle pins the numbers. One scan + 20-row agg.
    q("ml_calibration_bins",
      """WITH o AS (SELECT o_totalprice AS p,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |mm AS (SELECT min(p) AS mn, max(p) AS mx FROM o),
        |b AS (SELECT least(19, CAST(floor((p - mn) / ((mx - mn) / 20.0))
        |    AS BIGINT)) AS bin, p, y FROM o CROSS JOIN mm)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST((2000000 * sum(y) + count(*)) // (2 * count(*)) AS BIGINT)
        |    / 1000000.0 AS frac_pos,
        |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    AS avg_price
        |FROM b GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val o = T.t(s, dir, "orders")
        .select(col("o_totalprice").cast(DoubleType).as("p"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("y"))
      val mm = o.agg(min("p").as("mn"), max("p").as("mx"))
      o.crossJoin(broadcast(mm))
        .select(least(lit(19L),
          floor((col("p") - col("mn")) / ((col("mx") - col("mn")) / 20.0))
            .cast(LongType)).as("bin"), col("p"), col("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
          T.davg(col("p")).as("avg_price"))
        .withColumn("frac_pos", T.r6("n_pos", "n"))
        .select("bin", "n", "n_pos", "frac_pos", "avg_price")
        .orderBy("bin")
    },

    // NATIVE per-group top-k — the whole-operator extension ladder
    // (custom LogicalPlan → SparkStrategy → SparkPlan, graft.plans.TopK):
    // top-3 orders per priority by (price, key), executed by bounded
    // per-group heaps (O(n log k), O(groups·k) memory) instead of
    // WindowExec's full partition sort. Ordering must be TOTAL
    // ((price desc, key) here) for the result to be well-defined — same
    // contract as the rank-window formulation the oracle uses. The
    // exchange on the group key is still Catalyst's (the node declares
    // ClusteredDistribution), so AQE plans it like any aggregate.
    q("operator_topk_native",
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderpriority, o_totalprice DESC,
        |  o_orderkey""") { (s, dir) =>
      graft.plans.TopK.topKPerGroup(
        T.t(s, dir, "orders")
          .select("o_orderpriority", "o_orderkey", "o_totalprice"),
        Seq("o_orderpriority"),
        Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc,
          col("o_orderkey"))
    }
  )
}
