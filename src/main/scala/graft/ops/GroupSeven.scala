package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-T (round 7) — statistics, mining, and pipeline widening:
  * χ² independence, Benford digit audit, fixed-point naive Bayes,
  * degree-oriented triangle counting, frequent-pair mining, shard-manifest
  * planning, bucketed interval-overlap join, MERGE upsert matrix, seasonal
  * indexing, and prefix-dimension (matryoshka-style) two-stage retrieval.
  *
  * Determinism posture: every rate/share output uses the exact-integer
  * HALF_UP 6dp form (graft.T.r6) — no engine-dependent double rounding of
  * small-denominator rationals; double formulas (χ² contributions, log
  * probabilities) pass through a transcendental so a 6th-decimal tie has
  * measure zero (tools/tiescan.py enforces), and are written with IDENTICAL
  * parenthesization in the Spark plan and the DuckDB oracle; every query
  * ends in a total ordering.
  */
object GroupSeven {

  /** Staged co-purchase pair-SUPPORT table (pa < pb, sup = number of
    * orders containing both parts) — the expensive lineitem self-join AND
    * its support aggregation staged ONCE per dataset (the shingle-index
    * pattern) and shared by triangle counting, frequent-pair mining,
    * k-core peeling, and the centrality keys. At 100 TB this table is the
    * materialized artifact all basket/graph analytics read, not something
    * each query recomputes. The distinct co-purchase pair set is exactly
    * this table's key set (`select pa, pb` — no re-distinct needed).
    *
    * r15 re-stage (VERDICT r14 #3): the artifact previously stopped at
    * the PER-ORDER pair rows and every consumer re-ran
    * `groupBy(pa,pb).count` (or `.distinct()`) over them on EVERY
    * invocation — a data-sized aggregation (~240 M rows at the ×100
    * fixture) that was THE super-linear stage behind katz 7.3× /
    * cc_logrounds 4.7× per data decade in the r14 iterative-loop sweep.
    * Aggregating once at staging time makes each consumer read a
    * distinct-pair-sized parquet instead. */
  private[ops] def pairSupport(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val stage = T.staged("pair_support", dir) { o =>
      // r16 within-row pair generation (the pca Gram replan pattern):
      // one collect_set per order (dedups l_partkey in the same shuffle
      // the old `.distinct()` paid) and the pa<pb pairs generated from
      // the SORTED array inside the row — the distinct exchange, both
      // self-join exchanges, and the join itself are gone (4 exchanges
      // → 2: orderkey agg + the (pa,pb) support agg). Fan-out per order
      // is C(lines,2) exactly as the join had; sort_array makes pa<pb
      // by construction.
      T.t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps)), y -> " +
            "struct(x AS pa, y AS pb))))")).as("p"))
        .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("sup"))
        .write.mode("overwrite").parquet(o)
    }
    T.parquet(s, stage)
  }

  /** Staged degree-oriented adjacency index over the full co-purchase
    * graph, built ONCE per (dataset, JVM) on top of the staged
    * pair_support (nested staging is legal as of the r15 re-entrant
    * T.staged): `degree/` = undirected degree per node over the
    * distinct-pair key set; `adj/` = per-node out-neighbor array under
    * the standard (degree, id) orientation, the O(√m)-out-degree form
    * triangle enumeration reads. Shared by triangle counting, the
    * clustering coefficient, the degree histogram, and assortativity —
    * this is the adjacency index a production graph store materializes
    * NEXT TO the edge table, so each query starts at "one join against
    * the index" instead of re-running the degree shuffle + two
    * orientation joins + collect_list per invocation. Neighbor arrays
    * are sorted for bit-stable artifact files; intersection results are
    * order-invariant either way. */
  private[ops] def orientedAdjDir(s: SparkSession, dir: String): String =
    T.staged("oriented_adj", dir) { o =>
      val e0 = pairSupport(s, dir).select("pa", "pb")
      e0.select(col("pa").as("node"))
        .unionAll(e0.select(col("pb").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
        .write.parquet(s"$o/degree")
      // orientation joins read the degree back from the written parquet
      // (one scan of a node-sized table) instead of recomputing the
      // degree aggregation once per join side
      val dg = s.read.parquet(s"$o/degree")
      e0.join(dg.select(col("node").as("pa"), col("d").as("da")), "pa")
        .join(dg.select(col("node").as("pb"), col("d").as("db")), "pb")
        .select(
          when(col("da") < col("db")
            || (col("da") === col("db") && col("pa") < col("pb")), col("pa"))
            .otherwise(col("pb")).as("src"),
          when(col("da") < col("db")
            || (col("da") === col("db") && col("pa") < col("pb")), col("pb"))
            .otherwise(col("pa")).as("dst"))
        .groupBy("src").agg(sort_array(collect_list(col("dst"))).as("nbrs"))
        .write.parquet(s"$o/adj")
    }

  /** Staged weighted nation co-purchase digraph (src = c_nationkey,
    * dst = s_nationkey, w = co-purchase count) — the 4-way
    * lineitem⋈orders⋈customer⋈supplier star join aggregated ONCE per
    * (dataset, JVM) and shared by graph_pagerank, graph_hits_hubs,
    * graph_sssp_frontier, graph_label_propagation and graph_walk_corpus
    * (r16: each of the five previously re-ran the identical data-sized
    * star join on every invocation; the artifact is nation-enum-sized,
    * ≤ 625 rows at any scale, so every consumer now starts at "read a
    * tiny parquet"). Same staging rationale as [[pairSupport]]: at
    * 100 TB the co-purchase graph is the materialized table the graph
    * family reads, not something each query recomputes. */
  private[ops] def nationEdges(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val stage = T.staged("nation_edges", dir) { o =>
      T.t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(T.t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(T.t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(T.t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        .write.mode("overwrite").parquet(o)
    }
    T.parquet(s, stage)
  }

  /** The oriented out-neighbor arrays (src, nbrs) of [[orientedAdjDir]]. */
  private[ops] def orientedAdj(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    T.parquet(s, s"${orientedAdjDir(s, dir)}/adj")

  /** The undirected full-graph degree table (node, d) of [[orientedAdjDir]]. */
  private[ops] def pairDegree(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    T.parquet(s, s"${orientedAdjDir(s, dir)}/degree")

  /** The engine-portable polynomial string hash as a DuckDB fold — same
    * arithmetic as graft.functions.PolyTokenHash (h·257+c mod 2⁶¹−1, then a
    * multiplicative finalizer), HUGEINT intermediates. */
  private def duckPolyHash(expr: String): String =
    s"""(list_reduce(
       |    list_concat([CAST(0 AS HUGEINT)],
       |      list_transform(range(length($expr)),
       |        j -> CAST(ascii(substr($expr, CAST(j+1 AS INT), 1)) AS HUGEINT))),
       |    (h, c) -> (h * 257 + c) % CAST(2305843009213693951 AS HUGEINT)
       |  ) * CAST(1181783497276652981 AS HUGEINT) + 1)
       |    % CAST(2305843009213693951 AS HUGEINT)""".stripMargin

  val defs: Seq[Q] = Seq(

    // χ² test of independence (event_type × day-of-week) — the "is usage
    // day-patterned per type" screen run before any seasonality modeling.
    // Observed counts and both marginals are exact integers from ONE scan;
    // expected = rt·ct/n is an exact small-denominator rational → emitted
    // in exact-int HALF_UP form (T.r6); the χ² cell contribution
    // (n·o − rt·ct)²/(n·rt·ct) divides two exact integers cast to double
    // with identical parenthesization (its denominator is astronomically
    // large, so a 6dp tie is structurally impossible — tiescan-verified).
    // All joins after the scan are against enum-sized marginals: broadcast.
    q("stat_chi2_independence",
      """WITH base AS (SELECT event_type AS et,
        |    CAST(date_part('dow', ts) AS INT) AS dow FROM events),
        |o AS (SELECT et, dow, count(*) AS o FROM base GROUP BY 1, 2),
        |rt AS (SELECT et, count(*) AS rt FROM base GROUP BY 1),
        |ct AS (SELECT dow, count(*) AS ct FROM base GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM base)
        |SELECT et, dow, o,
        |  CAST((2000000 * CAST(rt AS HUGEINT) * ct + n)
        |    // (2 * CAST(n AS HUGEINT)) AS BIGINT) / 1000000.0 AS expected,
        |  round((CAST(CAST(n AS HUGEINT) * o - CAST(rt AS HUGEINT) * ct AS DOUBLE)
        |      * CAST(CAST(n AS HUGEINT) * o - CAST(rt AS HUGEINT) * ct AS DOUBLE))
        |    / CAST(n AS DOUBLE) / CAST(rt AS DOUBLE) / CAST(ct AS DOUBLE), 6) AS contrib
        |FROM o JOIN rt USING (et) JOIN ct USING (dow) CROSS JOIN n
        |ORDER BY et, dow""") { (s, dir) =>
      val base = T.t(s, dir, "events")
        .select(col("event_type").as("et"),
          (dayofweek(col("ts")) - 1).cast(IntegerType).as("dow"))
      val o = base.groupBy("et", "dow").agg(count(lit(1)).as("o"))
      val rt = base.groupBy("et").agg(count(lit(1)).as("rt"))
      val ct = base.groupBy("dow").agg(count(lit(1)).as("ct"))
      val n = base.agg(count(lit(1)).as("n"))
      o.join(broadcast(rt), "et").join(broadcast(ct), "dow")
        .crossJoin(broadcast(n))
        .select(col("et"), col("dow"), col("o"),
          T.r6("cast(rt as decimal(38,0)) * ct", "n").as("expected"),
          // n·o and rt·ct as DECIMAL(38,0) products: at 100 TB (n ~1e12,
          // rt·ct ~1e23) the BIGINT product wraps silently — same overflow
          // class the gini/regression/zscore keys already guard.
          round(expr("cast(cast(n as decimal(38,0)) * o" +
              " - cast(rt as decimal(38,0)) * ct as double)")
            * expr("cast(cast(n as decimal(38,0)) * o" +
              " - cast(rt as decimal(38,0)) * ct as double)")
            / col("n").cast(DoubleType) / col("rt").cast(DoubleType)
            / col("ct").cast(DoubleType), 6).as("contrib"))
        .orderBy("et", "dow")
    },

    // Benford leading-digit audit of order totals — the fraud/corruption
    // screen finance pipelines run on money columns. The leading digit of
    // exact integer cents is a pure string op (no float log bucketing);
    // shares are exact-int HALF_UP ppm; the Benford expectation
    // log10(1+1/d) is a transcendental constant whose 6dp neighborhood is
    // tie-free for all nine digits (checked: min boundary distance 0.009).
    // One scan, 9-row output.
    q("stat_benford_digit",
      """WITH b AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INT) AS digit FROM orders),
        |c AS (SELECT digit, count(*) AS n FROM b GROUP BY 1),
        |t AS (SELECT count(*) AS tot FROM b)
        |SELECT digit, n,
        |  CAST((2000000 * n + tot) // (2 * tot) AS BIGINT) / 1000000.0 AS share,
        |  round(log10(1.0 + 1.0 / digit), 6) AS benford
        |FROM c CROSS JOIN t ORDER BY digit""") { (s, dir) =>
      val b = T.t(s, dir, "orders")
        .select(substring(round(col("o_totalprice") * 100).cast(LongType)
          .cast(StringType), 1, 1).cast(IntegerType).as("digit"))
      val c = b.groupBy("digit").agg(count(lit(1)).as("n"))
      val t = b.agg(count(lit(1)).as("tot"))
      c.crossJoin(broadcast(t))
        .select(col("digit"), col("n"),
          T.r6("n", "tot").as("share"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("benford"))
        .orderBy("digit")
    },

    // Multinomial naive Bayes "train by counting" — the canonical 100 TB
    // classifier: class-conditional token counts with add-1 smoothing over
    // an 8-token vocabulary (top global df, TakeOrdered — no single-
    // partition vocabulary sort), then classification of the first 20 docs.
    // The trick that makes it ENGINE-EXACT: each log probability is rounded
    // once to integer MICRO-NATS (round(ln(p)·1e6) — ln of identical IEEE
    // doubles, tie measure-zero), and the per-doc score is then an exact
    // integer Σ xₜ·lpₜ + lp_prior — order-independent, partition-
    // independent, bit-identical on any engine. Argmax by (score desc,
    // source asc). Counts are map-side combinable; the model grid
    // (20 sources × 8 tokens) broadcasts.
    q("ml_naive_bayes_classify",
      """WITH toks AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vstat AS (SELECT count(DISTINCT tok) AS v FROM toks),
        |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM toks),
        |vocab AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM toks GROUP BY 1
        |    ORDER BY c DESC, tok LIMIT 8)),
        |tots AS (SELECT source, count(*) AS tot FROM toks GROUP BY 1),
        |prior AS (SELECT source, count(DISTINCT doc_id) AS ndocs FROM toks GROUP BY 1),
        |cts AS (SELECT source, tok, count(*) AS c FROM toks
        |  JOIN vocab USING (tok) GROUP BY 1, 2),
        |grid AS (SELECT t.source, v.tok,
        |    CAST(round(ln((coalesce(c.c, 0) + 1.0) / (t.tot + vs.v)) * 1000000.0)
        |      AS BIGINT) AS lp
        |  FROM tots t CROSS JOIN vocab v CROSS JOIN vstat vs
        |  LEFT JOIN cts c ON c.source = t.source AND c.tok = v.tok),
        |pri AS (SELECT p.source,
        |    CAST(round(ln(CAST(p.ndocs AS DOUBLE) / nd.nd) * 1000000.0) AS BIGINT) AS lp0
        |  FROM prior p CROSS JOIN nd),
        |dx AS (SELECT doc_id, tok, count(*) AS x FROM toks
        |  JOIN vocab USING (tok) WHERE doc_id < 20 GROUP BY 1, 2),
        |target AS (SELECT DISTINCT doc_id FROM toks WHERE doc_id < 20),
        |scored AS (SELECT tg.doc_id, pri.source,
        |    pri.lp0 + coalesce(sum(dx.x * g.lp), 0) AS score
        |  FROM target tg CROSS JOIN pri
        |  LEFT JOIN dx ON dx.doc_id = tg.doc_id
        |  LEFT JOIN grid g ON g.source = pri.source AND g.tok = dx.tok
        |  GROUP BY 1, 2, pri.lp0),
        |ranked AS (SELECT doc_id, source, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, source) AS rn
        |  FROM scored)
        |SELECT doc_id, source AS pred_source,
        |  CAST(score AS BIGINT) AS score_micronats
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""") { (s, dir) =>
      val toks = T.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("tok"))
      val vstat = toks.agg(countDistinct(col("tok")).as("v"))
      val nd = toks.agg(countDistinct(col("doc_id")).as("nd"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(8) // TakeOrdered vocab
        .select("tok")
      val tots = toks.groupBy("source").agg(count(lit(1)).as("tot"))
      val prior = toks.groupBy("source").agg(countDistinct(col("doc_id")).as("ndocs"))
      val cts = toks.join(broadcast(vocab), "tok")
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val grid = tots.crossJoin(broadcast(vocab)).crossJoin(broadcast(vstat))
        .join(cts, Seq("source", "tok"), "left")
        .select(col("source"), col("tok"),
          round(log((coalesce(col("c"), lit(0)) + lit(1.0))
            / (col("tot") + col("v"))) * 1000000.0).cast(LongType).as("lp"))
      val pri = prior.crossJoin(broadcast(nd))
        .select(col("source"),
          round(log(col("ndocs").cast(DoubleType) / col("nd")) * 1000000.0)
            .cast(LongType).as("lp0"))
      val dx = toks.join(broadcast(vocab), "tok").filter(col("doc_id") < 20)
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("x"))
      val target = toks.filter(col("doc_id") < 20).select("doc_id").distinct()
      val scored = target.crossJoin(broadcast(pri))
        .join(dx, Seq("doc_id"), "left")
        .join(broadcast(grid).withColumnRenamed("lp", "glp"),
          Seq("source", "tok"), "left")
        .groupBy("doc_id", "source", "lp0")
        .agg(coalesce(sum(col("x") * col("glp")), lit(0L)).as("sx"))
        .select(col("doc_id"), col("source"), (col("lp0") + col("sx")).as("score"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("source"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("source").as("pred_source"),
          col("score").as("score_micronats"))
        .orderBy("doc_id")
    },

    // Connected components in O(log diameter) rounds (round 9, VERDICT r8
    // #1 sibling): pointer-doubling CC — min-label hop + label←label-of-
    // label jump per round (api.Pipelines.clusterComponents) — over the
    // support-top-500 co-purchase edges (deterministic TakeOrdered cut:
    // support desc, then pair ids). Unlike plain min-label propagation the
    // round count is diameter-INDEPENDENT, so a 100 TB chain-shaped
    // component converges in ~log₂(d) rounds instead of d (DedupSpec
    // proves the planted-chain case). Oracle = DuckDB recursive closure.
    q("graph_cc_logrounds",
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |sup AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS sup
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |top AS (SELECT pa, pb FROM sup ORDER BY sup DESC, pa, pb LIMIT 500),
        |nodes AS (SELECT DISTINCT x AS id FROM (
        |  SELECT pa AS x FROM top UNION SELECT pb FROM top)),
        |edges AS (SELECT pa AS a, pb AS b FROM top UNION SELECT pb, pa FROM top),
        |reach(a, b) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS node_id, min(b) AS cluster_rep FROM reach
        |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val pairs = pairSupport(s, dir)
        .orderBy(col("sup").desc, col("pa"), col("pb")).limit(500)
        .select(col("pa").as("ia"), col("pb").as("ib"))
      graft.api.Pipelines.clusterComponents(pairs)
        .select(col("doc_id").as("node_id"), col("cluster_rep"))
        .orderBy("node_id")
    },

    // Triangle counting on the co-purchase graph (parts sharing an order)
    // — the clustering-coefficient primitive of graph analytics. The Spark
    // plan uses DEGREE ORIENTATION, the standard scale trick: orient every
    // edge from the (degree, id)-smaller endpoint, so each triangle is
    // counted exactly once at its unique out-degree-2 pivot and the wedge
    // self-join fans out per node by ORIENTED out-degree ≤ O(√m) instead of
    // raw degree (hot parts would otherwise wedge quadratically). The
    // oracle counts the same triangles with the plain a<b formulation —
    // orientation is count-invariant. Plan: the edge stream is exploded
    // from the STAGED oriented-adjacency index (shared with the clustering
    // coefficient, degree histogram and assortativity keys), then one
    // AQE-broadcast dst-array probe and one codegen'd array_intersect per
    // edge — the wedge intermediate never materializes.
    q("graph_triangle_count",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |tri AS (SELECT count(*) AS t FROM e e1
        |  JOIN e e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
        |  JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb)
        |SELECT (SELECT count(DISTINCT l_partkey) FROM li) AS n_nodes,
        |  (SELECT count(*) FROM e) AS n_edges,
        |  (SELECT t FROM tri) AS n_triangles""") { (s, dir) =>
      // edge-iterator with adjacency intersection over the STAGED oriented
      // adjacency index (shared with the clustering coefficient): for each
      // oriented edge (u,v), triangles closed at it = |N⁺(u) ∩ N⁺(v)| —
      // each triangle is counted exactly once, at the edge between its two
      // orientation-smallest nodes, and per-edge work is bounded at O(√m)
      // out-degree by the orientation. The edge stream is DERIVED from the
      // index (explode carries nu along — no join needed to attach the
      // src side), so the per-invocation plan is one AQE-sized hash join
      // for the dst arrays + one codegen'd array_intersect per edge; the
      // degree shuffle, both orientation joins, and the collect_list
      // shuffle run once per dataset at staging time. n_edges is a
      // plan-side agg over the index (Σ|N⁺|= |E|); n_nodes counts distinct
      // parts straight off lineitem (projection-invariant — no
      // distinct-pair shuffle just to count keys).
      // r17: staged nbrs arrays are sorted, so |N⁺(u) ∩ N⁺(v)| runs as the
      // allocation-free codegen'd sorted-merge count (sorted_intersect_count)
      // instead of array_intersect's per-edge hash-set build + size().
      graft.functions.GraftFunctions.register(s)
      val adj = orientedAdj(s, dir)
      val tri = adj
        .select(col("src"), col("nbrs").as("nu"),
          explode(col("nbrs")).as("dst"))
        .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")),
          Seq("dst"), "left")
        .select(call_function("sorted_intersect_count", col("nu"),
          coalesce(col("nv"), array().cast("array<bigint>"))).as("closed"))
        .agg(sum(col("closed")).as("n_triangles"))
      T.t(s, dir, "lineitem")
        .agg(countDistinct(col("l_partkey")).as("n_nodes"))
        .crossJoin(adj.agg(
          sum(size(col("nbrs")).cast(LongType)).as("n_edges")))
        .crossJoin(tri)
    },

    // Frequent-pair mining (market basket, the A-Priori pairs pass): how
    // many orders contain both parts, top-20 by support. The pair counts
    // come from the same bounded per-order self-join as the triangle graph
    // (per-order fan-out is the order's line count, not corpus²); the
    // top-20 is a TakeOrdered, never a global window; support is
    // exact-int HALF_UP ppm of total orders.
    q("agg_frequent_pairs",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pc AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |n AS (SELECT count(*) AS n_orders FROM orders),
        |top AS (SELECT pa, pb, c FROM pc ORDER BY c DESC, pa, pb LIMIT 20)
        |SELECT pa, pb, c,
        |  CAST((2000000 * c + n_orders) // (2 * n_orders) AS BIGINT) / 1000000.0
        |    AS support
        |FROM top CROSS JOIN n ORDER BY c DESC, pa, pb""") { (s, dir) =>
      val pc = pairSupport(s, dir) // staged artifact shared with the graph keys
        .withColumnRenamed("sup", "c")
      val n = T.t(s, dir, "orders").agg(count(lit(1)).as("n_orders"))
      pc.orderBy(col("c").desc, col("pa"), col("pb")).limit(20) // TakeOrdered
        .crossJoin(broadcast(n))
        .select(col("pa"), col("pb"), col("c"), T.r6("c", "n_orders").as("support"))
        .orderBy(col("c").desc, col("pa"), col("pb"))
    },

    // Shard-manifest planning (the WebDataset/tar-shard layout step every
    // training-data export runs): docs packed greedily in doc_id order into
    // ~100 KB shards PER SOURCE — shard index = exact integer division of
    // the running byte offset. The running sum is a per-source keyed window
    // (never global); at 100 TB the same plan shards each source/date
    // partition independently — the manifest is the partition-local
    // artifact. Output: per-shard doc count and exact byte total.
    q("multimodal_shard_manifest",
      """WITH w AS (SELECT source, doc_id, n_chars,
        |    sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS off
        |  FROM documents)
        |SELECT source, CAST(off // 100000 AS BIGINT) AS shard_ix,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_bytes
        |FROM w GROUP BY 1, 2 ORDER BY source, shard_ix""") { (s, dir) =>
      val w = T.t(s, dir, "documents")
        .withColumn("off",
          sum(col("n_chars")).over(Window.partitionBy("source").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            - col("n_chars"))
      w.groupBy(col("source"),
          expr("off div 100000L").as("shard_ix"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_bytes"))
        .orderBy("source", "shard_ix")
    },

    // Bucketed interval-overlap join — the temporal/genomic overlap shape
    // done WITHOUT a theta range join: each order's service interval
    // ([orderdate, +3..9 days], key-derived) and each campaign window
    // (8 fixed 45-day windows) explode to the calendar MONTHS they touch
    // (constant ≤2 / ≤3 fan-out), meet on an equi-join keyed by month, and
    // only bucket-collided pairs take the exact overlap test. Overlap days
    // are exact date arithmetic. The month bucket is the partitioning a
    // 1000-executor range join actually wants.
    q("join_interval_overlap",
      """WITH o AS (SELECT o_orderkey,
        |    CAST(o_orderdate AS DATE) AS ostart,
        |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 7 + 3 AS INT) AS oend
        |  FROM orders),
        |camp AS (SELECT CAST(i AS INT) AS campaign_id,
        |    DATE '1995-03-01' + CAST(i * 300 AS INT) AS cstart,
        |    DATE '1995-03-01' + CAST(i * 300 + 44 AS INT) AS cend
        |  FROM range(8) t(i)),
        |ob AS (SELECT o_orderkey, ostart, oend,
        |    unnest(range(year(ostart)*12 + month(ostart),
        |      year(oend)*12 + month(oend) + 1)) AS mb FROM o),
        |cb AS (SELECT campaign_id, cstart, cend,
        |    unnest(range(year(cstart)*12 + month(cstart),
        |      year(cend)*12 + month(cend) + 1)) AS mb FROM camp),
        |hits AS (SELECT DISTINCT campaign_id, o_orderkey, ostart, oend, cstart, cend
        |  FROM ob JOIN cb USING (mb)
        |  WHERE ostart <= cend AND cstart <= oend)
        |SELECT campaign_id, count(*) AS n_orders,
        |  CAST(sum(least(oend, cend) - greatest(ostart, cstart) + 1) AS BIGINT)
        |    AS overlap_days
        |FROM hits GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val o = T.t(s, dir, "orders")
        .select(col("o_orderkey"),
          col("o_orderdate").cast(DateType).as("ostart"),
          date_add(col("o_orderdate").cast(DateType),
            (col("o_orderkey") % 7 + 3).cast(IntegerType)).as("oend"))
      val camp = s.range(8)
        .select(col("id").cast(IntegerType).as("campaign_id"),
          date_add(lit("1995-03-01").cast(DateType),
            (col("id") * 300).cast(IntegerType)).as("cstart"),
          date_add(lit("1995-03-01").cast(DateType),
            (col("id") * 300 + 44).cast(IntegerType)).as("cend"))
      def mb(c: Column) = year(c) * 12 + month(c)
      val ob = o.select(col("o_orderkey"), col("ostart"), col("oend"),
        explode(sequence(mb(col("ostart")), mb(col("oend")))).as("mb"))
      val cb = camp.select(col("campaign_id"), col("cstart"), col("cend"),
        explode(sequence(mb(col("cstart")), mb(col("cend")))).as("mb"))
      ob.join(broadcast(cb), "mb")
        .filter(col("ostart") <= col("cend") && col("cstart") <= col("oend"))
        .select("campaign_id", "o_orderkey", "ostart", "oend", "cstart", "cend")
        .distinct()
        .groupBy("campaign_id")
        .agg(count(lit(1)).as("n_orders"),
          sum(datediff(least(col("oend"), col("cend")),
            greatest(col("ostart"), col("cstart"))) + 1).as("overlap_days"))
        .orderBy("campaign_id")
    },

    // MERGE upsert matrix — snapshot_diff's sibling that actually APPLIES
    // the merge: per-customer aggregates from orders ≤ 1997 (target) merged
    // with ≥ 1998 (source); matched keys take the source row (update),
    // source-only keys insert, target-only keys carry over. Output is the
    // audit handshake: per-class counts plus an order-independent
    // poly_hash checksum of the MERGED table (the dq_table_checksum
    // pattern) — one row that proves both engines materialized the same
    // post-merge state. One full-outer join on the customer key.
    q("etl_merge_upsert_matrix",
      s"""WITH tgt AS (SELECT o_custkey AS k, count(*) AS cnt,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 1),
        |src AS (SELECT o_custkey AS k, count(*) AS cnt,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders WHERE year(o_orderdate) >= 1998 GROUP BY 1),
        |m AS (SELECT coalesce(s.k, t.k) AS k,
        |    coalesce(s.cnt, t.cnt) AS cnt, coalesce(s.cents, t.cents) AS cents,
        |    CASE WHEN t.k IS NULL THEN 'insert'
        |         WHEN s.k IS NULL THEN 'carry'
        |         ELSE 'update' END AS cls
        |  FROM tgt t FULL OUTER JOIN src s ON t.k = s.k),
        |h AS (SELECT cls, k, concat_ws('|', CAST(k AS VARCHAR),
        |    CAST(cnt AS VARCHAR), CAST(cents AS VARCHAR)) AS row_repr FROM m)
        |SELECT
        |  count(*) FILTER (WHERE cls = 'insert') AS n_insert,
        |  count(*) FILTER (WHERE cls = 'update') AS n_update,
        |  count(*) FILTER (WHERE cls = 'carry') AS n_carry,
        |  CAST(sum(CAST(${duckPolyHash("row_repr")} AS HUGEINT)) AS VARCHAR)
        |    AS merged_checksum
        |FROM h""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      def snap(pred: Column) = T.t(s, dir, "orders").filter(pred)
        .groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("cnt"),
          (sum(col("o_totalprice").cast(T.dec)) * 100).cast(LongType).as("cents"))
      val tgt = snap(year(col("o_orderdate")) <= 1997)
        .select(col("k"), col("cnt").as("tcnt"), col("cents").as("tcents"))
      val src = snap(year(col("o_orderdate")) >= 1998)
        .select(col("k"), col("cnt").as("scnt"), col("cents").as("scents"))
      val m = tgt.join(src, Seq("k"), "full_outer")
        .select(col("k"),
          coalesce(col("scnt"), col("tcnt")).as("cnt"),
          coalesce(col("scents"), col("tcents")).as("cents"),
          when(col("tcnt").isNull, "insert")
            .when(col("scnt").isNull, "carry").otherwise("update").as("cls"))
      m.select(col("cls"), concat_ws("|", col("k").cast(StringType),
          col("cnt").cast(StringType), col("cents").cast(StringType)).as("row_repr"))
        .agg(
          count(when(col("cls") === "insert", 1)).as("n_insert"),
          count(when(col("cls") === "update", 1)).as("n_update"),
          count(when(col("cls") === "carry", 1)).as("n_carry"),
          sum(call_function("poly_hash", col("row_repr")).cast(DecimalType(38, 0)))
            .cast(StringType).as("merged_checksum"))
    },

    // Day-of-week seasonal index — idx = volume share vs a flat week,
    // 7·c/total as exact-int HALF_UP ppm (the r6 contract: no double
    // rounding of a small-denominator rational). One scan, 7-row output —
    // the seasonality factor table a forecasting pipeline joins back
    // against at serve time.
    q("ts_seasonal_index",
      """WITH d AS (SELECT CAST(date_part('dow', ts) AS INT) AS dow FROM events),
        |c AS (SELECT dow, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT count(*) AS tot FROM d)
        |SELECT dow, n,
        |  CAST((2000000 * 7 * n + tot) // (2 * tot) AS BIGINT) / 1000000.0
        |    AS seasonal_idx
        |FROM c CROSS JOIN t ORDER BY dow""") { (s, dir) =>
      val d = T.t(s, dir, "events")
        .select((dayofweek(col("ts")) - 1).cast(IntegerType).as("dow"))
      val c = d.groupBy("dow").agg(count(lit(1)).as("n"))
      val t = d.agg(count(lit(1)).as("tot"))
      c.crossJoin(broadcast(t))
        .select(col("dow"), col("n"), T.r6("7L * n", "tot").as("seasonal_idx"))
        .orderBy("dow")
    },

    // Prefix-dimension two-stage retrieval (the matryoshka/MRL serving
    // shape): coarse rank on the FIRST 16 of 64 dims (quarter the
    // multiply-adds), exact 64-dim rerank on the top-20 survivors only.
    // Declared semantics = the two-stage result itself (top-5 by exact
    // similarity AMONG the prefix-coarse top-20): on MRL-trained embeddings
    // the prefix carries most of the signal and this approaches brute
    // force; the fixtures' random vectors have no such structure, so no
    // exactness claim is made — rerankRecall (api.Pipelines) measures the
    // gap on any corpus. Queries broadcast; both ranks are per-query keyed
    // windows. Plan: the sliced vec_dot coarse rank runs over the broadcast
    // queries; the exact 64-dim dot sits above the crnk<=20 filter.
    q("vector_matryoshka_prefix_topk",
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe FROM embeddings
        |  WHERE vec_id < 20),
        |c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings
        |  WHERE vec_id >= 20),
        |co AS (SELECT q_id, c_id, qe, ce,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(list_dot_product(qe[1:16], ce[1:16]), 6) DESC, c_id)
        |      AS crnk
        |  FROM q CROSS JOIN c),
        |rr AS (SELECT q_id, c_id,
        |    round(list_dot_product(qe, ce), 6) AS sim FROM co WHERE crnk <= 20),
        |fin AS (SELECT q_id, c_id, sim,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, c_id) AS INT) AS rnk FROM rr)
        |SELECT q_id, rnk, c_id, sim FROM fin WHERE rnk <= 5
        |ORDER BY q_id, rnk""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val e = T.t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val cs = e.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      cs.crossJoin(broadcast(qs))
        .withColumn("crnk", row_number().over(
          Window.partitionBy("q_id").orderBy(
            round(call_function("vec_dot",
              slice(col("qe"), 1, 16), slice(col("ce"), 1, 16)), 6).desc,
            col("c_id"))))
        .filter(col("crnk") <= 20)
        .withColumn("sim", round(call_function("vec_dot", col("qe"), col("ce")), 6))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id")))
          .cast(IntegerType))
        .filter(col("rnk") <= 5)
        .select("q_id", "rnk", "c_id", "sim")
        .orderBy("q_id", "rnk")
    },

    // KMV (k-minimum-values) distinct sketch — the mergeable distinct-count
    // sketch in its oracle-checkable form: the 64 smallest portable
    // poly_hash values of the distinct tokens, estimate (k−1)·M div h₍ₖ₎
    // as PURE integer division (M = 2⁶¹−1, the hash modulus) — bit-exact in
    // both engines, no float estimate drift. The k-mins reduce per
    // partition then merge (TakeOrdered); at 100 TB the per-partition
    // k-sets are the mergeable sketch state. Exact distinct computed
    // alongside for the accuracy handshake.
    q("agg_kmv_distinct",
      """WITH toks AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT (list_reduce(
        |    list_concat([CAST(0 AS HUGEINT)],
        |      list_transform(range(length(tok)),
        |        j -> CAST(ascii(substr(tok, CAST(j+1 AS INT), 1)) AS HUGEINT))),
        |    (h, c) -> (h * 257 + c) % CAST(2305843009213693951 AS HUGEINT)
        |  ) * CAST(1181783497276652981 AS HUGEINT) + 1)
        |    % CAST(2305843009213693951 AS HUGEINT) AS hv FROM toks),
        |kmin AS (SELECT hv FROM h ORDER BY hv LIMIT 64),
        |kth AS (SELECT max(hv) AS hk, count(*) AS k FROM kmin),
        |ex AS (SELECT count(*) AS n_exact FROM toks)
        |SELECT n_exact, CAST(hk AS BIGINT) AS kth_hash,
        |  CAST((CAST(k - 1 AS HUGEINT) * 2305843009213693951) // hk AS BIGINT)
        |    AS est_kmv
        |FROM ex CROSS JOIN kth""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val toks = T.t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok")).distinct()
      val h = toks.select(call_function("poly_hash", col("tok")).as("hv"))
      val kth = h.orderBy("hv").limit(64) // TakeOrdered k-min merge
        .agg(max(col("hv")).as("hk"), count(lit(1)).as("k"))
      toks.agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(kth))
        .select(col("n_exact"), col("hk").cast(LongType).as("kth_hash"),
          expr("(cast(k - 1 as decimal(38,0)) * 2305843009213693951L) div hk")
            .as("est_kmv"))
    },

    // CUSUM changepoint scan over the daily purchase series — the shift
    // detector monitoring runs after the z-score screen: Sₖ = n·prefixₖ −
    // k·total is EXACT integer at every day (no mean subtraction in float),
    // and the changepoint is the argmax of |Sₖ| (tie → earliest day). One
    // small ordered pass over the ≤31-row daily spine; the heavy work is
    // the per-day count agg, which is map-side combinable at any scale.
    q("ts_changepoint_cusum",
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |st AS (SELECT count(*) AS n, sum(c) AS t FROM daily),
        |cu AS (SELECT d, c,
        |    n * sum(c) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - (row_number() OVER (ORDER BY d)) * t AS sk
        |  FROM daily CROSS JOIN st),
        |mx AS (SELECT max(abs(sk)) AS m FROM cu)
        |SELECT d, c, CAST(sk AS BIGINT) AS sk,
        |  CASE WHEN abs(sk) = mx.m AND d = (SELECT min(d) FROM cu, mx
        |    WHERE abs(sk) = mx.m) THEN 1 ELSE 0 END AS is_changepoint
        |FROM cu CROSS JOIN mx ORDER BY d""") { (s, dir) =>
      val daily = T.t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
      val st = daily.agg(count(lit(1)).as("n"), sum("c").as("t"))
      val w = Window.orderBy("d")
      val cu = daily.crossJoin(broadcast(st))
        .withColumn("sk", col("n") * sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - row_number().over(w) * col("t"))
      val mx = cu.agg(max(abs(col("sk"))).as("m"))
      val first = cu.crossJoin(broadcast(mx)).filter(abs(col("sk")) === col("m"))
        .agg(min(col("d")).as("d0"))
      cu.crossJoin(broadcast(mx)).crossJoin(broadcast(first))
        .select(col("d"), col("c"), col("sk"),
          when(abs(col("sk")) === col("m") && col("d") === col("d0"), 1)
            .otherwise(0).as("is_changepoint"))
        .orderBy("d")
    },

    // Late-arriving dimension handling — the nightly-warehouse reality:
    // 1-in-20 customers (key % 20 = 0) haven't landed in the dim yet; facts
    // still flow, enriched with an UNKNOWN segment and a late flag for the
    // backfill queue. LEFT broadcast join keeps the fact table in place;
    // the audit aggregates per effective segment with exact decimal
    // revenue. At 100 TB this is the standard "don't block the fact load
    // on the dim" pattern + a reconciliation count.
    q("etl_late_arriving_dim",
      """WITH dim AS (SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE c_custkey % 20 <> 0),
        |j AS (SELECT o.o_orderkey, o.o_totalprice,
        |    coalesce(d.c_mktsegment, 'UNKNOWN') AS seg,
        |    CASE WHEN d.c_custkey IS NULL THEN 1 ELSE 0 END AS late
        |  FROM orders o LEFT JOIN dim d ON o.o_custkey = d.c_custkey)
        |SELECT seg, count(*) AS n_orders, CAST(sum(late) AS BIGINT) AS n_late,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM j GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val dim = T.t(s, dir, "customer")
        .filter(col("c_custkey") % 20 =!= 0)
        .select("c_custkey", "c_mktsegment")
      T.t(s, dir, "orders")
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_totalprice"),
          coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("seg"),
          when(col("c_custkey").isNull, 1).otherwise(0).as("late"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_orders"), sum(col("late")).as("n_late"),
          T.dsum(col("o_totalprice")).as("revenue"))
        .orderBy("seg")
    },

    // Wald–Wolfowitz runs test on the daily purchase series — "is the
    // sequence random around its median": the median of an even-length
    // integer series is the exact rational (c₍₁₅₎+c₍₁₆₎)/2, so the
    // above-median sign is the INTEGER comparison 2c > c₍₁₅₎+c₍₁₆₎ (ties
    // below, deterministic), runs are counted by one lag pass, and the
    // expected run count 1 + 2·na·nb/n is emitted in exact-int HALF_UP ppm
    // (T.r6). All on the ≤31-row daily spine above a map-side-combinable
    // count agg.
    q("stat_runs_test",
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |rk AS (SELECT c, row_number() OVER (ORDER BY c, d) AS r FROM daily),
        |med AS (SELECT sum(c) AS m2 FROM rk
        |  WHERE r IN ((SELECT count(*) FROM daily) // 2,
        |              (SELECT count(*) FROM daily) // 2 + 1)),
        |sg AS (SELECT d, CASE WHEN 2 * c > m2 THEN 1 ELSE 0 END AS sign
        |  FROM daily CROSS JOIN med),
        |rn AS (SELECT sign, lag(sign) OVER (ORDER BY d) AS prev FROM sg),
        |agg AS (SELECT count(*) AS n,
        |    sum(sign) AS na, count(*) - sum(sign) AS nb,
        |    1 + sum(CASE WHEN prev IS NOT NULL AND sign <> prev
        |      THEN 1 ELSE 0 END) AS n_runs
        |  FROM rn)
        |SELECT n, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  CAST(n_runs AS BIGINT) AS n_runs,
        |  CAST((2000000 * (n + 2 * na * nb) + n) // (2 * n) AS BIGINT)
        |    / 1000000.0 AS expected_runs
        |FROM agg""") { (s, dir) =>
      val daily = T.t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
      val cnt = daily.agg(count(lit(1)).as("nd"))
      val rk = daily.withColumn("r",
        row_number().over(Window.orderBy(col("c"), col("d"))))
      val med = rk.crossJoin(broadcast(cnt))
        .filter(col("r") === expr("nd div 2") || col("r") === expr("nd div 2 + 1"))
        .agg(sum(col("c")).as("m2"))
      val sg = daily.crossJoin(broadcast(med))
        .select(col("d"), when(lit(2) * col("c") > col("m2"), 1).otherwise(0).as("sign"))
      val rn = sg.withColumn("prev", lag(col("sign"), 1).over(Window.orderBy("d")))
      rn.agg(count(lit(1)).as("n"), sum(col("sign")).as("na"),
          (count(lit(1)) - sum(col("sign"))).as("nb"),
          (lit(1) + sum(when(col("prev").isNotNull
            && col("sign") =!= col("prev"), 1).otherwise(0))).as("n_runs"))
        .select(col("n"), col("na"), col("nb"), col("n_runs"),
          T.r6("n + 2L * na * nb", "n").as("expected_runs"))
    },

    // Sequential probability-ratio test (SPRT) over the conversion stream —
    // the always-valid A/B monitor that stops as soon as the evidence
    // crosses Wald's bounds, H₀: p=0.2 vs H₁: p=0.25 (α=β=0.05). Two scale
    // ideas compose here: (a) the per-event log-likelihood increments are
    // integer MICRO-NATS (the naive-Bayes trick — one round of each
    // constant, then pure-integer sums, engine/partition-exact); (b) the
    // running LLR is a PARALLEL PREFIX SUM — per-day partial sums roll up
    // through a ≤31-row offset table, and the within-day cumsum window is
    // day-partitioned. No global-ordered window over the event stream ever
    // runs. Output: totals, the crossing event, and the decision.
    q("ml_ab_sequential_sprt",
      """WITH ev AS (SELECT event_id, ts, CAST(ts AS DATE) AS d,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |k AS (SELECT CAST(round(ln(0.25 / 0.2) * 1000000.0) AS BIGINT) AS lp1,
        |    CAST(round(ln(0.75 / 0.8) * 1000000.0) AS BIGINT) AS lp0,
        |    CAST(round(ln(19.0) * 1000000.0) AS BIGINT) AS bound),
        |inc AS (SELECT event_id, ts, d,
        |    x * k.lp1 + (1 - x) * k.lp0 AS w FROM ev CROSS JOIN k),
        |daily AS (SELECT d, sum(w) AS dw FROM inc GROUP BY 1),
        |off AS (SELECT d, sum(dw) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior FROM daily),
        |llr AS (SELECT i.event_id, i.ts,
        |    coalesce(o.prior, 0) + sum(i.w) OVER (PARTITION BY i.d
        |      ORDER BY i.ts, i.event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM inc i JOIN off o ON i.d = o.d),
        |crossed AS (SELECT event_id, ts, s FROM llr CROSS JOIN k
        |  WHERE abs(s) >= k.bound ORDER BY ts, event_id LIMIT 1),
        |agg AS (SELECT count(*) AS n_events,
        |    (SELECT s FROM llr ORDER BY ts DESC, event_id DESC LIMIT 1)
        |      AS llr_final FROM ev)
        |SELECT agg.n_events, CAST(agg.llr_final AS BIGINT) AS llr_final,
        |  coalesce((SELECT event_id FROM crossed), -1) AS first_cross_event,
        |  CASE WHEN (SELECT s FROM crossed) >= (SELECT bound FROM k)
        |      THEN 'accept_h1'
        |    WHEN (SELECT s FROM crossed) IS NOT NULL THEN 'accept_h0'
        |    ELSE 'continue' END AS decision
        |FROM agg""") { (s, dir) =>
      val ev = T.t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select(col("event_id"), col("ts"), to_date(col("ts")).as("d"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("x"))
      val inc = ev.select(col("event_id"), col("ts"), col("d"),
        (col("x") * expr("cast(round(ln(0.25 / 0.2) * 1000000.0) as bigint)")
          + (lit(1) - col("x"))
          * expr("cast(round(ln(0.75 / 0.8) * 1000000.0) as bigint)")).as("w"))
      val bound = math.round(math.log(19.0) * 1e6)
      val daily = inc.groupBy("d").agg(sum(col("w")).as("dw"))
      val off = daily.withColumn("prior",
        coalesce(sum(col("dw")).over(Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("d", "prior")
      val llr = inc.join(broadcast(off), "d")
        .withColumn("s", col("prior") + sum(col("w")).over(
          Window.partitionBy("d").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val crossed = llr.filter(abs(col("s")) >= bound)
        .orderBy("ts", "event_id").limit(1)
        .select(col("event_id").as("ce"), col("s").as("cs"))
      val fin = llr.orderBy(col("ts").desc, col("event_id").desc).limit(1)
        .select(col("s").as("llr_final"))
      ev.agg(count(lit(1)).as("n_events"))
        .crossJoin(broadcast(fin))
        .crossJoin(broadcast(crossed.select(
          col("ce").as("first_cross_event"),
          when(col("cs") >= bound, "accept_h1")
            .when(col("cs").isNotNull, "accept_h0")
            .otherwise("continue").as("decision"))
          // default row so a never-crossing stream still yields one row
          .unionByName(s.range(1).select(lit(-1L).as("first_cross_event"),
            lit("continue").as("decision")))
          .orderBy(col("first_cross_event").desc).limit(1)))
    },

    // Functional-dependency audit — profiling's "which columns determine
    // which": for three candidate FDs, the exact count of determinant keys
    // whose dependent column is NOT single-valued, plus the worst fan-out.
    // Each FD is one keyed count-distinct agg (map-side combinable),
    // unioned into the tall audit relation a data-quality dashboard reads.
    sqlKey("dq_fd_violations",
      """WITH fd1 AS (SELECT 'orders: o_custkey->o_orderpriority' AS fd,
        |    count(*) AS n_keys,
        |    count(*) FILTER (WHERE nd > 1) AS n_violating,
        |    max(nd) AS max_fanout
        |  FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nd
        |        FROM orders GROUP BY 1)),
        |fd2 AS (SELECT 'lineitem: l_partkey->l_returnflag' AS fd,
        |    count(*) AS n_keys,
        |    count(*) FILTER (WHERE nd > 1) AS n_violating,
        |    max(nd) AS max_fanout
        |  FROM (SELECT l_partkey, count(DISTINCT l_returnflag) AS nd
        |        FROM lineitem GROUP BY 1)),
        |fd3 AS (SELECT 'customer: c_nationkey->c_mktsegment' AS fd,
        |    count(*) AS n_keys,
        |    count(*) FILTER (WHERE nd > 1) AS n_violating,
        |    max(nd) AS max_fanout
        |  FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS nd
        |        FROM customer GROUP BY 1))
        |SELECT * FROM fd1 UNION ALL SELECT * FROM fd2 UNION ALL
        |SELECT * FROM fd3 ORDER BY fd"""),

    // Lag-k autocorrelation of the daily purchase series (k = 1 and 7 —
    // momentum and weekly seasonality) — Pearson over the (cₜ, cₜ₊ₖ) pairs
    // from EXACT integer power sums; the sqrt in the denominator makes the
    // 6dp round tie-safe (tiescan class). The heavy agg is the map-side
    // day count; the lag pass runs on the ≤31-row spine.
    q("ts_autocorr_lag",
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |pairs AS (SELECT k.k, c AS x,
        |    CASE WHEN k.k = 1 THEN lead(c, 1) OVER (PARTITION BY k.k ORDER BY d)
        |         ELSE lead(c, 7) OVER (PARTITION BY k.k ORDER BY d) END AS y
        |  FROM daily CROSS JOIN (SELECT unnest([1, 7]) AS k) k),
        |g AS (SELECT k, count(*) AS p,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM pairs WHERE y IS NOT NULL GROUP BY 1)
        |SELECT k, p AS n_pairs,
        |  round(CAST(p * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(p * sxx - sx * sx AS DOUBLE))
        |      * sqrt(CAST(p * syy - sy * sy AS DOUBLE))), 6) AS autocorr
        |FROM g ORDER BY k""") { (s, dir) =>
      val daily = T.t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
      val ks = daily.crossJoin(broadcast(
        s.range(2).select(when(col("id") === 0, 1).otherwise(7).as("k"))))
      val w = Window.partitionBy("k").orderBy("d")
      val pairs = ks.withColumn("y",
          when(col("k") === 1, lead(col("c"), 1).over(w))
            .otherwise(lead(col("c"), 7).over(w)))
        .filter(col("y").isNotNull)
        .select(col("k"), col("c").as("x"), col("y"))
      pairs.groupBy("k")
        .agg(count(lit(1)).as("p"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("k"), col("p").as("n_pairs"),
          round((col("p") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
            / (sqrt((col("p") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
              * sqrt((col("p") * col("syy") - col("sy") * col("sy")).cast(DoubleType))),
            6).as("autocorr"))
        .orderBy("k")
    },

    // Time-weighted average (TWAP) per event type — the telemetry/finance
    // average that weights each observation by how long it was current:
    // weight = exact integer micro-seconds to the next same-type event
    // (the last observation carries no interval). Products and sums run in
    // DECIMAL(38,0) (cents × micro-seconds ≈ 4e15/row — a LongType sum
    // would wrap); the final rate is the exact rational Σ(cents·w) /
    // (100·Σw) in exact-int HALF_UP 6dp form (T.r6). One event_type-keyed
    // window + one agg.
    q("ts_time_weighted_avg",
      """WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    epoch_us(ts) AS us FROM events),
        |w AS (SELECT event_type, cents,
        |    lead(us) OVER (PARTITION BY event_type ORDER BY us, cents) - us AS w
        |  FROM e),
        |g AS (SELECT event_type, count(*) AS n_weighted,
        |    sum(CAST(cents AS HUGEINT) * w) AS num, sum(CAST(w AS HUGEINT)) AS den
        |  FROM w WHERE w IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_weighted,
        |  CAST((2000000 * num + 100 * den) // (200 * den) AS BIGINT) / 1000000.0
        |    AS twap
        |FROM g ORDER BY event_type""") { (s, dir) =>
      val d38 = DecimalType(38, 0)
      val e = T.t(s, dir, "events")
        .select(col("event_type"),
          (col("value").cast(T.dec) * 100).cast(LongType).as("cents"),
          expr("unix_micros(cast(ts as timestamp))").as("us"))
      val w = e.withColumn("w",
          lead(col("us"), 1).over(
            Window.partitionBy("event_type").orderBy("us", "cents")) - col("us"))
        .filter(col("w").isNotNull)
      w.groupBy("event_type")
        .agg(count(lit(1)).as("n_weighted"),
          sum(col("cents").cast(d38) * col("w")).as("num"),
          sum(col("w").cast(d38)).as("den"))
        .select(col("event_type"), col("n_weighted"),
          T.r6("num", "100L * den").as("twap"))
        .orderBy("event_type")
    },

    // Partition-size advisor — the nightly ops pass that decides how many
    // output files each day partition deserves: per-day row counts +
    // `ceil(rows / target)` recommended file count (integer arithmetic:
    // (rows + target − 1) div target), and a skew flag when a day runs
    // ≥2× the daily median. At 100 TB this runs per table per day and
    // feeds the compaction planner (etl_compact_small_files executes what
    // this recommends).
    q("etl_partition_advisor",
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n_rows
        |  FROM events GROUP BY 1),
        |rk AS (SELECT n_rows, row_number() OVER (ORDER BY n_rows, d) AS r
        |  FROM daily),
        |med AS (SELECT sum(n_rows) AS m2 FROM rk, (SELECT count(*) AS nd FROM daily)
        |  WHERE r IN (nd // 2, nd // 2 + 1))
        |SELECT d, n_rows,
        |  CAST((n_rows + 1999) // 2000 AS BIGINT) AS rec_files,
        |  CASE WHEN n_rows >= m2 THEN 1 ELSE 0 END AS skew_flag
        |FROM daily CROSS JOIN med ORDER BY d""") { (s, dir) =>
      val daily = T.t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("n_rows"))
      val cnt = daily.agg(count(lit(1)).as("nd"))
      val rk = daily.withColumn("r",
        row_number().over(Window.orderBy(col("n_rows"), col("d"))))
      // m2 = c₍ₙ/₂₎ + c₍ₙ/₂₊₁₎ = 2·median, so `n_rows >= m2` IS the exact
      // "≥ 2× the median" test with no division
      val med = rk.crossJoin(broadcast(cnt))
        .filter(col("r") === expr("nd div 2") || col("r") === expr("nd div 2 + 1"))
        .agg(sum(col("n_rows")).as("m2"))
      daily.crossJoin(broadcast(med))
        .select(col("d"), col("n_rows"),
          expr("(n_rows + 1999L) div 2000L").as("rec_files"),
          when(col("n_rows") >= col("m2"), 1).otherwise(0).as("skew_flag"))
        .orderBy("d")
    },

    // Prefix-blocked exact dedup — the cheap blocking pass real pipelines
    // run BEFORE any shingle machinery: normalize (lowercase, squeeze
    // whitespace) and block on the 64-char prefix; only blocks with ≥2
    // members go to full-text comparison, here resolved exactly within the
    // block. Output: per-block survivor and duplicate counts for blocks
    // that actually deduplicated. One groupBy on the prefix — the blocking
    // key IS the shuffle key, and block sizes bound all later work.
    q("dedup_prefix_blocked",
      """WITH n AS (SELECT doc_id,
        |    substr(lower(regexp_replace(text, ' +', ' ', 'g')), 1, 64) AS pfx,
        |    lower(regexp_replace(text, ' +', ' ', 'g')) AS norm
        |  FROM documents),
        |b AS (SELECT pfx, count(*) AS n_docs,
        |    count(DISTINCT norm) AS n_distinct, min(doc_id) AS block_rep
        |  FROM n GROUP BY 1)
        |SELECT pfx, n_docs, n_distinct, CAST(n_docs - n_distinct AS BIGINT)
        |    AS n_dups, block_rep
        |FROM b WHERE n_docs >= 2 ORDER BY pfx""") { (s, dir) =>
      val n = T.t(s, dir, "documents")
        .withColumn("norm", lower(regexp_replace(col("text"), " +", " ")))
        .select(col("doc_id"), substring(col("norm"), 1, 64).as("pfx"), col("norm"))
      n.groupBy("pfx")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("norm")).as("n_distinct"),
          min(col("doc_id")).as("block_rep"))
        .filter(col("n_docs") >= 2)
        .select(col("pfx"), col("n_docs"), col("n_distinct"),
          (col("n_docs") - col("n_distinct")).cast(LongType).as("n_dups"),
          col("block_rep"))
        .orderBy("pfx")
    }
  )
}
