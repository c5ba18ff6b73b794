package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-U (round 8) — compositions and depth over the existing
  * artifact families: IVF-PQ approximate nearest neighbor (the production
  * ANN serving shape: coarse cell pruning + product-quantized ADC scoring
  * against one persisted index), and weighted single-source shortest paths
  * (the third iterative-graph shape after pagerank and label propagation).
  *
  * Design rules follow the proven §2-T patterns: every float is rounded at
  * a deterministic 6dp boundary shared with the oracle, ranks break ties
  * on ids, and integer outputs are CAST AS BIGINT in the oracle (DuckDB
  * HUGEINT never reaches an output column — SURVEY §2 determinism rule 6).
  */
object GroupEight {

  private def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  val defs: Seq[Q] = Seq(

    // IVF-PQ ANN — the composition of the two persisted index artifacts
    // (vector_ivf_topk's cell-partitioned corpus, vector_pq_topk's
    // codebook+codes) into the shape production ANN engines actually
    // serve: ONE staged index holding (a) the PQ codebook (32 sub-
    // centroids: 4 subspaces × 8 candidates) and (b) each candidate's
    // 4-byte PQ code stored PARTITIONED BY its coarse IVF cell. A query
    // probes nprobe=2 cells — dynamic partition pruning opens only those
    // cell directories — and ADC-scores the codes there against its own
    // broadcast per-(m,cid) distance table. At 100 TB: the corpus is
    // never rescanned (codes are the index), the scan is cell-pruned,
    // and everything joined to it is broadcast-sized.
    q("vector_ivfpq_topk",
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |cent AS (SELECT vec_id AS cent_id, e AS cent FROM v WHERE vec_id < 8),
        |cents AS (SELECT CAST(c.vec_id AS INT) AS cid, t.m,
        |    c.e[(t.m*16+1):(t.m*16+16)] AS cvec
        |  FROM v c, generate_series(0, 3) t(m) WHERE c.vec_id < 8),
        |assign AS (SELECT c_id, ce, cent_id AS cell FROM (
        |    SELECT c_id, ce, cent_id, row_number() OVER (
        |      PARTITION BY c_id ORDER BY round(list_dot_product(ce, cent), 6) DESC, cent_id) AS rn
        |    FROM (SELECT vec_id AS c_id, e AS ce FROM v WHERE vec_id >= 20)
        |    CROSS JOIN cent) WHERE rn = 1),
        |code AS (SELECT c_id, cell, m, cid FROM (
        |    SELECT c_id, cell, csub.m, cid, row_number() OVER (
        |      PARTITION BY c_id, csub.m ORDER BY
        |        round(list_dot_product(sub, cvec) - 0.5 * list_dot_product(cvec, cvec), 6) DESC,
        |        cid) AS rn
        |    FROM (SELECT c_id, cell, t.m, ce[(t.m*16+1):(t.m*16+16)] AS sub
        |          FROM assign, generate_series(0, 3) t(m)) csub
        |    JOIN cents ON csub.m = cents.m) WHERE rn = 1),
        |probe AS (SELECT q_id, cent_id AS cell FROM (
        |    SELECT q_id, cent_id, row_number() OVER (
        |      PARTITION BY q_id ORDER BY round(list_dot_product(qe, cent), 6) DESC, cent_id) AS rn
        |    FROM (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 20)
        |    CROSS JOIN cent) WHERE rn <= 2),
        |qd AS (SELECT q_id, qsub.m, cid,
        |    CAST(round(list_dot_product(sub, cvec), 6) AS DECIMAL(10,6)) AS d
        |  FROM (SELECT vec_id AS q_id, t.m, e[(t.m*16+1):(t.m*16+16)] AS sub
        |        FROM v, generate_series(0, 3) t(m) WHERE vec_id < 20) qsub
        |  JOIN cents ON qsub.m = cents.m),
        |sim AS (SELECT probe.q_id, code.c_id, CAST(SUM(d) AS DOUBLE) AS sim
        |  FROM probe JOIN code ON probe.cell = code.cell
        |  JOIN qd ON qd.q_id = probe.q_id AND qd.m = code.m AND qd.cid = code.cid
        |  GROUP BY 1, 2)
        |SELECT q_id, rnk, c_id, sim FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rnk FROM sim)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val e = T.t(s, dir, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent"))
      def subs(df: DataFrame, id: Column, idAs: String, vec: Column) =
        df.select(id.as(idAs), posexplode(array((0 until 4).map(m =>
          slice(vec, m * 16 + 1, 16)): _*)).as(Seq("m", "sub")))
      // ONE persisted artifact: codebook + cell-partitioned codes. Staged
      // once per dataset; later runs only read it (PqIndexSpec pattern).
      val idx = T.staged("ivfpq_index", dir) { o =>
        val cents0 = subs(e.filter(col("vec_id") < 8),
            col("vec_id").cast(IntegerType), "cid", col("embedding"))
          .select(col("cid"), col("m"), col("sub").as("cvec"))
        cents0.write.parquet(s"$o/cents")
        val assign0 = e.filter(col("vec_id") >= 20)
          .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
          .crossJoin(broadcast(cent))
          .withColumn("d", round(dot(col("ce"), col("cent")), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy("c_id").orderBy(col("d").desc, col("cent_id"))))
          .filter(col("rn") === 1)
          .select(col("c_id"), col("ce"), col("cent_id").as("cell"))
        subs(assign0, col("c_id"), "c_id", col("ce"))
          .join(assign0.select("c_id", "cell"), "c_id")
          .join(broadcast(cents0), "m")
          .withColumn("score", round(dot(col("sub"), col("cvec"))
            - lit(0.5) * dot(col("cvec"), col("cvec")), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy("c_id", "m").orderBy(col("score").desc, col("cid"))))
          .filter(col("rn") === 1)
          .select("c_id", "m", "cid", "cell")
          .write.partitionBy("cell").parquet(s"$o/codes")
      }
      val cents = T.parquet(s, s"$idx/cents")
      val codes = T.parquet(s, s"$idx/codes")
        .select(col("c_id"), col("m"), col("cid"),
          col("cell").cast(LongType).as("cell"))
      val qs = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val probe = qs.crossJoin(broadcast(cent))
        .withColumn("d", round(dot(col("qe"), col("cent")), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(col("d").desc, col("cent_id"))))
        .filter(col("rn") <= 2)
        .select(col("q_id"), col("cent_id").as("cell"))
      val qd = subs(qs, col("q_id"), "q_id", col("qe"))
        .join(broadcast(cents), "m")
        .select(col("q_id"), col("m"), col("cid"),
          round(dot(col("sub"), col("cvec")), 6).cast(DecimalType(10, 6)).as("d"))
      // codes is the streamed side: broadcast probe triggers dynamic
      // partition pruning on the cell directories (PlanShapeSpec pin);
      // the ADC distance table qd is queries×32 rows — broadcast.
      codes.join(broadcast(probe), "cell")
        .join(broadcast(qd), Seq("q_id", "m", "cid"))
        .groupBy("q_id", "c_id")
        .agg(sum("d").cast(DoubleType).as("sim"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id")))
          .cast(IntegerType))
        .filter(col("rnk") <= 5)
        .select("q_id", "rnk", "c_id", "sim")
        .orderBy("q_id", "rnk")
    },

    // Residual-encoding IVF-PQ (production PQ, VERDICT r8 #6): identical
    // serving shape to vector_ivfpq_topk, but codes quantize the RESIDUAL
    // ce − µ(cell) against a residual sub-codebook (8 seed residuals + the
    // ZERO codeword — "quantize or abstain"), and the inner-product ADC adds
    // the coarse term back: sim ≈ dot(q, µ) + Σ_m dot(q_m, r̂_m). NOTE the
    // ADC uses q itself, not q − µ: the query-residual form belongs to L2
    // scoring and only injects a −dot(µ, r̂) bias here (measured in round
    // 9). Honest finding, same measurement: the FIXTURE embeddings
    // are isotropic (no cluster structure), so ‖r‖ ≈ ‖c‖ and neither
    // encoding dominates on them; residual's recall advantage appears on
    // clustered corpora, which EightSpec pins via Pipelines.ivfpqTopK on a
    // synthetic clustered corpus. This key grades the END-TO-END SERVING
    // PLAN (staged cell-partitioned index, DPP probe, broadcast ADC)
    // bit-exactly against DuckDB. All arithmetic is DOUBLE end-to-end.
    q("vector_ivfpq_residual_topk",
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |cent AS (SELECT vec_id AS cent_id, e AS cent FROM v WHERE vec_id < 8),
        |assign AS (SELECT c_id, cell, list_transform(range(len(ce)), i -> ce[i+1] - cent[i+1]) AS r
        |  FROM (
        |    SELECT c_id, ce, cent_id AS cell, cent, row_number() OVER (
        |      PARTITION BY c_id ORDER BY round(list_dot_product(ce, cent), 6) DESC, cent_id) AS rn
        |    FROM (SELECT vec_id AS c_id, e AS ce FROM v WHERE vec_id >= 20)
        |    CROSS JOIN cent) WHERE rn = 1),
        |codebook AS (SELECT CAST(c_id - 20 AS INT) AS cid, t.m,
        |    r[(t.m*16+1):(t.m*16+16)] AS rvec
        |  FROM assign, generate_series(0, 3) t(m) WHERE c_id < 28
        |  UNION ALL
        |  SELECT CAST(8 AS INT) AS cid, t.m,
        |    list_transform(range(16), i -> 0.0) AS rvec
        |  FROM generate_series(0, 3) t(m)),
        |code AS (SELECT c_id, cell, m, cid FROM (
        |    SELECT rs.c_id, rs.cell, rs.m, cb.cid, row_number() OVER (
        |      PARTITION BY rs.c_id, rs.m ORDER BY
        |        round(list_dot_product(rs.sub, cb.rvec) - 0.5 * list_dot_product(cb.rvec, cb.rvec), 6) DESC,
        |        cb.cid) AS rn
        |    FROM (SELECT c_id, cell, t.m, r[(t.m*16+1):(t.m*16+16)] AS sub
        |          FROM assign, generate_series(0, 3) t(m)) rs
        |    JOIN codebook cb ON rs.m = cb.m) WHERE rn = 1),
        |probe AS (SELECT q_id, cell, qbase FROM (
        |    SELECT q_id, cent_id AS cell,
        |      CAST(round(list_dot_product(qe, cent), 6) AS DECIMAL(12,6)) AS qbase,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY round(list_dot_product(qe, cent), 6) DESC, cent_id) AS rn
        |    FROM (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 20)
        |    CROSS JOIN cent) WHERE rn <= 2),
        |qd AS (SELECT q.q_id, t.m, cb.cid,
        |    CAST(round(list_dot_product(q.e[(t.m*16+1):(t.m*16+16)], cb.rvec), 6) AS DECIMAL(10,6)) AS d
        |  FROM (SELECT vec_id AS q_id, e FROM v WHERE vec_id < 20) q,
        |    generate_series(0, 3) t(m), codebook cb WHERE cb.m = t.m),
        |sim AS (SELECT probe.q_id, code.c_id,
        |    CAST(any_value(probe.qbase) + SUM(qd.d) AS DOUBLE) AS sim
        |  FROM probe JOIN code ON probe.cell = code.cell
        |  JOIN qd ON qd.q_id = probe.q_id AND qd.m = code.m AND qd.cid = code.cid
        |  GROUP BY 1, 2)
        |SELECT q_id, rnk, c_id, sim FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rnk FROM sim)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val e = T.t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("e").as("cent"))
      def subRows(df: DataFrame, id: String, vec: String) =
        df.select(col(id), col("cell"), posexplode(array((0 until 4).map(m =>
          slice(col(vec), m * 16 + 1, 16)): _*)).as(Seq("m", "sub")))
      // ONE staged artifact: residual sub-codebook + cell-partitioned codes
      val idx = T.staged("ivfpq_res_index", dir) { o =>
        val assign = e.filter(col("vec_id") >= 20)
          .select(col("vec_id").as("c_id"), col("e").as("ce"))
          .crossJoin(broadcast(cent))
          .withColumn("d", round(dot(col("ce"), col("cent")), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy("c_id").orderBy(col("d").desc, col("cent_id"))))
          .filter(col("rn") === 1)
          .select(col("c_id"), col("cent_id").as("cell"),
            zip_with(col("ce"), col("cent"), (x, y) => x - y).as("r"))
          .localCheckpoint(false)
        val codebook = subRows(assign.filter(col("c_id") < 28), "c_id", "r")
          .select((col("c_id") - 20).cast(IntegerType).as("cid"), col("m"),
            col("sub").as("rvec"))
          .unionByName(s.range(4)
            .select(col("id").cast(IntegerType).as("m"))
            .withColumn("cid", lit(8))
            .select(col("cid"), col("m"), array_repeat(lit(0.0), 16).as("rvec")))
        codebook.write.parquet(s"$o/cents")
        subRows(assign, "c_id", "r")
          .join(broadcast(codebook), "m")
          .withColumn("score", round(dot(col("sub"), col("rvec"))
            - lit(0.5) * dot(col("rvec"), col("rvec")), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy("c_id", "m").orderBy(col("score").desc, col("cid"))))
          .filter(col("rn") === 1)
          .select("c_id", "m", "cid", "cell")
          .write.partitionBy("cell").parquet(s"$o/codes")
      }
      val codebook = T.parquet(s, s"$idx/cents")
      val codes = T.parquet(s, s"$idx/codes")
        .select(col("c_id"), col("m"), col("cid"),
          col("cell").cast(LongType).as("cell"))
      val qs = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("e").as("qe"))
      // probe keeps the per-(q, cell) coarse term for the ADC sum
      val probe = qs.crossJoin(broadcast(cent))
        .withColumn("d", round(dot(col("qe"), col("cent")), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(col("d").desc, col("cent_id"))))
        .filter(col("rn") <= 2)
        .select(col("q_id"), col("cent_id").as("cell"),
          col("d").cast(DecimalType(12, 6)).as("qbase"))
      // IP ADC table: d(q, m, cid) = dot(q_m, rvec) — cell-independent
      val qd = qs
        .select(col("q_id"), posexplode(array((0 until 4).map(m =>
          slice(col("qe"), m * 16 + 1, 16)): _*)).as(Seq("m", "qsub")))
        .join(broadcast(codebook), "m")
        .select(col("q_id"), col("m"), col("cid"),
          round(dot(col("qsub"), col("rvec")), 6).cast(DecimalType(10, 6)).as("d"))
      // codes is the streamed side: broadcast probe triggers DPP on the
      // cell directories exactly as the raw variant (PlanShapeSpec pattern)
      codes.join(broadcast(probe), "cell")
        .join(broadcast(qd), Seq("q_id", "m", "cid"))
        .groupBy("q_id", "c_id")
        .agg((first(col("qbase")) + sum(col("d"))).cast(DoubleType).as("sim"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id")))
          .cast(IntegerType))
        .filter(col("rnk") <= 5)
        .select("q_id", "rnk", "c_id", "sim")
        .orderBy("q_id", "rnk")
    },

    // Weighted single-source shortest paths on the nation trade graph —
    // the third iterative-graph shape (after pagerank's fixed-power loop
    // and label propagation's min-fold): BELLMAN-FORD FRONTIER RELAXATION.
    // Semantics are deliberately "shortest path using ≤ 6 hops" (six
    // relaxation layers), which is well-defined whether or not the graph
    // has converged — so the oracle is an exact unrolled-CTE ladder, not a
    // fixpoint claim. Edge cost is pure-integer 1 + 1000 div (1+trades):
    // heavier trade lanes are cheaper hops, every value is BIGINT, and no
    // SUM ever reaches an output column (rule 6). The Spark loop is the
    // pagerank shape: the big star join materializes ONCE
    // (localCheckpoint), then 6 iterations of edge ⋈ broadcast(dist) →
    // min-relax → rebuild. At 100 TB the dist table is node-sized — the
    // broadcast would become a keyed shuffle join; iteration count stays
    // the hop bound either way. EightSpec pins the loop against a
    // driver-side Bellman-Ford on the collected (tiny) edge list.
    q("graph_sssp_frontier", {
      // MATERIALIZED CTEs: each relaxation layer references its
      // predecessor twice (carry + relax); left inlined, DuckDB would
      // re-expand the whole ladder per reference — 2⁶ copies of the star
      // join. Materializing evaluates every layer exactly once. The relax
      // term is an uncorrelated aggregate LEFT JOIN, not a per-row
      // correlated subquery, for the same reason.
      val iter = (p: Int, c: Int) =>
        s"""d$c AS MATERIALIZED (SELECT p.node,
           |    least(p.d, coalesce(r.rd, 1000000000000000)) AS d
           |  FROM d$p p LEFT JOIN (
           |    SELECT e.dst AS nd, min(q.d + e.cost) AS rd
           |    FROM e JOIN d$p q ON q.node = e.src GROUP BY e.dst) r
           |  ON r.nd = p.node)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS cnt
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2),
         |e AS MATERIALIZED (SELECT src, dst, CAST(1 + 1000 // (1 + cnt) AS BIGINT) AS cost
         |  FROM e0 WHERE src <> dst),
         |n AS (SELECT n_nationkey AS node FROM nation),
         |d0 AS MATERIALIZED (SELECT node, CAST(CASE WHEN node = 0 THEN 0
         |    ELSE 1000000000000000 END AS BIGINT) AS d FROM n),
         |${iter(0, 1)},
         |${iter(1, 2)},
         |${iter(2, 3)},
         |${iter(3, 4)},
         |${iter(4, 5)},
         |${iter(5, 6)}
         |SELECT node, CASE WHEN d >= 1000000000000000 THEN NULL ELSE d END AS dist_6hop
         |FROM d6 ORDER BY node"""
    }) { (s, dir) =>
      val inf = 1000000000000000L
      // staged shared artifact (r16): see GroupSeven.nationEdges — the
      // star join runs once per dataset, every consumer reads ≤625 rows
      val e = GroupSeven.nationEdges(s, dir)
        .withColumnRenamed("w", "cnt")
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          expr("1L + 1000L DIV (1L + cnt)").as("cost"))
        .localCheckpoint(false)
      val n = T.t(s, dir, "nation").select(col("n_nationkey").as("node"))
      var dist = n.withColumn("d",
        when(col("node") === 0, lit(0L)).otherwise(lit(inf)))
      // Per-round localCheckpoint: REVERTED in r16, RE-FLIPPED in r17.
      // The r16 refutation (0.97 → 1.15 s) was measured under the count()
      // action, which prunes the distance computation (guide §1.4; VERDICT
      // r16 #1) — under the honest noop metric the un-truncated ladder
      // (284-Exchange tree, dist referenced twice per round) read 2.75 s
      // at round start; with the ≤25-row iterate checkpointed per round it
      // computes once per round. Same-window noop BenchOne min-of-5:
      // 2.10 → 1.14 s.
      for (_ <- 1 to 6) {
        val relax = e.join(broadcast(dist), col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(min(col("d") + col("cost")).as("rd"))
        dist = n.join(broadcast(dist), "node")
          .join(broadcast(relax.withColumnRenamed("dst", "node")),
            Seq("node"), "left")
          .select(col("node"),
            least(col("d"), coalesce(col("rd"), lit(inf))).as("d"))
          .localCheckpoint(false)
      }
      dist.select(col("node"),
          when(col("d") >= inf, lit(null).cast(LongType))
            .otherwise(col("d")).as("dist_6hop"))
        .orderBy("node")
    },

    // Arrival-order near-dup ADMISSION AUDIT — the batch declared form of
    // the streaming LSH dedup gate (graft.streaming.Streams
    // .nearDupSurvivors + sigDedup, replay-pinned in StreamingSpec), audited
    // over a deterministic CAPPED-ABSOLUTE panel: for each panel document,
    // would the streaming gate have ADMITTED it (no earlier-arriving
    // document — vec_id order = arrival order — within cosine 0.45)?
    // Suppression is by ANY earlier document, admitted or not (exactly the
    // state the streaming gate keeps), so each panel verdict needs only
    // panel × earlier-corpus — and with the panel modulus DERIVED FROM THE
    // CORPUS COUNT in-plan (md = max(10, ceil(n/200)), the ml_knn_loocv
    // shape) that is LINEAR in the corpus at ANY scale. The r7–r12 graded
    // form computed the FULL survivor set through banded LSH — exact, but
    // super-linear by structure at τ = 0.45 (band noise ≈ n²·p_rand;
    // measured 17× wall at ×10 data, r12); full-corpus admission at scale
    // routes through the streaming gate itself (its state is the banded
    // index) while THIS key is the exact panel audit of that gate. The
    // panel broadcasts by construction; the corpus side streams one
    // codegen'd vec_dot pass, no shuffle on the big side.
    q("stream_dedup_neardup",
      """WITH m AS (SELECT GREATEST(10, (count(*) + 199) // 200) AS md
        |  FROM embeddings),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
        |s AS (SELECT vec_id, e, label FROM v, m WHERE vec_id % md = 0)
        |SELECT s.vec_id, s.label,
        |  CAST(CASE WHEN EXISTS (SELECT 1 FROM v u WHERE u.vec_id < s.vec_id
        |    AND round(list_dot_product(u.e, s.e), 6) >= 0.45)
        |  THEN 0 ELSE 1 END AS BIGINT) AS survives
        |FROM s ORDER BY s.vec_id""") { (s, dir) =>
      val e = GroupVector.emb(s, dir)
      val md = e.agg(count(lit(1)).as("nrows"))
        .select(greatest(lit(10L), expr("(nrows + 199) div 200")).as("md"))
      val panel = e.crossJoin(broadcast(md))
        .filter(col("vec_id") % col("md") === 0)
        .select(col("vec_id").as("s_id"), col("embedding").as("se"),
          col("label").as("s_label"))
      // corpus × broadcast(panel): self/later rows score hit=0, so every
      // panel doc (incl. the first arrival) survives the groupBy
      e.crossJoin(broadcast(panel))
        .withColumn("hit", when(col("vec_id") < col("s_id") &&
          round(call_function("vec_dot", col("embedding"), col("se")), 6)
            >= 0.45, 1).otherwise(0))
        .groupBy(col("s_id").as("vec_id"), col("s_label").as("label"))
        .agg((lit(1) - max(col("hit"))).cast(LongType).as("survives"))
        .orderBy("vec_id")
    },

    // Two-sample Kolmogorov–Smirnov distance between the daily-count
    // distributions of purchases and clicks — drift detection's workhorse.
    // Samples are the ≤31 per-day counts of each type (the day spine
    // bounds every window, the stat_runs_test pattern), so D can be EXACT:
    // the ECDF step heights are integer cross-products f·n, and
    // D = max|f1·n2 − f2·n1| / (n1·n2) emits through the tie-safe
    // exact-integer HALF_UP ppm form (T.r6). The RANGE frame makes each
    // row's cumulative count include its value-ties — identical to the
    // oracle's correlated `count(c <= v)` formulation.
    q("stat_ks_two_sample",
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, event_type AS et, count(*) AS c
        |  FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1, 2),
        |n AS (SELECT
        |    (SELECT count(*) FROM daily WHERE et = 'purchase') AS n1,
        |    (SELECT count(*) FROM daily WHERE et = 'click') AS n2),
        |f AS (SELECT v,
        |    (SELECT count(*) FROM daily WHERE et = 'purchase' AND c <= v) AS f1,
        |    (SELECT count(*) FROM daily WHERE et = 'click' AND c <= v) AS f2
        |  FROM (SELECT DISTINCT c AS v FROM daily)),
        |dm AS (SELECT max(abs(f1 * n2 - f2 * n1)) AS dn FROM f CROSS JOIN n)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST((2000000 * dn + n1 * n2) // (2 * n1 * n2) AS BIGINT) / 1000000.0 AS d_stat
        |FROM dm CROSS JOIN n""") { (s, dir) =>
      val daily = T.t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy(col("ts").cast(DateType).as("d"), col("event_type").as("et"))
        .agg(count(lit(1)).as("c"))
        .select(col("c"),
          when(col("et") === "purchase", 1L).otherwise(0L).as("i1"),
          when(col("et") === "click", 1L).otherwise(0L).as("i2"))
      val n = daily.agg(sum(col("i1")).as("n1"), sum(col("i2")).as("n2"))
      // RANGE frame over the ≤62-row day-spine union: value-ties included
      val wr = Window.orderBy("c")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val dn = daily
        .withColumn("f1", sum(col("i1")).over(wr))
        .withColumn("f2", sum(col("i2")).over(wr))
        .crossJoin(broadcast(n))
        .agg(max(abs(col("f1") * col("n2") - col("f2") * col("n1"))).as("dn"))
      dn.crossJoin(broadcast(n))
        .select(col("n1"), col("n2"), T.r6("dn", "n1 * n2").as("d_stat"))
    },

    // Mann–Kendall trend test over the daily purchase series:
    // S = Σ_{i<j} sign(x_j − x_i) — the nonparametric "is this metric
    // trending" screen. The pair set is the day spine × itself (≤31², a
    // few hundred pairs AFTER the map-side day aggregation), so the
    // bounded theta self-join is the honest plan; every output is an
    // exact integer or a CASE label.
    q("stat_mann_kendall",
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |p AS (SELECT CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
        |  FROM daily a JOIN daily b ON b.d > a.d)
        |SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
        |  CAST(coalesce(sum(sgn), 0) AS BIGINT) AS s_stat,
        |  CASE WHEN coalesce(sum(sgn), 0) > 0 THEN 'increasing'
        |       WHEN coalesce(sum(sgn), 0) < 0 THEN 'decreasing'
        |       ELSE 'flat' END AS trend
        |FROM p""") { (s, dir) =>
      val daily = T.t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("ts").cast(DateType).as("d"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // two consumers of the tiny day agg
      val pairs = daily.select(col("d").as("da"), col("c").as("ca"))
        .join(daily.select(col("d").as("db"), col("c").as("cb")),
          col("db") > col("da"))
        .select(when(col("cb") > col("ca"), 1L)
          .when(col("cb") < col("ca"), -1L).otherwise(0L).as("sgn"))
      daily.agg(count(lit(1)).as("n_days"))
        .crossJoin(pairs.agg(coalesce(sum(col("sgn")), lit(0L)).as("s_stat")))
        .select(col("n_days"), col("s_stat"),
          when(col("s_stat") > 0, "increasing")
            .when(col("s_stat") < 0, "decreasing")
            .otherwise("flat").as("trend"))
    },

    // Training-context packing — the sequence-packing step between dedup
    // and tokenized export in every LLM data pipeline: documents packed
    // greedily in doc_id order into 2048-token contexts PER LANGUAGE,
    // context index = exact integer division of the per-lang running
    // token offset (the multimodal_shard_manifest shape, token- instead
    // of byte-budgeted). The running sum is a lang-keyed window, never
    // global; at 100 TB each lang/date partition packs independently.
    q("pipeline_context_pack",
      """WITH w AS (SELECT lang, doc_id,
        |    len(string_split(text, ' ')) AS toks,
        |    sum(len(string_split(text, ' '))) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - len(string_split(text, ' ')) AS off
        |  FROM documents)
        |SELECT lang, CAST(off // 2048 AS BIGINT) AS ctx_ix,
        |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM w GROUP BY 1, 2 ORDER BY lang, ctx_ix""") { (s, dir) =>
      val w = T.t(s, dir, "documents")
        .withColumn("toks", size(split(col("text"), " ")).cast(LongType))
        .withColumn("off",
          sum(col("toks")).over(Window.partitionBy("lang").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            - col("toks"))
      w.groupBy(col("lang"), expr("off div 2048L").as("ctx_ix"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .orderBy("lang", "ctx_ix")
    },

    // One-way ANOVA F over the daily counts of the event types — "does
    // this metric differ by group" in one pass. FIXED-POINT form (the
    // naive-Bayes micro-nats idea): the between/within sums of squares
    // are rationals with per-group denominators n_g, so each group term
    // is scaled to micro-units by ONE exact integer division
    // S_g²·10⁶ div n_g — order/partition/engine-independent — and
    // F = (A·(N−k)) / (B·(k−1)) ends in a single IEEE division of exact
    // integers. Products run in DECIMAL(38,0)/HUGEINT before the double
    // cast (the chi2 overflow guard): at 100 TB S_g² alone wraps BIGINT.
    q("stat_anova_oneway",
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, event_type AS et, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT et, count(*) AS ng, CAST(sum(c) AS BIGINT) AS sg,
        |    CAST(sum(c * c) AS BIGINT) AS sq FROM daily GROUP BY 1),
        |r AS (SELECT CAST(sum(CAST(sg AS HUGEINT) * sg * 1000000 // ng) AS BIGINT) AS r
        |  FROM g),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(sg) AS BIGINT) AS tt, CAST(sum(sq) AS BIGINT) AS sqq FROM g),
        |ab AS (SELECT k, n,
        |    CAST(r - CAST(tt AS HUGEINT) * tt * 1000000 // n AS BIGINT) AS a,
        |    CAST(CAST(sqq AS HUGEINT) * 1000000 - r AS BIGINT) AS b
        |  FROM r CROSS JOIN t)
        |SELECT k AS k_groups, n AS n_obs,
        |  round(CAST(CAST(a AS HUGEINT) * (n - k) AS DOUBLE)
        |      / CAST(CAST(b AS HUGEINT) * (k - 1) AS DOUBLE), 6) AS f_stat
        |FROM ab""") { (s, dir) =>
      val g = T.t(s, dir, "events")
        .groupBy(col("ts").cast(DateType).as("d"), col("event_type").as("et"))
        .agg(count(lit(1)).as("c"))
        .groupBy("et")
        .agg(count(lit(1)).as("ng"), sum(col("c")).as("sg"),
          sum(col("c") * col("c")).as("sq"))
        .localCheckpoint(false) // tiny (one row per event type), three consumers
      val r = g.agg(
        sum(expr("cast(sg as decimal(38,0)) * sg * 1000000 div ng")).as("r"))
      val t = g.agg(count(lit(1)).cast(LongType).as("k"),
        sum(col("ng")).as("n"), sum(col("sg")).as("tt"), sum(col("sq")).as("sqq"))
      r.crossJoin(broadcast(t))
        .select(col("k"), col("n"),
          expr("cast(r - cast(tt as decimal(38,0)) * tt * 1000000 div n as bigint)").as("a"),
          expr("cast(cast(sqq as decimal(38,0)) * 1000000 - r as bigint)").as("b"))
        .select(col("k").as("k_groups"), col("n").as("n_obs"),
          round(expr("cast(cast(a as decimal(38,0)) * (n - k) as double)")
            / expr("cast(cast(b as decimal(38,0)) * (k - 1) as double)"), 6)
            .as("f_stat"))
    },

    // k-core peeling on the part co-purchase graph — the fourth iterative-
    // graph shape (pagerank: fixed-power; label-prop: min-fold; sssp:
    // min-relax; here: ITERATIVE SUBGRAPH RESTRICTION). Semantics are
    // "the surviving subgraph after 4 peel rounds at k=10" — bounded
    // rounds, well-defined without a fixpoint claim, CTE-unrollable.
    // Each round recomputes degrees over the current edge set and keeps
    // nodes with deg ≥ k; the Spark loop is edge-list agg + two semi-
    // restriction joins per round, localCheckpoint per layer (the
    // cluster-components pattern), with only the tiny per-round audit
    // counts touching the driver (the transitive-closure precedent).
    // Output: per-round (n_nodes, n_edges) — the peel curve.
    q("graph_kcore_peel", {
      val layer = (p: Int, c: Int) =>
        s"""k$c AS MATERIALIZED (SELECT src AS node FROM l$p
           |  GROUP BY 1 HAVING count(*) >= 10),
           |l$c AS MATERIALIZED (SELECT l.src, l.dst FROM l$p l
           |  JOIN k$c a ON l.src = a.node JOIN k$c b ON l.dst = b.node)""".stripMargin
      s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_partkey < b.l_partkey),
         |l0 AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e
         |  UNION ALL SELECT pb, pa FROM e),
         |${layer(0, 1)},
         |${layer(1, 2)},
         |${layer(2, 3)},
         |${layer(3, 4)}
         |SELECT * FROM (
         |  SELECT 1 AS round, CAST((SELECT count(*) FROM k1) AS BIGINT) AS n_nodes,
         |    CAST((SELECT count(*) FROM l1) // 2 AS BIGINT) AS n_edges
         |  UNION ALL SELECT 2, CAST((SELECT count(*) FROM k2) AS BIGINT),
         |    CAST((SELECT count(*) FROM l2) // 2 AS BIGINT)
         |  UNION ALL SELECT 3, CAST((SELECT count(*) FROM k3) AS BIGINT),
         |    CAST((SELECT count(*) FROM l3) // 2 AS BIGINT)
         |  UNION ALL SELECT 4, CAST((SELECT count(*) FROM k4) AS BIGINT),
         |    CAST((SELECT count(*) FROM l4) // 2 AS BIGINT)
         |) ORDER BY round"""
    }) { (s, dir) =>
      val e = GroupSeven.pairSupport(s, dir) // staged artifact, shared
        .select("pa", "pb")
      // Generation storage is SIZE-BRANCHED (r13 ×100 probe, all three
      // variants measured at sf0.1/sf1/sf10). Per-round localCheckpoint
      // (deserialized row cache, async ContextCleaner release) is the
      // fast shape at fixture scales — but at the ×100 fixture ~5 live
      // generations × 240M rows × ~80 B/object overflowed the heap and
      // the key went eviction/GC-bound (522–756 s reps, executor
      // heartbeat timeouts). Past the threshold the loop switches to
      // columnar-compressed persist (~4× smaller) with PROMPT unpersist
      // of the previous generation — at most two generations live —
      // measured 68.8 s at ×100 (7.6× faster; second decade 5.2× for
      // ×10 data = sub-linear). The persist chain costs ~3× at sf0.1
      // (per-round cached-plan overhead dominates small data), hence the
      // branch instead of one strategy. Measured dead end, recorded so
      // the next reader doesn't retry it: pre-partitioning the edge list
      // on src (exchange-free degree aggs) cost 2.3×/2.9× at sf0.1/sf1.
      val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // r16 optimization (guide §2.3 — shuffle/cache fewer bytes): loop
      // generations are stored UNDIRECTED (pa < pb, |E| rows) instead of
      // both orientations (2|E|). The per-round degree agg derives the
      // node stream by exploding both endpoints BEFORE the map-side
      // partial agg — a generator inside the same stage, no new exchange
      // — so keep sets, the peel curve, and the broadcast decision are
      // value-identical while the restriction joins and every per-round
      // cache/checkpoint touch HALF the rows. (The audit's n_edges is the
      // undirected count directly — the directed form divided by 2.)
      var und = e.select(col("pa"), col("pb")).localCheckpoint(false)
      // threshold shared + test-overridable via T.bigRunEdgeThreshold
      // (the threshold is calibrated in DIRECTED edges, hence the 2×)
      val bigRun = 2L * und.count() > T.bigRunEdgeThreshold(s)
      val audit = Seq.newBuilder[(Int, Long, Long)]
      for (r <- 1 to 4) {
        val keep0 = und
          .select(explode(array(col("pa"), col("pb"))).as("node"))
          .groupBy("node")
          .agg(count(lit(1)).as("dg")).filter(col("dg") >= 10)
          .select("node") // 2 joins + a count below
        // lazy checkpoint (r16): nKeep's count below materializes + caches
        // it in the same job — the eager form ran a separate caching job
        // per round (2 extra jobs/round over data this small is real wall)
        val keep = if (bigRun) keep0.persist(mad)
          else keep0.localCheckpoint(false)
        // the keep set is NODE-sized (exactly 16 bytes/row, counted here —
        // the audit needs the count anyway): under T.broadcastExact's
        // known-size cap both restriction joins broadcast it and the edge
        // list never shuffles in-round; past the cap → unhinted shuffle
        // joins on src/dst. (The r13 ×100 probe caught the old
        // session-budget gate un-broadcasting a 32 MB keep set at 2M
        // nodes, pushing 8 edge-list shuffles per run.)
        val nKeep = keep.count()
        val maybeB: DataFrame => DataFrame =
          if (T.broadcastExact(s, 16L * nKeep)) broadcast
          else identity
        val next0 = und
          .join(maybeB(keep.withColumnRenamed("node", "pa")), "pa")
          .join(maybeB(keep.withColumnRenamed("node", "pb")), "pb")
          .select("pa", "pb")
        if (bigRun) {
          val next = next0.persist(mad)
          val nEdges = next.count() // materializes next; prior gen now free
          // blocking=false; Dataset.unpersist never cascades, next keeps its data
          und.unpersist(false)
          keep.unpersist(false)
          und = next
          audit += ((r, nKeep, nEdges))
        } else {
          und = next0.localCheckpoint(false) // the audit count materializes
          audit += ((r, nKeep, und.count()))
        }
      }
      if (bigRun) und.unpersist(false)
      import s.implicits._
      audit.result().toDF("round", "n_nodes", "n_edges")
        .orderBy("round")
    },

    // Incremental batch-vs-corpus dedup — the continuous-ingest shape of
    // the dedup family: a NEW batch (doc_id % 5 = 0, ~20%) is admitted
    // against the EXISTING corpus, never corpus-vs-corpus. Exact dups
    // match on text (at scale: on the persisted content-hash index);
    // near-dups ride the staged shingle inverted index restricted to
    // batch×corpus — the bipartite join's fan-out is batch-sized, so
    // daily ingest cost scales with the batch, not the corpus. The
    // near test is the exact integer cross-multiplication
    // 5c ≥ 4(n_b + n_c − c) (Jaccard ≥ 0.8), corpus-side shingles
    // df-ceilinged at dfCap in lockstep with the oracle. Classification
    // precedence: exact > near > accepted.
    q("dedup_incremental_batch",
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |ex AS (SELECT DISTINCT b.doc_id FROM batch b JOIN corpus c ON b.text = c.text),
        |allsh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(arr)-2), i -> arr[i+1]||' '||arr[i+2]||' '||arr[i+3])) AS sh
        |  FROM (SELECT doc_id, string_split(text,' ') AS arr FROM documents)),
        |bs AS (SELECT * FROM allsh WHERE doc_id % 5 = 0),
        |cs AS (SELECT * FROM allsh WHERE doc_id % 5 <> 0),
        |bn AS (SELECT doc_id, count(*) AS n FROM bs GROUP BY 1),
        |cn AS (SELECT doc_id, count(*) AS n FROM cs GROUP BY 1),
        |ck AS (SELECT sh FROM cs GROUP BY sh HAVING count(*) <= 10000),
        |common AS (SELECT b.doc_id AS ib, c.doc_id AS ic, count(*) AS c
        |  FROM bs b JOIN ck ON b.sh = ck.sh JOIN cs c ON b.sh = c.sh GROUP BY 1, 2),
        |near AS (SELECT DISTINCT ib FROM common
        |  JOIN bn ON bn.doc_id = ib JOIN cn ON cn.doc_id = ic
        |  WHERE 5 * c >= 4 * (bn.n + cn.n - c)),
        |cls AS (SELECT CASE WHEN ex.doc_id IS NOT NULL THEN 'dup_exact'
        |    WHEN nr.ib IS NOT NULL THEN 'dup_near' ELSE 'accepted' END AS class
        |  FROM batch b LEFT JOIN ex ON b.doc_id = ex.doc_id
        |  LEFT JOIN near nr ON b.doc_id = nr.ib)
        |SELECT class, count(*) AS n_docs FROM cls GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val d = T.t(s, dir, "documents").select("doc_id", "text")
      val corpus = d.filter(col("doc_id") % 5 =!= 0)
      val batch = d.filter(col("doc_id") % 5 === 0)
      val exIds = batch
        .join(corpus.select("text").distinct(), Seq("text"), "left_semi")
        .select("doc_id")
      // r16 optimization (guide §2.3): per-doc sizes come from the staged
      // full counts (identical values), and the batch×corpus common-count
      // joins ride the staged df≥2 LONG surrogate index instead of
      // shingle strings. Exactness: the index keeps a shingle in ALL its
      // docs or none (the cut is per-shingle global df), so (a) any
      // shingle shared by a batch and a corpus doc has global df ≥ 2 and
      // is present, and (b) the corpus-df ceiling counted over the
      // restricted corpus rows equals the full corpus df for every kept
      // shingle; dropped global-df=1 shingles have corpus df ≤ 1 and no
      // possible batch match, so `ck` admitting them changed nothing.
      val sizesAll = GroupPipeline.shingleSizes(s, dir)
      val idx = GroupPipeline.shingleDfRows(s, dir).select("doc_id", "shid")
      val bs = idx.filter(col("doc_id") % 5 === 0)
      val cs = idx.filter(col("doc_id") % 5 =!= 0)
      val bn = sizesAll.filter(col("doc_id") % 5 === 0)
      val cn = sizesAll.filter(col("doc_id") % 5 =!= 0)
      val ck = cs.groupBy("shid").agg(count(lit(1)).as("cdf"))
        .filter(col("cdf") <= GroupPipeline.dfCap).select("shid")
      val common = bs.join(ck, "shid")
        .select(col("doc_id").as("ib"), col("shid"))
        .join(cs.select(col("doc_id").as("ic"), col("shid").as("shid2")),
          col("shid") === col("shid2"))
        .groupBy("ib", "ic").agg(count(lit(1)).as("c"))
      val near = common
        .join(bn.select(col("doc_id").as("ib"), col("n").as("nb")), "ib")
        .join(cn.select(col("doc_id").as("ic"), col("n").as("nc")), "ic")
        .filter(lit(5) * col("c") >= lit(4) * (col("nb") + col("nc") - col("c")))
        .select("ib").distinct()
      batch.select("doc_id")
        .join(exIds.withColumn("_ex", lit(1)), Seq("doc_id"), "left")
        .join(near.withColumnRenamed("ib", "doc_id").withColumn("_nr", lit(1)),
          Seq("doc_id"), "left")
        .select(when(col("_ex") === 1, "dup_exact")
          .when(col("_nr") === 1, "dup_near")
          .otherwise("accepted").as("class"))
        .groupBy("class").agg(count(lit(1)).as("n_docs"))
        .orderBy("class")
    },

    // Full-batch perceptron training as PURE AGGREGATION — "ML training
    // is just an agg loop" in its most distilled form (the Lloyd-kmeans /
    // closed-form-OLS family): classify purchase(+1) vs click(−1) from
    // integer features (bias, day-of-week, hour). Each epoch is ONE
    // distributed scan: w ← w + Σ_{misclassified} y·x, every quantity an
    // exact BIGINT — no learning-rate float, no per-sample ordering, so
    // the weights are partition/order/engine-independent and the oracle
    // is a 3-epoch unrolled CTE ladder. Epochs are full-batch by design:
    // sequential per-sample updates don't distribute; summed batch
    // updates are the scalable form. Accuracy emits as exact-int ppm.
    q("ml_perceptron_epochs", {
      val margin = "y * (w.w0 * x0 + w.w1 * x1 + w.w2 * x2)"
      val epoch = (p: String, c: String) =>
        s"""$c AS ($${sel})""".replace("${sel}",
          s"""SELECT
             |  w.w0 + CAST(coalesce(sum(CASE WHEN $margin <= 0 THEN y * x0 END), 0) AS BIGINT) AS w0,
             |  w.w1 + CAST(coalesce(sum(CASE WHEN $margin <= 0 THEN y * x1 END), 0) AS BIGINT) AS w1,
             |  w.w2 + CAST(coalesce(sum(CASE WHEN $margin <= 0 THEN y * x2 END), 0) AS BIGINT) AS w2
             |FROM s CROSS JOIN $p w GROUP BY w.w0, w.w1, w.w2""".stripMargin)
      s"""WITH s AS MATERIALIZED (SELECT
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS y,
         |    1 AS x0, (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS x1,
         |    hour(ts) AS x2
         |  FROM events WHERE event_type IN ('purchase', 'click')),
         |w0t AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
         |    CAST(0 AS BIGINT) AS w2),
         |${epoch("w0t", "e1")},
         |${epoch("e1", "e2")},
         |${epoch("e2", "e3")},
         |a AS (SELECT count(*) AS n,
         |    CAST(coalesce(sum(CASE WHEN $margin > 0 THEN 1 END), 0) AS BIGINT) AS ok
         |  FROM s CROSS JOIN e3 w)
         |SELECT w0 AS w_bias, w1 AS w_dow, w2 AS w_hour,
         |  CAST((2000000 * ok + n) // (2 * n) AS BIGINT) / 1000000.0 AS acc_ppm
         |FROM e3 CROSS JOIN a"""
    }) { (s, dir) =>
      val samples = T.t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(
          when(col("event_type") === "purchase", 1).otherwise(-1).as("y"),
          lit(1).as("x0"),
          (datediff(col("ts").cast(DateType),
            lit("1970-01-01").cast(DateType)) % 7).as("x1"),
          hour(col("ts")).as("x2"))
        .localCheckpoint(false) // 4 consumers: 3 epochs + the accuracy pass
      val m = col("y") *
        (col("w0") * col("x0") + col("w1") * col("x1") + col("w2") * col("x2"))
      def epoch(w: DataFrame): DataFrame =
        samples.crossJoin(broadcast(w))
          .groupBy("w0", "w1", "w2")
          .agg(
            coalesce(sum(when(m <= 0, col("y") * col("x0"))), lit(0L))
              .cast(LongType).as("d0"),
            coalesce(sum(when(m <= 0, col("y") * col("x1"))), lit(0L))
              .cast(LongType).as("d1"),
            coalesce(sum(when(m <= 0, col("y") * col("x2"))), lit(0L))
              .cast(LongType).as("d2"))
          .select((col("w0") + col("d0")).as("w0"),
            (col("w1") + col("d1")).as("w1"),
            (col("w2") + col("d2")).as("w2"))
      val w0 = samples.sparkSession.range(1)
        .select(lit(0L).as("w0"), lit(0L).as("w1"), lit(0L).as("w2"))
      val w = epoch(epoch(epoch(w0)))
      val acc = samples.crossJoin(broadcast(w))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(m > 0, 1)), lit(0L)).cast(LongType).as("ok"))
      w.crossJoin(broadcast(acc))
        .select(col("w0").as("w_bias"), col("w1").as("w_dow"),
          col("w2").as("w_hour"), T.r6("ok", "n").as("acc_ppm"))
    },

    // Training-mixture sampling — the source-reweighting step of corpus
    // assembly: compute a per-source keep rate that BALANCES token mass
    // across sources (rate_ppm = 10⁶·min_tokens div tokens_source, exact
    // integer), then keep each doc by a DETERMINISTIC portable hash
    // (poly_hash(doc_id) mod 10⁶ < rate) — reproducible on any engine,
    // partitioning, or rerun, unlike rand()-based sampling. The smallest
    // source keeps rate 10⁶ (everything) by construction. One scan + a
    // broadcast rate table; at 100 TB the rate table is source-count
    // sized and the sample is a stateless scan-level filter.
    q("pipeline_mixture_sample",
      """WITH d AS (SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS toks,
        |    CAST(doc_id AS VARCHAR) AS ds
        |  FROM documents),
        |t AS (SELECT source, CAST(sum(toks) AS BIGINT) AS tt FROM d GROUP BY 1),
        |m AS (SELECT min(tt) AS mt FROM t),
        |r AS (SELECT source,
        |    CAST(1000000 * CAST(mt AS HUGEINT) // tt AS BIGINT) AS rate_ppm
        |  FROM t CROSS JOIN m),
        |h AS (SELECT source, toks, (list_reduce(
        |    list_concat([CAST(0 AS HUGEINT)],
        |      list_transform(range(length(ds)),
        |        i -> CAST(ascii(substr(ds, CAST(i+1 AS INT), 1)) AS HUGEINT))),
        |    (hh, c) -> (hh * 257 + c) % CAST(2305843009213693951 AS HUGEINT)
        |  ) * CAST(1181783497276652981 AS HUGEINT) + 1)
        |    % CAST(2305843009213693951 AS HUGEINT) % 1000000 AS bucket
        |  FROM d)
        |SELECT r.source, r.rate_ppm,
        |  CAST(coalesce(sum(CASE WHEN bucket < rate_ppm THEN 1 END), 0) AS BIGINT) AS n_docs_kept,
        |  CAST(coalesce(sum(CASE WHEN bucket < rate_ppm THEN toks END), 0) AS BIGINT) AS n_tokens_kept
        |FROM h JOIN r ON h.source = r.source
        |GROUP BY 1, 2 ORDER BY 1""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val d = T.t(s, dir, "documents").select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("toks"))
      val t = d.groupBy("source").agg(sum("toks").as("tt"))
      val r = t.crossJoin(broadcast(t.agg(min(col("tt")).as("mt"))))
        .select(col("source"),
          expr("cast(1000000 * cast(mt as decimal(38,0)) div tt as bigint)")
            .as("rate_ppm"))
      d.withColumn("bucket",
          call_function("poly_hash", col("doc_id").cast(StringType)) % 1000000L)
        .join(broadcast(r), "source")
        .groupBy("source", "rate_ppm")
        .agg(
          coalesce(sum(when(col("bucket") < col("rate_ppm"), 1L)), lit(0L))
            .cast(LongType).as("n_docs_kept"),
          coalesce(sum(when(col("bucket") < col("rate_ppm"), col("toks"))), lit(0L))
            .cast(LongType).as("n_tokens_kept"))
        .orderBy("source")
    },

    // EXISTS / NOT EXISTS correlated predicate subqueries through the SQL
    // surface — the Catalyst decorrelation path the scalar-subquery key
    // doesn't touch: RewritePredicateSubquery turns both predicates into
    // LeftSemi/LeftAnti joins (PlanShapeSpec pins no per-row subplan
    // survives). Orders that shipped a >45-quantity line but had NO
    // returned line.
    sqlKey("subquery_exists_rewrite",
      """SELECT o.o_orderkey, o.o_orderstatus FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |ORDER BY o.o_orderkey"""),

    // FILTER (WHERE ...) aggregate clause — one scan computing disjoint
    // conditional aggregates without self-joins or CASE pyramids; every
    // result column explicitly cast so DuckDB's HUGEINT/float promotions
    // can't reach the output.
    sqlKey("agg_filter_clause",
      """SELECT l_returnflag,
        |  count(*) AS n_all,
        |  CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS qty_discounted,
        |  CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS n_open_supp
        |FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // End-to-end export-readiness audit — the full training-data export
    // path in one declared plan: exact dedup (min-id survivor per text) →
    // quality gate (≥ 30 tokens) → per-lang 2048-token context packing →
    // per-lang manifest (contexts, docs, tokens). Each stage is a shape
    // proven by its own key (dedup_exact, text_filter_pipeline,
    // pipeline_context_pack); the composition is what an export job
    // actually ships, and the manifest is what a training run consumes.
    q("pipeline_export_ready",
      """WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |d AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS toks
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM surv)),
        |q AS (SELECT * FROM d WHERE toks >= 30),
        |w AS (SELECT lang, doc_id, toks,
        |    sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS off
        |  FROM q)
        |SELECT lang, CAST(count(DISTINCT off // 2048) AS BIGINT) AS n_ctx,
        |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM w GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val docs = T.t(s, dir, "documents")
      val surv = docs.groupBy("text").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val d = docs.join(surv, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast(LongType).as("toks"))
        .filter(col("toks") >= 30)
      d.withColumn("off",
          sum(col("toks")).over(Window.partitionBy("lang").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            - col("toks"))
        .groupBy("lang")
        .agg(countDistinct(expr("off div 2048L")).as("n_ctx"),
          count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .orderBy("lang")
    },

    // Calendar-dimension build — the warehouse date-dim every star schema
    // joins: one generated row per day of the orders span with conformed
    // date attributes. The span comes from a 1-row min/max agg; the rows
    // come from Catalyst's `sequence` generator exploded — a GENERATED
    // dimension never scans fact data beyond the 1-row span agg, and at
    // 100 TB it broadcasts to every consumer. Day-of-week is the portable
    // epoch-day mod 7 (0 = Thursday) — engine dow() numberings differ.
    q("etl_calendar_dim",
      """WITH span AS (SELECT min(o_orderdate) AS dmin, max(o_orderdate) AS dmax FROM orders),
        |d AS (SELECT unnest(generate_series(dmin, dmax, INTERVAL 1 DAY))::DATE AS d FROM span)
        |SELECT d, CAST(year(d) AS INT) AS y, CAST(quarter(d) AS INT) AS q,
        |  CAST(month(d) AS INT) AS m, CAST(day(d) AS INT) AS dom,
        |  CAST((d - DATE '1970-01-01') % 7 AS INT) AS dow_epoch,
        |  CAST(d = last_day(d) AS INT) AS is_month_end
        |FROM d ORDER BY d""") { (s, dir) =>
      T.t(s, dir, "orders")
        .agg(min(col("o_orderdate")).as("dmin"), max(col("o_orderdate")).as("dmax"))
        // a day-time interval step promotes sequence() to timestamps and a
        // generator can't nest inside the cast — cast the ARRAY first
        .select(explode(expr(
          "cast(sequence(dmin, dmax, interval 1 day) as array<date>)")).as("d"))
        .select(col("d"),
          year(col("d")).as("y"), quarter(col("d")).as("q"),
          month(col("d")).as("m"), dayofmonth(col("d")).as("dom"),
          (datediff(col("d"), lit("1970-01-01").cast(DateType)) % 7)
            .cast(IntegerType).as("dow_epoch"),
          (col("d") === last_day(col("d"))).cast(IntegerType).as("is_month_end"))
        .orderBy("d")
    },

    // Spark 4 COLLATION surface: UTF8_LCASE comparisons/grouping — the
    // schema-level answer to lower()-wrapping every predicate. The oracle
    // expresses the same semantics with lower() (DuckDB has no UTF8_LCASE
    // collation), which is exactly the equivalence the feature claims.
    q("scalar_collation_funcs",
      """WITH p AS (SELECT p_partkey, p_type, p_brand FROM part)
        |SELECT lower(p_brand) AS brand_ci,
        |  count(*) AS n_parts,
        |  CAST(count(DISTINCT lower(p_type)) AS BIGINT) AS n_types_ci
        |FROM p GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      T.t(s, dir, "part")
        .select(col("p_partkey"),
          collate(col("p_type"), "UTF8_LCASE").as("t_ci"),
          collate(col("p_brand"), "UTF8_LCASE").as("b_ci"))
        .groupBy(col("b_ci"))
        .agg(count(lit(1)).as("n_parts"),
          countDistinct(col("t_ci")).as("n_types_ci"))
        // the collated key compares case-insensitively but DISPLAYS its
        // original bytes; normalize for the engine-portable output
        .select(lower(col("b_ci")).cast("string").as("brand_ci"),
          col("n_parts"), col("n_types_ci"))
        .orderBy("brand_ci")
    }
  )
}
