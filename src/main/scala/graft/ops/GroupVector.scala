package graft.ops

import graft.T
import graft.T.{Q, q}
import graft.api.Pipelines
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-I — similarity search / vector ops (LLM-pipeline mandate).
  *
  * Embeddings are unit-L2-norm (FIXTURES.md) so cosine ≡ dot product. The
  * dot is a zip_with/aggregate fold over double-upcast elements: both Spark
  * and DuckDB sum in list order, and results are rounded to 6dp before any
  * ranking (fp error ~1e-15 ≪ 1e-6).
  *
  * Scale path: brute force is correct at fixture scale; `vector_ivf_topk`
  * (GroupPipeline) is the 100 TB shape — coarse centroids partition the
  * candidate set and queries probe only nprobe cells.
  */
object GroupVector {

  /** Elementwise dot product of two float-array columns, in double —
    * graft's codegen'd VecDot expression (graft.functions.VecDot); the
    * accumulation order matches the sequential zip_with/aggregate fold.
    * `call_function` keeps arbitrary Column expressions valid (ADVICE r2:
    * interpolating Column.toString into expr() only worked for bare
    * attribute references). */
  private[ops] def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  private[ops] def emb(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    T.t(s, dir, "embeddings")
  }

  val defs: Seq[Q] = Seq(
    // Plan: the codegen'd vec_dot runs inside WholeStageCodegen; the query
    // side is broadcast.
    q("vector_cosine_topk",
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id >= 20),
        |s AS (SELECT q_id, c_id, round(list_dot_product(qe, ce), 6) AS sim FROM q CROSS JOIN c)
        |SELECT q_id, rnk, c_id, sim FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rnk
        |  FROM s)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""") { (s, dir) =>
      val e = emb(s, dir)
      Pipelines.cosineTopK(e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20),
          "vec_id", "vec_id", "embedding", 5)
        .orderBy("q_id", "rnk")
    },

    q("vector_centroid_per_label",
      """SELECT label, count(*) AS n,
        |  round(avg(embedding[1]::DOUBLE), 6) AS c0, round(avg(embedding[2]::DOUBLE), 6) AS c1,
        |  round(avg(embedding[3]::DOUBLE), 6) AS c2, round(avg(embedding[4]::DOUBLE), 6) AS c3
        |FROM embeddings GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      emb(s, dir)
        .groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          round(avg(element_at(col("embedding"), 1).cast(DoubleType)), 6).as("c0"),
          round(avg(element_at(col("embedding"), 2).cast(DoubleType)), 6).as("c1"),
          round(avg(element_at(col("embedding"), 3).cast(DoubleType)), 6).as("c2"),
          round(avg(element_at(col("embedding"), 4).cast(DoubleType)), 6).as("c3"))
        .orderBy("label")
    },

    // 5-NN majority vote; ties break to more votes first, then smaller label.
    q("vector_knn_classify",
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce, label FROM embeddings WHERE vec_id >= 20),
        |s AS (SELECT q_id, c_id, label, round(list_dot_product(qe, ce), 6) AS sim FROM q CROSS JOIN c),
        |nn AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn FROM s)
        |  WHERE rn <= 5),
        |v AS (SELECT q_id, label, count(*) AS votes FROM nn GROUP BY 1,2)
        |SELECT q_id, label AS pred_label, votes FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS rn2 FROM v)
        |WHERE rn2 = 1 ORDER BY q_id""") { (s, dir) =>
      val e = emb(s, dir)
      val qs = e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val cs = e.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"), col("label"))
      val nn = cs.crossJoin(broadcast(qs))
        .withColumn("sim", round(dot(col("qe"), col("ce")), 6))
        .withColumn("rn",
          row_number().over(Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))))
        .filter(col("rn") <= 5)
      nn.groupBy("q_id", "label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("rn2",
          row_number().over(Window.partitionBy("q_id").orderBy(col("votes").desc, col("label"))))
        .filter(col("rn2") === 1)
        .select(col("q_id"), col("label").as("pred_label"), col("votes"))
        .orderBy("q_id")
    },

    // Threshold tuned to the fixture similarity distribution (max cross-label
    // cosine ≈ 0.49 — 0.95 would be vacuously empty).
    q("similarity_join_threshold",
      """WITH a AS (SELECT vec_id AS a_id, embedding::DOUBLE[] AS ae FROM embeddings WHERE label = 0),
        |b AS (SELECT vec_id AS b_id, embedding::DOUBLE[] AS be FROM embeddings WHERE label = 1)
        |SELECT a_id, b_id, sim FROM (
        |  SELECT a_id, b_id, round(list_dot_product(ae, be), 6) AS sim FROM a CROSS JOIN b)
        |WHERE sim >= 0.35 ORDER BY a_id, b_id""") { (s, dir) =>
      val e = emb(s, dir)
      val a = e.filter(col("label") === 0).select(col("vec_id").as("a_id"), col("embedding").as("ae"))
      val b = e.filter(col("label") === 1).select(col("vec_id").as("b_id"), col("embedding").as("be"))
      // threshold in the join condition: the BNLJ evaluates the codegen'd
      // dot in-place and materializes only passing pairs (see
      // dedup_embedding_cosine note)
      b.join(broadcast(a), round(dot(col("ae"), col("be")), 6) >= 0.35)
        .withColumn("sim", round(dot(col("ae"), col("be")), 6))
        .select("a_id", "b_id", "sim")
        .orderBy("a_id", "b_id")
    },

    // Banded (random-hyperplane LSH) variant of the threshold join — the
    // scale path: candidates come from a shuffle equi-join on band values
    // (NO nested-loop operator; PlanShapeSpec pins this), each candidate is
    // exactly verified with the codegen'd vec_dot, so precision is 1.0 by
    // construction and the oracle is the same brute-force SQL. Recall is
    // PROBABILISTIC by construction (banding miss at the threshold angle);
    // the r15 full-board ×100 sweep caught exactly that: at the default
    // perPairMiss=1e-5 sizing (r=8, 566 bands) two cross-copy pairs at
    // sim 0.3747 missed every band (0.9999974 observed recall over 761k
    // pairs) — the designed miss rate, surfaced by ×100 near-threshold
    // pair density. The graded key therefore sizes banding to
    // perPairMiss=1e-9 (r=8 → 1018 bands via CosineLsh.bandsFor): the
    // expected miss count stays ≪1 through ×10⁴ scale, priced as ~2×
    // banding cost at this deliberately-stressy τ=0.35 (at real dedup
    // thresholds bandsFor sizes far smaller — parameter-honesty note in
    // Pipelines.cosinePairsLSH).
    q("similarity_join_lsh",
      """WITH a AS (SELECT vec_id AS a_id, embedding::DOUBLE[] AS ae FROM embeddings WHERE label = 0),
        |b AS (SELECT vec_id AS b_id, embedding::DOUBLE[] AS be FROM embeddings WHERE label = 1)
        |SELECT a_id, b_id, sim FROM (
        |  SELECT a_id, b_id, round(list_dot_product(ae, be), 6) AS sim FROM a CROSS JOIN b)
        |WHERE sim >= 0.35 ORDER BY a_id, b_id""") { (s, dir) =>
      // scoped advisory partition size: see dedup_embedding_cosine's note
      // (explosive band join vs AQE input-byte coalescing)
      val sc = s.newSession()
      val e = emb(sc, dir)
      sc.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      // sort-free attach fallback past the broadcast threshold
      // (Pipelines.cosinePairsLSH's ×100-probe note)
      sc.conf.set("spark.sql.join.preferSortMergeJoin", "false")
      graft.api.Pipelines.cosineThresholdJoinLSH(
          e.filter(col("label") === 0), e.filter(col("label") === 1),
          "vec_id", "embedding", threshold = 0.35, perPairMiss = 1e-9)
        .orderBy("a_id", "b_id")
    }
  )
}
