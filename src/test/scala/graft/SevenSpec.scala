package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Property pins for the §2-T (round 7) group, beyond the DuckDB oracle:
  * structural invariants that would catch a silently-wrong formulation the
  * hash gate can't distinguish from a both-engines-wrong one. */
class SevenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf
  private val everCached = ArrayBuffer[DataFrame]()

  /** `body` over `df` cached, unpersisted when it ends: a later suite that
    * builds the same key must run its plan, not read this InMemoryRelation. */
  private def cached(df: DataFrame)(body: DataFrame => Unit): Unit = {
    everCached += df
    try body(df.cache()) finally df.unpersist(blocking = true)
  }

  override def afterAll(): Unit =
    try {
      val left = everCached.filter(_.storageLevel != StorageLevel.NONE)
      assert(left.isEmpty, s"${left.size} cached results outlive SevenSpec")
    } finally super.afterAll()

  test("stat_chi2_independence: contributions non-negative, expected sums to n") {
    cached(SparkEntry.queries("stat_chi2_independence")(s, sf)) { r =>
      assert(r.filter(col("contrib") < 0).count() == 0)
      // Σ observed == Σ expected (both equal n) up to the ppm rounding of
      // each of the ≤35 cells
      val Seq(o, e) = r.agg(sum("o"), sum("expected")).head().toSeq
        .map(v => BigDecimal(v.toString))
      assert((o - e).abs < BigDecimal(35) * BigDecimal("0.000001") * o)
    }
  }

  test("stat_benford_digit: shares sum to 1 within per-digit rounding") {
    val r = SparkEntry.queries("stat_benford_digit")(s, sf)
    val tot = r.agg(sum("share")).head().getDouble(0)
    assert(math.abs(tot - 1.0) < 9 * 1e-6)
    assert(r.count() <= 9)
  }

  test("ml_naive_bayes_classify: one prediction per target doc, a real source") {
    cached(SparkEntry.queries("ml_naive_bayes_classify")(s, sf)) { r =>
      assert(r.count() == r.select("doc_id").distinct().count())
      val sources = T.t(s, sf, "documents").select("source").distinct()
      assert(r.join(sources, r("pred_source") === sources("source"), "left_anti")
        .count() == 0)
      // log-probabilities are negative
      assert(r.filter(col("score_micronats") >= 0).count() == 0)
    }
  }

  test("graph_triangle_count: degree orientation == naive a<b formulation") {
    val li = T.t(s, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    val pairs = li.select(col("l_orderkey").as("k"), col("l_partkey").as("pa"))
      .join(li.select(col("l_orderkey").as("k"), col("l_partkey").as("pb")), "k")
      .filter(col("pa") < col("pb")).select("pa", "pb").distinct()
    cached(pairs) { e0 =>
      val naive = e0.as("e1")
        .join(e0.as("e2"), col("e2.pa") === col("e1.pa") && col("e2.pb") > col("e1.pb"))
        .join(e0.as("e3"), col("e3.pa") === col("e1.pb") && col("e3.pb") === col("e2.pb"))
        .count()
      val graded = SparkEntry.queries("graph_triangle_count")(s, sf)
        .head().getAs[Long]("n_triangles")
      assert(graded == naive)
    }
  }

  test("multimodal_shard_manifest: docs and bytes partition the corpus") {
    cached(SparkEntry.queries("multimodal_shard_manifest")(s, sf)) { r =>
      val docs = T.t(s, sf, "documents")
      assert(r.agg(sum("n_docs")).head().getLong(0) == docs.count())
      assert(r.agg(sum("n_bytes")).head().getLong(0) ==
        docs.agg(sum("n_chars")).head().getLong(0))
      // shard indexes are dense from 0 within each source
      val bad = r.groupBy("source")
        .agg(max("shard_ix").as("mx"), count(lit(1)).as("c"))
        .filter(col("mx") =!= col("c") - 1)
      assert(bad.count() == 0)
    }
  }

  test("join_interval_overlap: every matched order contributes >= 1 day") {
    cached(SparkEntry.queries("join_interval_overlap")(s, sf)) { r =>
      assert(r.filter(col("overlap_days") < col("n_orders")).count() == 0)
      assert(r.count() == 8)
    }
  }

  test("etl_merge_upsert_matrix: classes partition the union of snapshot keys") {
    val r = SparkEntry.queries("etl_merge_upsert_matrix")(s, sf).head()
    val orders = T.t(s, sf, "orders")
    val nKeys = orders.select("o_custkey").distinct().count()
    assert(r.getAs[Long]("n_insert") + r.getAs[Long]("n_update")
      + r.getAs[Long]("n_carry") == nKeys)
  }

  test("ts_seasonal_index: volumes sum to the event count") {
    val r = SparkEntry.queries("ts_seasonal_index")(s, sf)
    assert(r.agg(sum("n")).head().getLong(0) == T.t(s, sf, "events").count())
  }

  test("vector_matryoshka_prefix_topk: 5 ranked rows per query, sims in [-1,1]") {
    cached(SparkEntry.queries("vector_matryoshka_prefix_topk")(s, sf)) { r =>
      val perQ = r.groupBy("q_id").agg(count(lit(1)).as("c"),
        min("rnk").as("lo"), max("rnk").as("hi"))
      assert(perQ.filter(col("c") =!= 5 || col("lo") =!= 1 || col("hi") =!= 5)
        .count() == 0)
      assert(r.filter(abs(col("sim")) > 1.0).count() == 0)
    }
  }

  test("agg_kmv_distinct: estimate within the sketch's error envelope") {
    val r = SparkEntry.queries("agg_kmv_distinct")(s, sf).head()
    val exact = r.getAs[Long]("n_exact")
    val est = r.getAs[Long]("est_kmv")
    // KMV with k=64 has relative σ ≈ 1/√(k−2) ≈ 12.7%; 4σ envelope
    assert(est > 0 && math.abs(est - exact).toDouble / exact < 0.51)
  }

  test("ts_changepoint_cusum: S_k telescopes to zero, exactly one changepoint") {
    cached(SparkEntry.queries("ts_changepoint_cusum")(s, sf)) { r =>
      // S_n = n·total − n·total = 0 at the last day by construction
      val lastSk = r.orderBy(col("d").desc).head().getAs[Long]("sk")
      assert(lastSk == 0L)
      assert(r.filter(col("is_changepoint") === 1).count() == 1)
    }
  }

  test("etl_late_arriving_dim: UNKNOWN rows are exactly the late ones") {
    cached(SparkEntry.queries("etl_late_arriving_dim")(s, sf)) { r =>
      val unk = r.filter(col("seg") === "UNKNOWN").head()
      assert(unk.getAs[Long]("n_orders") == unk.getAs[Long]("n_late"))
      assert(r.filter(col("seg") =!= "UNKNOWN" && col("n_late") =!= 0).count() == 0)
      // totals reconcile with the fact table
      assert(r.agg(sum("n_orders")).head().getLong(0) ==
        T.t(s, sf, "orders").count())
    }
  }

  test("stat_runs_test: runs bounded by days, signs partition the series") {
    val r = SparkEntry.queries("stat_runs_test")(s, sf).head()
    val n = r.getAs[Long]("n")
    assert(r.getAs[Long]("na") + r.getAs[Long]("nb") == n)
    val runs = r.getAs[Long]("n_runs")
    assert(runs >= 1 && runs <= n)
  }

  test("ml_ab_sequential_sprt: parallel prefix LLR == naive global cumsum") {
    import org.apache.spark.sql.expressions.Window
    val r = SparkEntry.queries("ml_ab_sequential_sprt")(s, sf).head()
    // recompute the final LLR with a single global-ordered window (the
    // formulation the graded key avoids for scale) — must agree exactly
    val ev = T.t(s, sf, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_id"), col("ts"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("x"))
    val w = (col("x") * expr("cast(round(ln(0.25 / 0.2) * 1000000.0) as bigint)")
      + (lit(1) - col("x"))
      * expr("cast(round(ln(0.75 / 0.8) * 1000000.0) as bigint)"))
    val naiveFinal = ev.select(w.as("w")).agg(sum("w")).head().getLong(0)
    assert(r.getAs[Long]("llr_final") == naiveFinal)
    assert(Set("accept_h0", "accept_h1", "continue")(r.getAs[String]("decision")))
  }

  test("dq_fd_violations: violation counts bounded by key counts") {
    cached(SparkEntry.queries("dq_fd_violations")(s, sf)) { r =>
      assert(r.count() == 3)
      assert(r.filter(col("n_violating") > col("n_keys")).count() == 0)
      assert(r.filter(col("max_fanout") < 1).count() == 0)
    }
  }

  test("ts_autocorr_lag: coefficients in [-1,1], both lags present") {
    cached(SparkEntry.queries("ts_autocorr_lag")(s, sf)) { r =>
      assert(r.select("k").collect().map(_.getInt(0)).toSet == Set(1, 7))
      assert(r.filter(abs(col("autocorr")) > 1.0).count() == 0)
    }
  }

  test("ts_time_weighted_avg: TWAP bounded by per-type min/max value") {
    val r = SparkEntry.queries("ts_time_weighted_avg")(s, sf)
    val bounds = T.t(s, sf, "events").groupBy("event_type")
      .agg(min("value").as("lo"), max("value").as("hi"))
    val bad = r.join(bounds, "event_type")
      .filter(col("twap") < col("lo") - 0.01 || col("twap") > col("hi") + 0.01)
    assert(bad.count() == 0)
  }

  test("etl_partition_advisor: rec_files is the exact ceiling of rows/2000") {
    cached(SparkEntry.queries("etl_partition_advisor")(s, sf)) { r =>
      val bad = r.filter(
        col("rec_files") =!= ceil(col("n_rows").cast("double") / 2000).cast("long"))
      assert(bad.count() == 0)
      assert(r.agg(sum("n_rows")).head().getLong(0) == T.t(s, sf, "events").count())
    }
  }

  test("dedup_prefix_blocked: dup counts consistent, only multi-doc blocks") {
    cached(SparkEntry.queries("dedup_prefix_blocked")(s, sf)) { r =>
      assert(r.filter(col("n_docs") < 2).count() == 0)
      assert(r.filter(col("n_dups") =!= col("n_docs") - col("n_distinct")).count() == 0)
      assert(r.filter(col("n_distinct") > col("n_docs")).count() == 0)
    }
  }

  test("agg_frequent_pairs: support consistent with pair count") {
    cached(SparkEntry.queries("agg_frequent_pairs")(s, sf)) { r =>
      assert(r.count() == 20)
      val nOrders = T.t(s, sf, "orders").count()
      // support ppm reproduces c/n_orders at 6dp half-up
      val bad = r.filter(
        abs(col("support") * nOrders - col("c")) > lit(nOrders) * 5e-7 + 1e-9)
      assert(bad.count() == 0)
    }
  }
}
