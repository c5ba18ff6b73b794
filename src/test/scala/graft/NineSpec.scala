package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the §2-V (round 9) keys and their Pipelines library twins. */
class NineSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf
  import s.implicits._

  test("chunkSliding covers every token with the declared overlap") {
    // synthetic 100-token doc: windows (64, stride 48) must start at
    // 0/48/96, cover [0,100) exactly once per window, and overlap 16
    // tokens between consecutive full windows
    val doc = (0 until 100).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc)).toDF("id", "text")
    val got = api.Pipelines.chunkSliding(df, "id", "text", 64, 48)
      .orderBy("chunk_idx")
      .select("chunk_idx", "n_tok", "toks")
      .collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(got.map(_.getLong(1)).toSeq == Seq(64L, 52L, 4L))
    val starts = Seq(0, 48, 96)
    got.zip(starts).foreach { case (r, st) =>
      val toks = r.getSeq[String](2)
      assert(toks == (st until math.min(st + 64, 100)).map(i => s"t$i"))
    }
    // coverage: the union of chunk spans is exactly the token range
    assert(starts.zip(got.map(_.getLong(1))).flatMap { case (st, n) =>
      st until (st + n.toInt) }.toSet == (0 until 100).toSet)
  }

  test("datasetSplit partitions the corpus deterministically") {
    val docs = T.t(s, sf, "documents")
    val a = api.Pipelines.datasetSplit(docs, "doc_id")
      .groupBy("split").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a.values.sum == docs.count())
    assert(a.keySet.subsetOf(Set("train", "valid", "test")))
    // hash-gated 80/10/10: train strictly dominates at any fixture size
    assert(a("train") > a.getOrElse("valid", 0L))
    assert(a("train") > a.getOrElse("test", 0L))
    // rerun under a different partitioning: identical assignment
    val b = api.Pipelines.datasetSplit(docs.repartition(7), "doc_id")
      .groupBy("split").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("decontaminate flags a planted 5-gram overlap and nothing else") {
    val corpus = Seq(
      (10L, "a b C D E F G h i j"), // contains the planted 5-gram C D E F G
      (11L, "p q r s t u v w x y")  // clean
    ).toDF("doc_id", "text")
    val eval = Seq(
      (1L, "x1 y1 C D E F G z1 z2"),
      (2L, "totally unrelated eval doc here")
    ).toDF("doc_id", "text")
    val got = api.Pipelines.decontaminate(corpus, eval, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1L))
  }

  test("decision stump accuracy is at least the majority-class baseline") {
    val r = SparkEntry.queries("ml_decision_stump")(s, sf).collect()(0)
    val correct = r.getAs[Long]("correct")
    val total = r.getAs[Long]("total")
    val pos = T.t(s, sf, "orders")
      .where(col("o_orderpriority") === "1-URGENT").count()
    val majority = math.max(pos, total - pos)
    assert(correct >= majority && correct <= total)
  }

  test("theil-sen pairs count matches the day spine; positive slope implies MK increasing") {
    val r = SparkEntry.queries("stat_theil_sen_slope")(s, sf).collect()(0)
    val nPairs = r.getAs[Long]("n_pairs")
    val d = T.t(s, sf, "events").where(col("event_type") === "purchase")
      .select(to_date(col("ts"))).distinct().count()
    assert(nPairs == d * (d - 1) / 2)
    val slope = r.getAs[Double]("slope")
    assert(!slope.isNaN && !slope.isInfinite)
  }

  test("drawdown series: one row per event type, peak >= trough") {
    val rows = SparkEntry.queries("window_drawdown_series")(s, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val dd = r.getAs[Long]("max_drawdown")
      val peak = r.getAs[Long]("peak_at")
      val cnt = r.getAs[Long]("count_at")
      assert(dd >= 0 && peak - cnt == dd && peak >= cnt)
    }
  }

  test("mom growth: null growth exactly on each nation's first month") {
    val rows = SparkEntry.queries("window_mom_growth")(s, sf)
      .select("n_name", "growth").collect()
    val nations = rows.map(_.getString(0)).distinct.length
    assert(rows.count(_.isNullAt(1)) == nations)
  }

  test("header/detail reconcile covers every order with lines") {
    val rows = SparkEntry.queries("dq_header_detail_reconcile")(s, sf).collect()
    val nOrders = rows.map(_.getAs[Long]("n_orders")).sum
    val expected = T.t(s, sf, "orders")
      .join(T.t(s, sf, "lineitem").select("l_orderkey").distinct(),
        col("o_orderkey") === col("l_orderkey"), "left_semi").count()
    assert(nOrders == expected)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_within_1c") <= r.getAs[Long]("n_orders"))
      assert(r.getAs[Double]("max_abs_diff") >= 0.0)
    }
  }

  test("degree histogram mass equals twice the pair count") {
    val hist = SparkEntry.queries("graph_degree_histogram")(s, sf).collect()
    val mass = hist.map(r => r.getAs[Long]("degree") * r.getAs[Long]("n_nodes")).sum
    val li = T.t(s, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    val pairs = li.select(col("l_orderkey").as("k"), col("l_partkey").as("pa"))
      .join(li.select(col("l_orderkey").as("k"), col("l_partkey").as("pb")), "k")
      .filter(col("pa") < col("pb"))
      .select("pa", "pb").distinct().count()
    assert(mass == 2 * pairs)
  }

  test("repetition ratio: dup bigrams are exact and bounded") {
    val rows = SparkEntry.queries("text_repetition_ratio")(s, sf).collect()
    rows.foreach { r =>
      val nb = r.getAs[Long]("n_bigrams"); val nd = r.getAs[Long]("n_dup")
      assert(nd >= 0 && nd < nb)
      assert(r.getAs[Long]("n_flagged") <= r.getAs[Long]("n_docs"))
      val rate = r.getAs[Double]("dup_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
    // hand-check: "a b a b a" has bigrams (a b, b a, a b, b a) → 2 dups
    import s.implicits._
    val tiny = Seq(("s", "a b a b a")).toDF("source", "text")
      .select(col("source"), split(col("text"), " ").as("arr"))
      .select((size(col("arr")) - 1 - expr(
        "size(array_distinct(transform(sequence(0, size(arr)-2)," +
          " i -> concat(arr[i], ' ', arr[i+1]))))")).as("ndup"))
      .collect()(0).getInt(0)
    assert(tiny == 2)
  }

  test("spearman rho is the exact no-ties formula and lies in [-1, 1]") {
    val r = SparkEntry.queries("stat_spearman_rank")(s, sf).collect()(0)
    val n = r.getAs[Long]("n_days"); val d2 = r.getAs[Long]("sum_d2")
    val rho = r.getAs[Double]("rho")
    assert(n >= 2 && d2 >= 0)
    assert(rho >= -1.0 && rho <= 1.0)
    // the emitted rho is the 6dp HALF_UP rounding of 1 - 6*d2/(n^3 - n)
    val num = (n * n * n - n) - 6 * d2
    val den = n * n * n - n
    val expect = (if (num < 0) -1 else 1) *
      ((2000000L * math.abs(num) + den) / (2 * den)).toDouble / 1e6
    assert(rho == expect)
  }

  test("common-neighbor candidates are non-adjacent with true counts") {
    val rows = SparkEntry.queries("graph_common_neighbors")(s, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // recompute the support-top-2000 strong edge set the key runs on
    val li = T.t(s, sf, "lineitem").select("l_orderkey", "l_partkey")
      .distinct()
    val adj = li.select(col("l_orderkey").as("k"), col("l_partkey").as("pa"))
      .join(li.select(col("l_orderkey").as("k"), col("l_partkey").as("pb")), "k")
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("sup"))
      .orderBy(col("sup").desc, col("pa"), col("pb")).limit(2000)
      .select("pa", "pb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nbrs = adj.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { r =>
      val a = r.getAs[Long]("pa"); val b = r.getAs[Long]("pb")
      assert(a < b && !adj.contains((a, b))) // predicted, not existing
      val cn = nbrs(a).intersect(nbrs(b)).size
      assert(cn == r.getAs[Long]("common_n"))
      assert(r.getAs[Long]("deg_a") == nbrs(a).size)
      assert(r.getAs[Long]("deg_b") == nbrs(b).size)
    }
    // descending by common_n with id tie-break
    val keys = rows.map(r => (-r.getAs[Long]("common_n"),
      r.getAs[Long]("pa"), r.getAs[Long]("pb"))).toSeq
    assert(keys == keys.sorted)
  }

  test("skyline survivors are mutually non-dominated and complete") {
    val sky = SparkEntry.queries("window_skyline_2d")(s, sf)
      .select(col("o_orderdate").cast("string"), col("price")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(sky.nonEmpty)
    // along increasing date the front's price must STRICTLY increase
    // (equal-price later days would be dominated)
    val byDay = sky.distinct.sortBy(_._1)
    byDay.sliding(2).foreach { case Array((d1, p1), (d2, p2)) =>
      assert(d1 < d2 && p1 < p2)
    }
    // brute-force cross-check on the daily max spine
    val daily = T.t(s, sf, "orders")
      .groupBy(col("o_orderdate").cast("string").as("d"))
      .agg(max(round(col("o_totalprice") * 100).cast("long")).as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expect = daily.filter { case (d, p) =>
      !daily.exists { case (d2, p2) =>
        (d2 <= d && p2 >= p) && (d2 < d || p2 > p) }
    }.map(_._1).sorted.toSeq
    assert(byDay.map(_._1).toSeq == expect)
  }

  test("bpe pair counts match a hand-tallied micro corpus") {
    import s.implicits._
    // "abab ab" → abab: (ab, ba, ab), ab: (ab) → ab=4? no: abab has 3
    // pairs ab,ba,ab; plus ab's single pair → ab=3, ba=1
    val tiny = Seq("abab ab").toDF("text")
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok)-1)," +
          " i -> substring(tok, i, 2))")).as("pair"))
      .groupBy("pair").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tiny == Map("ab" -> 3L, "ba" -> 1L))
    val top = SparkEntry.queries("text_bpe_pair_merge")(s, sf).collect()
    assert(top.length == 10)
    val cnts = top.map(_.getAs[Long]("cnt")).toSeq
    assert(cnts == cnts.sortBy(-_)) // descending support
    top.foreach(r => assert(r.getAs[String]("pair").length == 2))
  }

  test("filter funnel partitions the corpus with exact shares") {
    val rows = SparkEntry.queries("pipeline_filter_funnel")(s, sf).collect()
    val total = T.t(s, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    val stages = rows.map(_.getAs[String]("stage")).toSet
    assert(stages.subsetOf(
      Set("1_non_en", "2_too_short", "3_high_stopword", "4_kept")))
    // non-English attribution takes priority: stage-1 count equals the
    // raw lang<>'en' count regardless of the other predicates
    val nonEn = T.t(s, sf, "documents").where(col("lang") =!= "en").count()
    assert(rows.find(_.getAs[String]("stage") == "1_non_en")
      .map(_.getAs[Long]("n_docs")).getOrElse(0L) == nonEn)
    rows.foreach { r =>
      val sh = r.getAs[Double]("share")
      assert(sh > 0.0 && sh <= 1.0)
    }
  }

  test("SeqSource pushes id-range filters and prunes columns at the scan") {
    val df = s.read.format("graft.sources.SeqSource")
      .option("rows", "1000").option("parts", "4").load()
      .where(col("id") >= 900L && col("cat") =!= "c0")
      .select("id", "val")
    df.collect() // finalize the plan
    val plan = df.queryExecution.executedPlan.toString
    // the id bound narrowed the generated range at plan time; cat stayed
    // a post-scan filter; the unreferenced column set was pruned
    assert(plan.contains("SeqScan[900,1000)"), plan)
    assert(plan.contains("cols=id,val") || plan.contains("cols=id,val,cat"))
    val rows = df.collect()
    assert(rows.forall(_.getLong(0) >= 900L))
    assert(rows.length == (900 until 1000).count(_ % 7 != 0))
    rows.foreach(r =>
      assert(r.getLong(1) == sources.SeqSource.valOf(r.getLong(0))))
    // full-table read parallelizes into the declared split count
    val full = s.read.format("graft.sources.SeqSource")
      .option("rows", "1000").option("parts", "4").load()
    assert(full.rdd.getNumPartitions == 4)
    assert(full.count() == 1000)
  }

  test("fk inference: true keys contain, the negative control does not") {
    val rows = SparkEntry.queries("catalog_fk_inference")(s, sf).collect()
      .map(r => (r.getAs[String]("child_col"), r.getAs[String]("parent_col"))
        -> r.getAs[Long]("is_fk")).toMap
    assert(rows(("lineitem.l_orderkey", "orders.o_orderkey")) == 1L)
    assert(rows(("orders.o_custkey", "customer.c_custkey")) == 1L)
    assert(rows(("lineitem.l_orderkey", "part.p_partkey")) == 0L)
  }

  test("equi-depth histogram: deciles balance and buckets tile the range") {
    val rows = SparkEntry.queries("agg_histogram_equidepth")(s, sf).collect()
    assert(rows.map(_.getAs[Long]("bucket")).toSeq == (0L to 9L))
    val counts = rows.map(_.getAs[Long]("n"))
    val total = counts.sum
    assert(total == T.t(s, sf, "lineitem").count())
    // equi-depth: every bucket within a factor of 2 of the ideal tenth
    // (ties at boundaries shift mass, but not pathologically)
    counts.foreach(c => assert(c * 10 >= total / 2 && c * 10 <= total * 2))
    // buckets are ordered, non-overlapping intervals
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"))
    }
  }

  test("binary hamming: packing and distances match a driver recompute") {
    val emb = T.t(s, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def pack(v: Array[Float]): (Long, Long) = {
      var lo = 0L; var hi = 0L
      (0 until 32).foreach(i => if (v(i) > 0) lo |= (1L << i))
      (32 until 64).foreach(i => if (v(i) > 0) hi |= (1L << (i - 32)))
      (lo, hi)
    }
    val rows = SparkEntry.queries("vector_binary_hamming_topk")(s, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qlo, qhi) = pack(emb(r.getAs[Long]("q_id")))
      val (clo, chi) = pack(emb(r.getAs[Long]("c_id")))
      val d = java.lang.Long.bitCount(qlo ^ clo) +
        java.lang.Long.bitCount(qhi ^ chi)
      assert(r.getAs[Long]("dist") == d && d >= 0 && d <= 64)
    }
    // each query returns exactly 5 ranked neighbors
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
      assert(g.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to 5))
    }
  }

  test("modularity contributions sum to a Q in (-1, 1) with exact masses") {
    val rows = SparkEntry.queries("graph_modularity")(s, sf).collect()
    val li = T.t(s, sf, "lineitem").select("l_orderkey", "l_partkey")
      .distinct()
    val m = li.select(col("l_orderkey").as("k"), col("l_partkey").as("pa"))
      .join(li.select(col("l_orderkey").as("k"), col("l_partkey").as("pb")),
        "k")
      .filter(col("pa") < col("pb")).select("pa", "pb").distinct().count()
    assert(rows.map(_.getAs[Long]("n_intra")).sum <= m)
    assert(rows.map(_.getAs[Long]("deg_sum")).sum == 2 * m)
    val q = rows.map(_.getAs[Double]("contrib")).sum
    assert(q > -1.0 && q < 1.0)
    rows.foreach(r => assert(math.abs(r.getAs[Double]("contrib")) <= 1.0))
  }

  test("kmv set algebra: estimates bracket the exact counts") {
    val r = SparkEntry.queries("agg_kmv_set_ops")(s, sf).collect()(0)
    val ea = r.getAs[Long]("exact_a"); val eb = r.getAs[Long]("exact_b")
    // KMV at k=64 has ~1/8 relative error; 2x is a deterministic-fixture
    // sanity band, not a probabilistic claim
    def near(e: Long, exact: Long) = e >= exact / 2 && e <= exact * 2
    assert(near(r.getAs[Long]("est_a"), ea))
    assert(near(r.getAs[Long]("est_b"), eb))
    val eu = r.getAs[Long]("est_union")
    val ei = r.getAs[Long]("est_inter")
    assert(ei >= 0 && ei <= eu)
    assert(eu <= (ea + eb) * 2)
  }

  test("ohlc bars: bounds hold and volume reconciles") {
    val rows = SparkEntry.queries("ts_ohlc_bars")(s, sf).collect()
    rows.foreach { r =>
      val (o, h, l, c) = (r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"))
      assert(l <= o && o <= h && l <= c && c <= h && l <= h)
      assert(r.getAs[Long]("n_events") >= 1)
    }
    assert(rows.map(_.getAs[Long]("n_events")).sum ==
      T.t(s, sf, "events").count())
  }

  test("null-aware anti join honors NOT IN three-valued logic") {
    val rows = SparkEntry.queries("join_anti_null_aware")(s, sf).collect()
      .map(r => r.getAs[String]("variant") -> r.getAs[Long]("n_rows")).toMap
    // a NULL in the list makes NOT IN never-true: empty, always
    assert(rows("with_null") == 0L)
    val expect = T.t(s, sf, "customer")
      .join(T.t(s, sf, "supplier").select(col("s_nationkey").as("k"))
        .distinct(), col("c_nationkey") === col("k"), "left_anti").count()
    assert(rows("no_null") == expect)
  }

  test("assortativity is a correlation in [-1, 1] over symmetric edges") {
    val r = SparkEntry.queries("graph_assortativity")(s, sf).collect()(0)
    val a = r.getAs[Double]("assortativity")
    assert(a >= -1.0 && a <= 1.0)
    assert(r.getAs[Long]("n_edges") % 2 == 0) // both orientations present
  }

  test("epoch shuffle: permutations differ by epoch but replay exactly") {
    val a = SparkEntry.queries("pipeline_epoch_shuffle")(s, sf).collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("pos"),
        r.getAs[Long]("doc_id")))
    assert(a.length == 15)
    val byEpoch = a.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3))
    // different epochs yield different head orders (hash-keyed)
    assert(byEpoch(1L) != byEpoch(2L) || byEpoch(2L) != byEpoch(3L))
    // replay under a different shuffle partitioning: identical
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val b = SparkEntry.queries("pipeline_epoch_shuffle")(s, sf).collect()
        .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("pos"),
          r.getAs[Long]("doc_id")))
      assert(a.toSeq == b.toSeq)
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("join cardinality estimate: the exact count matches the real join") {
    val r = SparkEntry.queries("catalog_join_card_estimate")(s, sf)
      .collect()(0)
    val real = T.t(s, sf, "lineitem")
      .join(T.t(s, sf, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(r.getAs[Long]("exact_card") == real)
    assert(r.getAs[Long]("ndv_a") <= r.getAs[Long]("n_a"))
  }

  test("population stability: bins partition both periods") {
    val rows = SparkEntry.queries("dq_population_stability")(s, sf).collect()
    val total = T.t(s, sf, "events").count()
    assert(rows.map(r => r.getAs[Long]("n_ref") + r.getAs[Long]("n_cur"))
      .sum == total)
    rows.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("psi_term"))) {
        // each term is finite and small on a stable synthetic stream
        assert(math.abs(r.getAs[Double]("psi_term")) < 10.0)
      }
    }
  }

  test("column lineage traces through join + aggregate, skips literals") {
    // independent micro-model: a view over two tiny registered tables
    import s.implicits._
    Seq((1L, "a", 10.0)).toDF("id", "grp", "amt")
      .createOrReplaceTempView("lin_fact")
    Seq((1L, "x")).toDF("fid", "tag")
      .createOrReplaceTempView("lin_dim")
    s.sql("""CREATE OR REPLACE TEMP VIEW lin_v AS
      SELECT grp AS g, sum(amt) AS total, count(*) AS n, max(tag) AS top_tag
      FROM lin_fact JOIN lin_dim ON id = fid GROUP BY grp""")
    val got = Exec.columnLineage(s, "lin_v", Set("lin_fact", "lin_dim"))
    assert(got == Seq(
      ("g", "lin_fact", "grp"),
      ("top_tag", "lin_dim", "tag"),
      ("total", "lin_fact", "amt")))
  }

  test("calibration bins tile all orders and brackets stay in [0,1]") {
    val rows = SparkEntry.queries("ml_calibration_bins")(s, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == T.t(s, sf, "orders").count())
    rows.foreach { r =>
      val f = r.getAs[Double]("frac_pos")
      assert(f >= 0.0 && f <= 1.0)
      assert(r.getAs[Long]("n_pos") <= r.getAs[Long]("n"))
    }
    // bins are ordered by score: mean price strictly increases
    val avgs = rows.sortBy(_.getAs[Long]("bin")).map(_.getAs[Double]("avg_price"))
    assert(avgs.sliding(2).forall { case Array(a, b) => a < b })
  }

  test("native top-k: bounded-heap exec replaces the window sort exactly") {
    val src = T.t(s, sf, "lineitem")
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
    val native = plans.TopK.topKPerGroup(src, Seq("l_suppkey"),
      Seq(("l_extendedprice", false), ("l_orderkey", true),
        ("l_linenumber", true)), 4)
    // the custom operator is actually in the plan, above an exchange
    val p = native.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"), p)
    assert(p.contains("Exchange") || p.contains("ShuffleQueryStage"), p)
    // exact equivalence with the rank-window formulation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_suppkey")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
    val expect = src.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 4).drop("rn")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
      .collect().toSeq
    val got = native
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
      .collect().toSeq
    assert(got == expect)
    // rows within each group emit in rank order even without a final sort
    val perGroup = native.collect().groupBy(_.getLong(0))
    perGroup.values.foreach { g =>
      val prices = g.map(_.getDouble(3)).toSeq
      assert(prices == prices.sortBy(-_))
      assert(g.length <= 4)
    }
  }

  test("agg_percentile_cont_interp is bit-equal to the exact Percentile plan") {
    // the evidence OPTIMIZATION_r16/r17 cite for the cent-bucket-spine
    // replan: raw IEEE bits, not a tolerance, against the single-aggregate
    // `percentile` plan the key replaced
    def bits(rows: Array[org.apache.spark.sql.Row]): Seq[(String, Seq[Long])] =
      rows.toSeq.map(r => r.getString(0) -> (1 to 3).map(i =>
        java.lang.Double.doubleToRawLongBits(r.getDouble(i))))
    val exact = T.t(s, sf, "lineitem")
      .select(col("l_returnflag"),
        col("l_extendedprice").cast("double").as("p"))
      .groupBy("l_returnflag")
      .agg(percentile(col("p"), lit(0.25)).as("p25"),
        percentile(col("p"), lit(0.5)).as("p50"),
        percentile(col("p"), lit(0.75)).as("p75"))
      .orderBy("l_returnflag")
    val got = bits(SparkEntry.queries("agg_percentile_cont_interp")(s, sf).collect())
    assert(got.nonEmpty)
    assert(got == bits(exact.collect()))
  }
}
