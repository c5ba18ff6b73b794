package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the no-oracle dedup/sketch ops (SURVEY.md §5.2.5). */
class DedupSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf
  private def run(key: String) = SparkEntry.queries(key)(s, sf)

  /** LEGACY min-label propagation (O(diameter) rounds) — kept only so
    * this suite can demonstrate the failure mode hook-and-shortcut fixes:
    * a chain whose diameter exceeds the round budget never converges here.
    * Returns (labels, converged). */
  private def ccMinLabelLegacy(pairs: DataFrame,
                               maxIters: Int): (DataFrame, Boolean) = {
    val edges = pairs.select(col("ia").as("a"), col("ib").as("b"))
      .unionByName(pairs.select(col("ib").as("a"), col("ia").as("b")))
      .distinct().localCheckpoint(false)
    var lbl = edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint(false)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val neigh = edges.join(lbl.select(col("id").as("b"), col("lbl").as("nl")),
          Seq("b"))
        .groupBy(col("a").as("id")).agg(min(col("nl")).as("minNl"))
      val next = lbl.join(neigh, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("minNl"), col("lbl"))).as("lbl"))
        .localCheckpoint(false)
      changed = next.join(lbl.withColumnRenamed("lbl", "old"), "id")
        .filter(col("lbl") =!= col("old")).count()
      lbl = next
      iter += 1
    }
    (lbl.select(col("id").as("doc_id"), col("lbl").as("cluster_rep")),
      changed == 0)
  }

  test("agg_approx_distinct_hll: HLL error < 5% of exact (hll_ok flag set)") {
    val r = run("agg_approx_distinct_hll").collect().head
    assert(r.getAs[Int]("hll_ok") == 1)
    assert(r.getAs[Long]("exact_parts") > 0)
  }

  test("dedup_near_minhash: precision 1.0 (every pair truly Jaccard >= 0.8)" +
    " and recall 1.0 vs brute force") {
    val lsh = run("dedup_near_minhash").collect()
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"))).toSet
    val brute = run("dedup_ngram_jaccard").collect()
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"))).toSet
    assert(brute.nonEmpty, "fixture should contain near-dup pairs")
    assert(lsh == brute, s"missed=${brute -- lsh} extra=${lsh -- brute}")
  }

  test("dedup_simhash: exact duplicate texts collide at Hamming 0") {
    // synthesize a corpus with planted exact duplicates (sf0.001 has none)
    val tmp = java.nio.file.Files.createTempDirectory("graft_simdup_").toString
    val docs = T.t(s, sf, "documents")
    docs.union(docs.limit(20).withColumn("doc_id", col("doc_id") + 100000L))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = SparkEntry.queries("dedup_simhash")(s, tmp).collect()
    val planted = (0L until 20L).map(i => (i, i + 100000L)).toSet
    val atZero = pairs.filter(_.getAs[Int]("hamming") == 0)
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"))).toSet
    assert(planted.subsetOf(atZero),
      s"missing planted dups: ${planted -- atZero}")
  }

  test("the inverted-index dedup family is exact AT the threshold " +
    "boundary: a pair with jac/wjac/containment EXACTLY at its cut survives") {
    import s.implicits._
    // A/B: 1 unique + 8 shared trigrams each → jac = 8/(9+9−8) = 0.8
    // EXACTLY. The unique trigram is df=1 (dropped from the kept index but
    // still counted in n). C/D: identical repeated text (weighted counts 2
    // per trigram) → wjac = 1.0.
    // E (10 trigrams) ⊂ F (30 trigrams) with exactly 9 shared →
    // containment = 9/min(10,30) = 0.9 EXACTLY, although F is 3× E's size.
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    // E = "ex e1..e11": 10 trigrams, 1 unique (ex e1 e2) + 9 shared with F
    val eTok = "ex" +: (1 to 11).map(i => s"e$i")
    val fTok = (1 to 11).map(i => s"e$i") ++ (1 to 21).map(i => s"g$i")
    val corpus = Seq(
      (0L, s"xa $shared"), (1L, s"xb $shared"),
      (2L, "r1 r2 r3 r1 r2 r3 r1 r2"), (3L, "r1 r2 r3 r1 r2 r3 r1 r2"),
      (4L, eTok.mkString(" ")),
      // F shares e1..e11's 9 trigrams, then diverges; (e10 e11 g1) and
      // (e11 g1 g2) are df=1 noise on F only
      (5L, fTok.mkString(" "))).toDF("doc_id", "text")
    def trip(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val jac = api.Pipelines.nearDupPairs(corpus, "doc_id", "text")
      .collect().map(trip)
    assert(jac.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0.8),
      s"boundary jac-0.8 pair missing: ${jac.toSeq}")
    val wj = api.Pipelines.weightedJaccardPairs(corpus, "doc_id", "text")
      .collect().map(trip)
    assert(wj.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0.8),
      s"boundary wjac-0.8 pair missing: ${wj.toSeq}")
    assert(wj.exists(p => p._1 == 2L && p._2 == 3L && p._3 == 1.0),
      s"repeated-text weighted pair missing: ${wj.toSeq}")
    val cont = api.Pipelines.containmentPairs(corpus, "doc_id", "text")
      .collect().map(trip)
    assert(cont.exists(p => p._1 == 4L && p._2 == 5L && p._3 == 0.9),
      s"boundary containment-0.9 pair missing: ${cont.toSeq}")
  }

  test("dedup_ngram_jaccard pairs are symmetric-free and above threshold") {
    val rows = run("dedup_ngram_jaccard").collect()
    assert(rows.forall(r => r.getAs[Long]("ia") < r.getAs[Long]("ib")))
    assert(rows.forall(_.getAs[Double]("jac") >= 0.8))
  }

  test("similarity_join_lsh: identical output to the brute-force threshold join") {
    val lsh = run("similarity_join_lsh").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val brute = run("similarity_join_threshold").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(brute.nonEmpty, "fixture should contain threshold pairs")
    assert(lsh == brute, s"missed=${brute -- lsh} extra=${lsh -- brute}")
  }

  test("cosinePairsLSH: recall 1.0 vs all-pairs brute force at τ=0.45") {
    // the banded-LSH library path (graded via similarity_join_lsh; the
    // r13 panel form of dedup_embedding_cosine no longer rides it, but
    // the low-threshold recall guarantee stays pinned here)
    val e = T.t(s, sf, "embeddings")
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val brute = a.join(b, col("ia") < col("ib"))
      .withColumn("sim", round(call_function("vec_dot", col("ea"), col("eb")), 6))
      .filter(col("sim") >= 0.45)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = graft.api.Pipelines
      .cosinePairsLSH(e, "vec_id", "embedding", threshold = 0.45)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain cosine near-dup pairs")
    assert(banded == brute, s"missed=${brute -- banded} extra=${banded -- brute}")
  }

  test("dedup_embedding_cosine (panel audit): exact vs all-pairs brute force on the panel") {
    val e = T.t(s, sf, "embeddings")
    val n = e.count()
    val md = math.max(10L, (n + 199) / 200)
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def sim6(x: Array[Float], y: Array[Float]): Double = {
      var i = 0; var acc = 0.0
      while (i < x.length) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
      BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = vecs.filter(_._1 % md == 0).map { case (pid, pe) =>
      val hits = vecs.filter { case (cid, ce) => cid != pid && sim6(ce, pe) >= 0.45 }
        .map { case (cid, ce) => (cid, sim6(ce, pe)) }
      val top = hits.sortBy { case (cid, sm) => (-sm, cid) }.headOption
      (pid, hits.length.toLong, top.map(_._1), top.map(_._2))
    }.sortBy(_._1).toSeq
    val got = run("dedup_embedding_cosine").collect().map { r =>
      (r.getAs[Long]("probe_id"), r.getAs[Long]("n_dups"),
        Option(r.get(r.fieldIndex("top_dup_id"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("top_sim"))).map(_.asInstanceOf[Double]))
    }.toSeq
    assert(want.exists(_._2 > 0), "panel should contain at least one near-dup hit")
    assert(got == want)
  }

  test("text_rolling_fingerprint: matches independent reference, injective on corpus") {
    val mod = BigInt((1L << 61) - 1)
    val got = run("text_rolling_fingerprint").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val texts = T.t(s, sf, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    texts.take(50).foreach { case (id, text) =>
      val ref = text.foldLeft(BigInt(0))((a, c) => (a * 257 + c.toLong) % mod)
      assert(BigInt(got(id)) == ref, s"doc $id")
    }
    assert(got.values.toSet.size == texts.map(_._2).distinct.length,
      "distinct texts must map to distinct fingerprints (no collisions on corpus)")
  }

  test("vector_ivf_topk stages its cell-partitioned index once and reuses it") {
    val r1 = run("vector_ivf_topk").collect()
    var reinvoked = false
    val d = T.staged("ivf_index", sf) { _ => reinvoked = true }
    assert(!reinvoked, "ivf_index writer ran twice for the same dataset")
    // the artifact is physically partitioned by cell (directory per cell)
    val cells = new java.io.File(s"$d/assign").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cells.nonEmpty, "expected cell=N partition directories")
    assert(run("vector_ivf_topk").collect().toSeq == r1.toSeq)
  }

  test("clusterComponents is diameter-independent: a 64-node chain " +
    "(diameter 63 > the old 15-round cap) labels in O(log d) rounds") {
    import s.implicits._
    // planted worst case: one long near-dup chain 0-1-2-...-63
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("ia", "ib")
    // the legacy min-label loop moves labels ONE hop per round — at the old
    // production cap of 15 rounds it provably cannot label this chain
    val (oldLbl, oldConverged) = ccMinLabelLegacy(chain, 15)
    assert(!oldConverged, "legacy propagation should NOT converge in 15 rounds")
    val farEnd = oldLbl.filter(col("doc_id") === 63L).collect().head
    assert(farEnd.getAs[Long]("cluster_rep") > 0L,
      "legacy labels at the far end must still be wrong after 15 rounds")
    // hook-and-shortcut: O(log d) rounds whatever the id layout — the
    // ascending chain (the old loop's best case), the same chain with its
    // ids shuffled along it (i·37 mod 64: 28 rounds for a per-node hop +
    // one jump), a 64-leaf star and a 63-node complete binary tree
    val shuffled = (0 until 63).map(i => ((i * 37 % 64).toLong,
      ((i + 1) * 37 % 64).toLong)).toDF("ia", "ib")
    val star = (1L to 64L).map(i => (64L, i - 1)).toDF("ia", "ib")
    val tree = (1L until 63L).map(i => ((i - 1) / 2, i)).toDF("ia", "ib")
    Seq("chain" -> (chain, 64), "shuffled chain" -> (shuffled, 64),
        "star" -> (star, 65), "binary tree" -> (tree, 63)).foreach {
      case (name, (pairs, nodes)) =>
        val (lbl, rounds, converged) = api.Pipelines.ccHookShortcut(pairs, 30)
        assert(converged, s"$name: did not converge ($rounds rounds)")
        assert(rounds <= 10, s"$name: expected O(log d) rounds, got $rounds")
        val reps = lbl.collect().map(r =>
          (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_rep")))
        assert(reps.length == nodes && reps.forall(_._2 == 0L),
          s"$name: every node must label to the component min (0)")
        // a size estimate carried across checkpoints is squared by every
        // shortcut self-join (27.8M digits after 5 rounds at 1024 nodes)
        val est = lbl.queryExecution.optimizedPlan.stats.sizeInBytes
        assert(est.bitLength <= 128, s"$name: size estimate compounds " +
          s"across generations (${est.bitLength} bits)")
    }
  }

  test("dfCap sensitivity: a planted viral shingle (df >> cap) has its " +
    "pair blowup bounded, and the documented downward bias occurs") {
    import s.implicits._
    // 40 docs all containing the viral trigram "v1 v2 v3" (df = 40).
    // A/B additionally share a short unique tail (true jac 2/3);
    // C/D share a long unique tail (true jac 9/11); fillers are unique.
    val docs = Seq(
      (0L, "v1 v2 v3 a1 a2 a3 a4"),
      (1L, "v1 v2 v3 a1 a2 a3 b1"),
      (2L, "v1 v2 v3 c1 c2 c3 c4 c5 c6 c7 c8 c9"),
      (3L, "v1 v2 v3 c1 c2 c3 c4 c5 c6 c7 c8 d1")) ++
      (4L until 40L).map(i => (i, s"v1 v2 v3 f${i}a f${i}b f${i}c f${i}d"))
    val corpus = docs.toDF("doc_id", "text")
    def pairs(threshold: Double, cap: Int): Map[(Long, Long), Double] =
      api.Pipelines.nearDupPairs(corpus, "doc_id", "text",
          threshold = threshold, dfCap = cap)
        .collect().map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"))
          -> r.getAs[Double]("jac")).toMap
    // (a) BOUNDED candidates: uncapped, the viral shingle alone links every
    // doc pair — C(40,2) = 780 candidates (at 100 TB, df=10⁶ → ~10¹²).
    // With the cap binding (5 < 40) only genuinely-shared tails pair: 2.
    assert(pairs(0.01, 10000).size == 780, "uncapped viral blowup expected")
    assert(pairs(0.01, 5).size == 2, "cap must bound candidates to real pairs")
    // (b) DOWNWARD bias, exactly as documented in docs/API.md: the capped
    // common count shrinks while sizes don't. A/B true jac = 4/6 >= 0.5
    // passes uncapped but reports 3/7 capped and drops below the cut;
    // C/D stays above (8/12) but is still biased down from 9/11.
    val un = pairs(0.5, 10000)
    val capped = pairs(0.5, 5)
    assert(un.keySet == Set((0L, 1L), (2L, 3L)))
    assert(capped.keySet == Set((2L, 3L)),
      "near-threshold pair touching the hot shingle must be lost under cap")
    assert(math.abs(un((0L, 1L)) - 4.0 / 6) < 1e-9)
    assert(math.abs(un((2L, 3L)) - 9.0 / 11) < 1e-9)
    assert(math.abs(capped((2L, 3L)) - 8.0 / 12) < 1e-9,
      "surviving pair's similarity must be biased downward under cap")
  }

  test("vector_ivf_topk recall vs brute-force vector_cosine_topk >= 60%") {
    // nprobe=2 of 8 cells: recall is partial by design; assert it's useful
    val ivf = run("vector_ivf_topk").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val brute = run("vector_cosine_topk").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall $recall")
  }
}
