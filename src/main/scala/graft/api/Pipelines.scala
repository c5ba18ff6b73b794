package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-independent, DataFrame-in/DataFrame-out pipeline operators — the
  * reusable library surface behind SURVEY.md §2's fixture-bound query
  * inventory. A user brings ANY corpus/embedding DataFrame; every operator
  * is a declarative plan (shuffle-on-key joins, map-side-combinable aggs,
  * broadcast where provably small) that scales with partitioning, not
  * driver memory.
  *
  * Each algorithm is written once, here: the graded keys that serve the
  * same operator (dedup family, k-core, sessionization, packing, top-k,
  * sketches) keep only their fixture selection, column shaping and final
  * order and call these functions. PipelinesSpec pins each function to
  * its key on the fixture tables.
  */
object Pipelines {

  /** Exact dedup: one survivor (min id) per distinct value of `contentCol`.
    * One shuffle on the content hash; survivors keep all columns. */
  def dedupExact(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val keep = df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** The n-token shingles of a token-array column, one per start position
    * (repeats kept): element i is tokens i..i+n-1 joined by one space — the
    * one shingle definition every shingle consumer (graded keys, staged
    * indexes, sweeps) builds on. Keep only rows with `size(toks) >= n`: on a
    * shorter array the position sequence runs backwards. */
  def shingleArray(toks: Column, n: Int = 3): Column =
    transform(sequence(lit(0), size(toks) - n), i =>
      concat_ws(" ", (0 until n).map(j => toks(if (j == 0) i else i + j)): _*))

  /** Distinct n-token shingles per document: (id, shingle) rows — the
    * inverted index every shingle-based dedup consumes. At scale, persist
    * this once (parquet) and share it across consumers. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.withColumn("_toks", split(col(textCol), " "))
      .filter(size(col("_toks")) >= n)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(shingleArray(col("_toks"), n))).as("sh"))

  /** The df-bounded inverted index: rows of `idx` (doc_id, sh[, w]) whose
    * shingle occurs in between 2 and `dfCap` documents. A shingle unique to
    * one document can never contribute to a pair (exact prune); the
    * hot-shingle ceiling bounds the self-join fan-out at dfCap² per
    * shingle — a pair above the threshold survives unless essentially its
    * whole overlap is corpus-viral stop-shingles (the banding trade, made
    * explicit; docs/API.md and DedupSpec pin the downward bias). */
  private def dfBounded(idx: DataFrame, dfCap: Int): DataFrame =
    idx.join(
      idx.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= dfCap), "sh")
      .localCheckpoint(false) // both sides of the self-join read it

  /** Document pairs (ia < ib) that share a token of the inverted index
    * `idx` — (doc_id, `token`) rows, one per distinct (document, token),
    * plus a multiplicity `w` for the weighted form — with their overlap
    * `c` (shared tokens, or Σ min(wA, wB) when `idx` has `w`) and both
    * documents' sizes `na`/`nb` from `sizes` (doc_id, n). One self-join on
    * the token column, one aggregate per pair, two size joins: the exact
    * count-only stream behind every inverted-index similarity (Jaccard,
    * weighted Jaccard, containment); each caller applies its own
    * threshold. The token column is the shingle string for ad-hoc inputs
    * (no dictionary shuffle) or the staged long surrogate `shid` of the
    * graded indexes (8-byte exchange rows instead of ~30-byte strings). */
  private[graft] def indexOverlaps(idx: DataFrame, token: String,
                                   sizes: DataFrame): DataFrame = {
    val w = if (idx.columns.contains("w")) Some(col("w")) else None
    def side(id: String, t: String, wc: String) =
      idx.select(Seq(col("doc_id").as(id), col(token).as(t)) ++ w.map(_.as(wc)): _*)
    side("ia", "_ta", "_wa")
      .join(side("ib", "_tb", "_wb"), col("_ta") === col("_tb") && col("ia") < col("ib"))
      .groupBy("ia", "ib")
      .agg(w.fold(count(lit(1)))(_ => sum(least(col("_wa"), col("_wb")))).as("c"))
      .join(sizes.select(col("doc_id").as("ia"), col("n").as("na")), "ia")
      .join(sizes.select(col("doc_id").as("ib"), col("n").as("nb")), "ib")
  }

  /** Jaccard ≥ `threshold` pairs (ia, ib, jac) over an inverted index — see
    * [[indexOverlaps]]; shared by [[nearDupPairs]] and the graded
    * exact-Jaccard ground truth. */
  private[graft] def jaccardPairs(idx: DataFrame, token: String,
                                  sizes: DataFrame, threshold: Double): DataFrame =
    indexOverlaps(idx, token, sizes)
      .withColumn("jac", col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= threshold)
      .select("ia", "ib", "jac")

  /** Exact shingle-Jaccard near-duplicate pairs (ia < ib, jac ≥ threshold)
    * via the df-bounded inverted-index self-join ([[dfBounded]]). */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.8,
                   dfCap: Int = 10000): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // doc-sized; read by both size joins
    jaccardPairs(dfBounded(sh, dfCap).select("doc_id", "sh"), "sh", sizes, threshold)
  }

  /** MinHash band signatures from a (doc_id, sh) shingle-row relation:
    * (doc_id, band_pos, band_sig). The hash family is double-hash derived
    * (Kirsch–Mitzenmacher shape, xor-rotation variant to stay in
    * overflow-free bitwise ops): per 64-hash group, two real xxhash64
    * evals g₁/g₂ and h_i = g₁ XOR rotl(g₂, i mod 64) — so `numHashes` up
    * to 64 costs exactly 2 real hashes per shingle (bit-identical to the
    * historical fixed-64 family), and every further group of 64 chains 2
    * more. The min-aggregation is map-side partial: the shuffle carries
    * one row × numHashes longs per doc regardless of corpus size. */
  def minhashBands(sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val nGroups = (numHashes + 63) / 64
    val hashed = (1 until 2 * nGroups).foldLeft(
        sh.select(col("doc_id"), xxhash64(col("sh")).as("g1"))) {
      (d, j) => d.withColumn(s"g${j + 1}", xxhash64(col(s"g$j")))
    }
    def rotl(c: Column, i: Int): Column =
      if (i == 0) c
      else shiftleft(c, i).bitwiseOR(shiftrightunsigned(c, 64 - i))
    val hashCols = (0 until numHashes).map { i =>
      val (grp, off) = (i / 64, i % 64)
      min(col(s"g${2 * grp + 1}").bitwiseXOR(rotl(col(s"g${2 * grp + 2}"), off)))
        .as(s"h$i")
    }
    val minhashes = hashed.groupBy("doc_id").agg(hashCols.head, hashCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      xxhash64(lit(b) +: (0 until rows).map(r => col(s"h${b * rows + r}")): _*)
        .as(s"band$b")
    }
    minhashes.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(b => col(s"band$b")): _*))
          .as(Seq("band_pos", "band_sig")))
  }

  /** Exact interpolated PERCENTILE_CONT p25/p50/p75 per group via the
    * cent-bucket-spine order-statistic selection — the shipped
    * `agg_percentile_cont_interp` plan (r16), factored here (ADVICE r16)
    * so every caller runs the SAME code the key executes instead of a
    * hand-inlined copy.
    *
    * Input: (rf: group key, p: DOUBLE values, non-null for every group
    * that should appear — see the precondition note at the key). Counts
    * aggregate onto the per-group cent-bucket spine
    * (shiftright(cents,16) ≈ $655 buckets, ≤ ~170 rows/group at ANY
    * scale), each rank's bucket is located on the spine, row_number picks
    * the exact ranks inside the crossing buckets only, and the
    * interpolation reproduces Percentile.getPercentile term-for-term
    * (integral-position and equal-values short-circuits included) —
    * proved BIT-EQUAL to the single-aggregate Percentile plan at three
    * fixtures and ×8 rows; NineSpec pins the bit-equality at sf0.001. */
  def centSpinePercentiles(x: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val withB = x.filter(col("p").isNotNull)
      .withColumn("bkt", expr("shiftright(cast(p * 100 as bigint), 16)"))
    val spine = withB.groupBy("rf", "bkt").agg(count(lit(1)).as("bw"))
    val wS = Window.partitionBy("rf").orderBy("bkt")
    val cum = spine
      .withColumn("hi", sum(col("bw")).over(
        wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("lo", col("hi") - col("bw"))
    // count(p) skips NULLs exactly as Percentile does
    val tgt = x.groupBy("rf").agg(count(col("p")).as("n"))
      .select(col("rf"),
        explode(expr("array(0.25D, 0.5D, 0.75D)")).as("pct"), col("n"))
      .withColumn("pos", (col("n") - 1).cast(DoubleType) * col("pct"))
      .withColumn("rlo", floor(col("pos")))
      .withColumn("rhi", ceil(col("pos")))
    val ranks = tgt
      .select(col("rf").as("nrf"),
        explode(array(col("rlo"), col("rhi"))).as("r"))
      .distinct()
    // locate each (group, rank)'s bucket on the spine (≤18 × ≤510 rows)
    val need = ranks.join(cum,
        col("nrf") === col("rf") &&
          col("r") >= col("lo") && col("r") < col("hi"))
      .select(col("nrf"), col("r"), col("bkt").as("nbkt"),
        col("lo").as("nlo"))
    val wB = Window.partitionBy("rf", "bkt").orderBy("p")
    val vals = withB
      .join(broadcast(need.select(col("nrf").as("rf"),
        col("nbkt").as("bkt")).distinct()), Seq("rf", "bkt"))
      .withColumn("ix", row_number().over(wB).cast(LongType) - 1)
      .join(broadcast(need),
        col("rf") === col("nrf") && col("bkt") === col("nbkt") &&
          col("ix") === col("r") - col("nlo"))
      .select(col("rf"), col("r"), col("p").as("v"))
    val q9 = tgt
      .join(vals.select(col("rf"), col("r").as("rlo"), col("v").as("vlo")),
        Seq("rf", "rlo"))
      .join(vals.select(col("rf"), col("r").as("rhi"), col("v").as("vhi")),
        Seq("rf", "rhi"))
      .select(col("rf"), col("pct"),
        when(col("rlo") === col("rhi") || col("vlo") === col("vhi"),
          col("vlo"))
          .otherwise(
            (col("rhi").cast(DoubleType) - col("pos")) * col("vlo") +
              (col("pos") - col("rlo").cast(DoubleType)) * col("vhi"))
          .as("qv"))
    q9.groupBy("rf")
      .agg(max(when(col("pct") === 0.25, col("qv"))).as("p25"),
        max(when(col("pct") === 0.5, col("qv"))).as("p50"),
        max(when(col("pct") === 0.75, col("qv"))).as("p75"))
  }

  /** Smallest band count whose per-pair MISS probability at `threshold`
    * is ≤ `perPairMiss`: recall per pair = 1 − (1 − t^r)^b, the Jaccard
    * twin of CosineLsh.bandsFor. */
  def minhashBandsFor(threshold: Double, rowsPerBand: Int,
                      perPairMiss: Double = 1e-3): Int = {
    val p = math.pow(threshold, rowsPerBand)
    math.max(1, math.ceil(math.log(perPairMiss) / math.log1p(-p)).toInt)
  }

  /** MinHash-LSH near-duplicate pairs: shingle → `numHashes` minhashes
    * (see [[minhashBands]] for the hash family) → `bands` band signatures
    * → bucket self-join for candidates → exact Jaccard verification of
    * candidates only. Precision 1.0 by construction; recall is the
    * banding probability (r=4/b=16 ⇒ ≥99.98% per pair at jac 0.8). The
    * shuffle keys are band signatures; candidate pairs scale with
    * collisions, not corpus². */
  def nearDupPairsLSH(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, threshold: Double = 0.8,
                      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
    val banded = minhashBands(sh, numHashes, bands)
    val cand = banded.select(col("doc_id").as("ia"), col("band_pos"), col("band_sig"))
      .join(banded.select(col("doc_id").as("ib"), col("band_pos").as("bp"),
          col("band_sig").as("bs")),
        col("band_pos") === col("bp") && col("band_sig") === col("bs")
          && col("ia") < col("ib"))
      .select("ia", "ib").distinct()
    // Exact verification restricted to candidates. The restriction joins
    // are deliberately UNHINTED: the candidate pair set is DATA-DEPENDENT
    // (grows with corpus size and band-collision noise), so a forced
    // broadcast is a latent driver OOM at a noise-dense operating point.
    // Under the broadcast threshold Catalyst/AQE still broadcasts it from
    // measured shuffle bytes; past it, callers should set
    // spark.sql.join.preferSortMergeJoin=false (the consumer keys' scoped
    // sessions do) so the fallback is a shuffled-hash join that never
    // sorts the corpus-sized shingle stream.
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val aRows = sh.select(col("doc_id").as("ia"), col("sh"))
      .join(cand, Seq("ia"))
    val bRows = sh.select(col("doc_id").as("ib2"), col("sh").as("sh2"))
      .join(cand.select(col("ib").as("ib2")).distinct(), Seq("ib2"))
    aRows.join(bRows, col("ib") === col("ib2") && col("sh") === col("sh2"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("c"))
      .join(sizes.select(col("doc_id").as("ia"), col("n").as("na")), "ia")
      .join(sizes.select(col("doc_id").as("ib"), col("n").as("nb")), "ib")
      .withColumn("jac", col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= threshold)
      .select("ia", "ib", "jac")
  }

  /** Connected components over an (ia, ib) pair graph, diameter-INDEPENDENT
    * (Shiloach–Vishkin): every node carries a label, a node id of its own
    * component, and between rounds every label is a ROOT (a node labelled
    * with itself). Each round HOOKS every root to the least label adjacent
    * to its tree, then SHORTCUTS (label ← label-of-label) to a fixpoint,
    * so every node points at a root again. Every node converges to the
    * smallest reachable id (the canonical representative a dedup pipeline
    * keeps).
    *
    * Hooking whole trees — not single nodes — is what makes the round
    * count independent of how ids are laid out along a path: a chain whose
    * ids are shuffled along it (i·37 mod 64) labels in 6 rounds, where a
    * per-node min-label hop plus one jump needs 28 (and 752 at 1024
    * nodes). Labels only ever decrease and always name a node of the same
    * component, so hooks never form a cycle; when a round hooks nothing,
    * every edge has equal labels on both ends and the component min, which
    * can never adopt a smaller label, is the common label. */
  def clusterComponents(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    val (lbl, rounds, converged) = ccHookShortcut(pairs, maxRounds)
    require(converged,
      s"clusterComponents did not converge in $rounds hook-and-shortcut rounds")
    lbl
  }

  /** `df` as a new generation of an iterative loop: lazily checkpointed,
    * with the planner's size estimate reset to the session default. A
    * checkpoint keeps its source plan's estimate, and the planner multiplies
    * the two sides' estimates at every join, so a loop that joins each
    * generation with itself squares the estimate per step: the CC loop's
    * reached 27.8M decimal digits after 5 rounds on a 1024-node chain
    * (141 s, nearly all of it BigInt arithmetic in planning). Rebuilding
    * the rows from the RDD drops it; AQE still sizes joins at run time. */
  private def generation(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema).localCheckpoint(false)

  /** The hook-and-shortcut CC loop: returns (labels, roundsUsed,
    * converged). Exposed for DedupSpec's round-count pins. */
  private[graft] def ccHookShortcut(pairs: DataFrame,
                                    maxRounds: Int): (DataFrame, Int, Boolean) = {
    // lazy checkpoints: lineage truncation per generation; the first
    // consuming job of each generation materializes + caches it
    val edges = pairs.select(col("ia").as("a"), col("ib").as("b"))
      .unionByName(pairs.select(col("ib").as("a"), col("ia").as("b")))
      .distinct().localCheckpoint(false)
    var lbl = edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint(false)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      // hook: each root adopts the least smaller label adjacent to its tree
      // (only roots are labels, so the hook rows land on roots alone)
      val hook = edges
        .join(lbl.select(col("id").as("a"), col("lbl").as("la")), "a")
        .join(lbl.select(col("id").as("b"), col("lbl").as("lb")), "b")
        .filter(col("lb") < col("la"))
        .groupBy(col("la").as("id")).agg(min(col("lb")).as("_m"))
      var cur = lbl.join(hook, Seq("id"), "left")
        .select(col("id"), coalesce(col("_m"), col("lbl")).as("lbl"),
          col("lbl").as("_old"))
      // shortcut to a fixpoint; the first jump's count against the
      // round-start label is the convergence test (no hook ⇒ no change)
      var moved = 1L
      var jumps = 0
      while (moved > 0) {
        val next = generation(cur.join(
            cur.select(col("id").as("lbl"), col("lbl").as("_ll")),
            Seq("lbl"), "left")
          .select(col("id"), coalesce(col("_ll"), col("lbl")).as("lbl"),
            col("_old"), col("lbl").as("_prev"))) // the count job materializes it
        moved = next.filter(col("lbl") =!= (
          if (jumps == 0) col("_old") else col("_prev"))).count()
        if (jumps == 0) changed = moved
        cur = next.select("id", "lbl", "_old")
        jumps += 1
      }
      lbl = cur.select("id", "lbl")
      rounds += 1
    }
    (lbl.select(col("id").as("doc_id"), col("lbl").as("cluster_rep")),
      rounds, changed == 0)
  }

  /** Brute-force cosine top-k: for each query row, the k nearest candidate
    * rows by the codegen'd `vec_dot` (register GraftFunctions first, or use
    * Graft.session). Queries are broadcast — correct while the query set is
    * small; pre-partition candidates by IVF cell for the 100 TB path. */
  def cosineTopK(queries: DataFrame, candidates: DataFrame,
                 qIdCol: String, cIdCol: String, vecCol: String,
                 k: Int): DataFrame = {
    val qs = queries.select(col(qIdCol).as("q_id"), col(vecCol).as("_qv"))
    val cs = candidates.select(col(cIdCol).as("c_id"), col(vecCol).as("_cv"))
    cs.crossJoin(broadcast(qs))
      .withColumn("sim", round(call_function("vec_dot", col("_qv"), col("_cv")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "c_id", "sim")
  }

  /** Generic IVF-PQ top-k over arbitrary (id, vector) DataFrames — the
    * library form of the graded `vector_ivfpq_topk` /
    * `vector_ivfpq_residual_topk` serving plans. `centroids` is the
    * broadcast-sized coarse quantizer (`cent_id`, `cent`); candidates
    * assign to their max-dot cell, encode `numSub` subvectors against an
    * 8-entry sub-codebook seeded from the first 8 candidates (residual
    * mode adds the ZERO codeword — "quantize or abstain"), and queries
    * probe `nprobe` cells with inner-product ADC:
    * raw: sim ≈ Σ_m dot(q_m, ĉ_m); residual: sim ≈ dot(q, µ) + Σ_m
    * dot(q_m, r̂_m). Residual encoding wins when the corpus is CLUSTERED
    * (‖c − µ‖ ≪ ‖c‖ — the production case; pinned by EightSpec on a
    * synthetic clustered corpus); on isotropic data neither dominates
    * (measured in round 9). At scale the codes+cells table is the
    * persisted index and everything joined to it is broadcast-sized. */
  def ivfpqTopK(queries: DataFrame, candidates: DataFrame,
                qIdCol: String, cIdCol: String, vecCol: String,
                centroids: DataFrame, numSub: Int, subDim: Int,
                residual: Boolean, nprobe: Int = 2, k: Int = 5): DataFrame = {
    val s = queries.sparkSession
    val qs = queries.select(col(qIdCol).as("q_id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("qe"))
    val cs = candidates.select(col(cIdCol).as("c_id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("ce"))
    val cent = centroids.select(col("cent_id"),
      col("cent").cast(ArrayType(DoubleType)).as("cent"))
    def dot(a: Column, b: Column) = call_function("vec_dot", a, b)
    def subsOf(vec: Column) = posexplode(array((0 until numSub).map(m =>
      slice(vec, m * subDim + 1, subDim)): _*)).as(Seq("m", "sub"))
    val assign = cs.crossJoin(broadcast(cent))
      .withColumn("d", round(dot(col("ce"), col("cent")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("c_id").orderBy(col("d").desc, col("cent_id"))))
      .filter(col("rn") === 1)
      .select(col("c_id"), col("cent_id").as("cell"),
        (if (residual) zip_with(col("ce"), col("cent"), (x, y) => x - y)
         else col("ce")).as("enc"))
      .localCheckpoint(false)
    val seeds = assign.orderBy("c_id").limit(8)
      .select(col("c_id"), col("cell"), subsOf(col("enc")))
      .withColumn("cid", (row_number().over(
        Window.partitionBy("m").orderBy("c_id")) - 1).cast(IntegerType))
      .select(col("m"), col("cid"), col("sub").as("cvec"))
    val codebook =
      if (residual) seeds.unionByName(s.range(numSub)
        .select(col("id").cast(IntegerType).as("m"), lit(8).as("cid"),
          array_repeat(lit(0.0), subDim).as("cvec")))
      else seeds
    val codes = assign.select(col("c_id"), col("cell"), subsOf(col("enc")))
      .join(broadcast(codebook), "m")
      .withColumn("score", round(dot(col("sub"), col("cvec"))
        - lit(0.5) * dot(col("cvec"), col("cvec")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("c_id", "m").orderBy(col("score").desc, col("cid"))))
      .filter(col("rn") === 1)
      .select("c_id", "cell", "m", "cid")
    val probe = qs.crossJoin(broadcast(cent))
      .withColumn("d", round(dot(col("qe"), col("cent")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d").desc, col("cent_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("cent_id").as("cell"),
        (if (residual) col("d") else lit(0.0))
          .cast(DecimalType(12, 6)).as("qbase"))
    val qd = qs.select(col("q_id"), subsOf(col("qe")))
      .join(broadcast(codebook), "m")
      .select(col("q_id"), col("m"), col("cid"),
        round(dot(col("sub"), col("cvec")), 6).cast(DecimalType(10, 6)).as("d"))
    codes.join(broadcast(probe), "cell")
      .join(broadcast(qd), Seq("q_id", "m", "cid"))
      .groupBy("q_id", "c_id")
      .agg((first(col("qbase")) + sum(col("d"))).cast(DoubleType).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id")))
        .cast(IntegerType))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "c_id", "sim")
  }

  /** Backward as-of enrichment: for each left row, the greatest right-side
    * timestamp strictly before the left timestamp within the same key —
    * one union + one window pass (running max of tagged timestamps), one
    * shuffle on the key, O(1) per-row state. Ties (right ts == left ts) are
    * excluded (strict "prior"). Returns the left rows + `asof_ts`. */
  def asofBackward(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTsCol: String, rightTsCol: String): DataFrame = {
    val l = left.withColumn("_r", lit(0)).withColumn("_ts", col(leftTsCol))
    val r = right.select(col(keyCol), col(rightTsCol).as("_ts"))
      .withColumn("_r", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)
    // left rows sort before right rows at equal _ts, so the ≤ current-1
    // frame of a left row never sees a same-timestamp right row
    val w = Window.partitionBy(keyCol).orderBy(col("_ts"), col("_r"))
      .rowsBetween(Window.unboundedPreceding, -1)
    u.withColumn("asof_ts", max(when(col("_r") === 1, col("_ts"))).over(w))
      .filter(col("_r") === 0)
      .drop("_r", "_ts")
  }

  /** Gap-based sessionization: adds `session_id` (1-based per key) — lag-gap
    * flag + running sum, the batch formulation of session_window. A gap of
    * exactly `gapSeconds` starts a NEW session (half-open windows, matching
    * Structured Streaming's session_window). `tieBreak` makes the intra-key
    * ordering total when timestamps can collide. */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 gapSeconds: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    val ord = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCol).orderBy(ord: _*)
    val run = Window.partitionBy(keyCol).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_prev", lag(col(tsCol), 1).over(w))
      .withColumn("_new", when(col("_prev").isNull ||
        expr(s"unix_micros(cast($tsCol as timestamp)) - unix_micros(cast(_prev as timestamp))")
          >= gapSeconds * 1000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("_new")).over(run))
      .drop("_prev", "_new")
  }

  /** N-stage ordered funnel: for each key, how far through `stages` the
    * entity progressed, where each stage's event must be strictly later
    * than the previous stage's reach time. One co-partitioned aggregation
    * per stage (all shuffles share the key). Returns (key, stage) with
    * stage ∈ [0, stages.length]. */
  def funnelStages(events: DataFrame, keyCol: String, typeCol: String,
                   tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one stage")
    val keys = events.select(col(keyCol)).distinct()
    // reach(i): per-key earliest time stage i was hit after reach(i-1)
    val reaches = stages.zipWithIndex.foldLeft(List.empty[(Int, DataFrame)]) {
      case (acc, (stage, i)) =>
        val hits = events.filter(col(typeCol) === stage)
        val reached = acc.headOption match {
          case None =>
            hits.groupBy(keyCol).agg(min(col(tsCol)).as(s"_t$i"))
          case Some((prev, prevDf)) =>
            hits.join(prevDf, keyCol)
              .filter(col(tsCol) > col(s"_t$prev"))
              .groupBy(keyCol).agg(min(col(tsCol)).as(s"_t$i"))
        }
        (i, reached) :: acc
    }.reverse
    val joined = reaches.foldLeft(keys) { case (df, (i, r)) =>
      df.join(r.select(col(keyCol), col(s"_t$i")), Seq(keyCol), "left")
    }
    // fold ascending so the HIGHEST reached stage ends up outermost
    val stageExpr = stages.indices.foldLeft(lit(0)) { (acc, i) =>
      when(col(s"_t$i").isNotNull, i + 1).otherwise(acc)
    }
    joined.withColumn("stage", stageExpr)
      .select(col(keyCol), col("stage"))
  }

  /** Deterministic hash sample: keep rows whose md5(key) bucket matches —
    * a pure function of the data (same sample on any cluster layout or
    * engine), evaluated at the scan, no shuffle. */
  def hashSample(df: DataFrame, keyCol: String,
                 modulus: Int = 10, bucket: Int = 0): DataFrame =
    df.filter(
      conv(substring(md5(col(keyCol).cast(StringType)), 1, 8), 16, 10)
        .cast(LongType) % modulus === bucket)

  /** Fixed-width histogram over an exact integer expression (callers
    * pre-convert to cents/int units — float boundary ambiguity is the
    * caller's to eliminate). One map-side-combinable aggregation. */
  def histogram(df: DataFrame, intCol: Column, bucketWidth: Long): DataFrame =
    df.select((intCol / bucketWidth).cast(LongType).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("lo_edge", col("bucket") * bucketWidth)

  /** Z-order (Morton) key of two dimensions, `bits` bits each — pure
    * integer bit interleave. Sort/range-partition a write by this column
    * and min/max file statistics prune BOTH dimensions. */
  def zorderKey(x: Column, y: Column, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    def bit(c: Column, i: Int, out: Int) =
      shiftleft(shiftrightunsigned(c.cast(LongType), i).bitwiseAND(lit(1L)), out)
    (0 until bits).map(i => bit(x, i, 2 * i) + bit(y, i, 2 * i + 1)).reduce(_ + _)
  }

  /** Random-hyperplane (sign-of-dot) LSH band values for cosine similarity:
    * (id, band_pos, band_val) rows, `bands` bands of `rowsPerBand` sign
    * bits each, computed by the codegen'd `lsh_bands` expression
    * (graft.functions.LshBands — register GraftFunctions first, or use
    * Graft.session). Deterministic for a given seed. */
  def cosineLshBands(df: DataFrame, idCol: String, vecCol: String,
                     bands: Int, rowsPerBand: Int, seed: Long): DataFrame =
    df.select(col(idCol).as("_id"),
      posexplode(call_function("lsh_bands", col(vecCol),
        lit(bands), lit(rowsPerBand), lit(seed))).as(Seq("band_pos", "band_val")))

  /** Banded cosine threshold self-join: all pairs (ia < ib, sim ≥
    * threshold) via LSH-band candidate generation + exact codegen'd
    * `vec_dot` verification — precision 1.0 by construction (every emitted
    * pair is exactly verified); recall is the banding probability
    * 1−(1−p^r)^b with p = 1−θ/π at the threshold angle. The band count is
    * derived from the threshold so a pair AT the threshold is missed with
    * probability ≤ `perPairMiss`; pairs above it are safer still. The
    * candidate join is a shuffle equi-join on (band_pos, band_val) — NO
    * nested-loop/cartesian operator appears.
    *
    * Parameter honesty for 100 TB: at real dedup thresholds (τ ≥ 0.9,
    * p ≥ 0.86/bit) a few dozen bands suffice and candidates are ~0.05% of
    * pairs; at low thresholds like 0.45 the background bit-agreement (0.5)
    * is close to the threshold's (0.65), so recall-safety costs hundreds
    * of bands and the candidate set stays dense — no subquadratic exact
    * method exists there. Selectivity comes from `rowsPerBand` (2^r
    * buckets per band); 8 bits ⇒ each band passes ~1/256 of random pairs.
    *
    * Precondition: `idCol` must be unique in `df`. Candidate pairs are
    * deduped on (ia, ib) BEFORE the vector attach (the scale-correct
    * order), so duplicate ids would fan out in the attach joins and emit
    * duplicate (ia, ib, sim) rows rather than being collapsed. */
  def cosinePairsLSH(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, rowsPerBand: Int = 8,
                     perPairMiss: Double = 1e-5,
                     seed: Long = 42L): DataFrame = {
    val bands = graft.functions.CosineLsh.bandsFor(threshold, rowsPerBand, perPairMiss)
    // the signature is the compute-heavy stage (bands·rowsPerBand·dim
    // multiplies per row): spread the narrow (id, vec) projection across
    // the cluster first — a single-file source otherwise runs it on one
    // task. The shuffle moves only id+vector, and each side of the band
    // self-join recomputes signatures in parallel.
    val src = df.select(col(idCol), col(vecCol)).repartition(col(idCol))
    val banded = cosineLshBands(src, idCol, vecCol, bands, rowsPerBand, seed)
    // shuffle_hash on the band self-join: the banded side is hundreds of
    // rows per input row — broadcasting it serializes a near-megarow hash
    // map through the driver; a shuffled hash join keeps both sides
    // distributed.
    // DEDUP the candidate pairs BEFORE the vector joins: the multiset
    // rides one cheap 16-byte-row shuffle into the distinct, and the
    // corpus-sized vector attachment touches each pair once. (The prior
    // shape verified before deduping, which was free only while the vecs
    // side broadcast — the ×100 scale probe showed that past the
    // autoBroadcast threshold Catalyst sort-merges those joins and SORTS
    // the full candidate multiset with vectors attached: a ~100 GB spill
    // at 202k vectors × r=12 noise. Distinct-first + sort-free hash joins
    // keeps every stage O(candidates) with no data-sized sort.)
    val cand = banded.select(col("_id").as("ia"), col("band_pos"), col("band_val"))
      .hint("shuffle_hash")
      .join(banded.select(col("_id").as("ib"), col("band_pos").as("bp"),
          col("band_val").as("bv")),
        col("band_pos") === col("bp") && col("band_val") === col("bv")
          && col("ia") < col("ib"))
      .select("ia", "ib").distinct()
    // Vector attachment is deliberately UNHINTED: under the corpus-side
    // broadcast threshold Catalyst broadcasts the vecs map and the pair
    // stream flows through both attaches + the sim filter in one codegen
    // stage with ZERO pair-stream shuffle (the only shape that survives a
    // noise-dense banding, where the pair stream is the biggest thing in
    // the query). Past the threshold, callers must set
    // spark.sql.join.preferSortMergeJoin=false (the consumer keys' scoped
    // sessions do): a shuffled-hash attach moves the pair stream but
    // never SORTS it — at a TUNED rowsPerBand the stream is O(n) and the
    // move is linear, while an SMJ sort of a vector-laden pair stream is
    // the ~100 GB scale cliff the ×100 probe caught.
    val vecs = df.select(col(idCol).as("_vid"), col(vecCol).as("_vv"))
    cand
      .join(vecs.select(col("_vid").as("ia"), col("_vv").as("_va")), Seq("ia"))
      .join(vecs.select(col("_vid").as("ib"), col("_vv").as("_vb")), Seq("ib"))
      .withColumn("sim", round(call_function("vec_dot", col("_va"), col("_vb")), 6))
      .filter(col("sim") >= threshold)
      .select("ia", "ib", "sim")
  }

  /** Banded cosine threshold join across two sides (a_id from left, b_id
    * from right, sim ≥ threshold) — same candidate/verify machinery as
    * `cosinePairsLSH`, sharing one hyperplane family so both sides band
    * identically. Precondition: `idCol` must be unique within EACH side
    * (candidates are deduped before the vector attach, so duplicate ids
    * would fan out into duplicate output rows — see cosinePairsLSH).
    *
    * OPERATING-POINT ECONOMICS (r15 three-decade measurement): banding is
    * NOT always a filter. On the random-pair model a band of r sign bits
    * passes ~2^-r of non-matching pairs, so b bands admit ~b/2^r of them;
    * recall at the threshold needs b ≈ ln(1/miss)/p^r with p = 1−θ/π.
    * The admitted fraction is therefore ~ln(1/miss)·(0.5/p)^r — and at
    * low thresholds p is so close to 0.5 that NO feasible (r, b) prunes:
    * at τ=0.35/miss=1e-9, every signature budget admits ≥ 2.7× ALL pairs,
    * i.e. LSH costs MORE than the exact join plus a candidate-distinct
    * whose multiset is the biggest thing in the query (measured at the
    * generated ×100 fixture: shuffle decade-exponent 1.87, CPU 2.20,
    * 194 GB spill, 348 s wall — while every sibling key reads ~1.0).
    * This method now PICKS ITS PLAN from the arithmetic: it searches
    * r ∈ [min(rowsPerBand, 16), 16] (i.e. `rowsPerBand` is the search
    * LOWER bound, clamped to the 16-bit band-value width — a caller
    * asking for coarser-than-16 banding gets r = 16, never a silent
    * fall-through to the exact branch) with a 512-band signature budget.
    * Among feasible points it minimizes TOTAL work, not just pruning:
    * per input row a point costs bands·r hyperplane dots of signature
    * compute plus frac·candPairsHint/2 admitted-candidate verifies
    * (frac = b/2^r, the admitted random-pair fraction). With the default
    * `candPairsHint` (2^24) the candidate term dominates at any corpus
    * worth distributing, so the search lands on max pruning — callers
    * with a genuinely small pair space can pass their |L|·|R| estimate
    * and the search will stop raising r once extra signature compute
    * outprices the pruning it buys. If the best point still admits
    * > 0.5 of random pairs, banding cannot beat the exact join and the
    * TILED EXACT branch runs instead — a partitioned cartesian whose
    * data movement is |L|·P_r + |R|·P_l (each task streams one partition
    * pair through the codegen'd vec_dot + filter, no candidate
    * materialization, no distinct, no spill). At real dedup thresholds
    * (τ ≥ 0.6) the search lands on the LSH branch. */
  /** The banded-cosine operating-point search (see cosineThresholdJoinLSH
    * for the economics): returns the (rowsPerBand, bands, admittedFraction)
    * point minimizing per-row TOTAL work — bands·r hyperplane-signature
    * dots plus frac·candPairsHint/2 admitted-candidate verify dots — over
    * r ∈ [min(rowsPerBandLo, 16), 16] under a 512-band budget; None when
    * no point is feasible. Pure arithmetic, exposed for spec pinning. */
  def lshOperatingPoint(threshold: Double, rowsPerBandLo: Int,
                        perPairMiss: Double,
                        candPairsHint: Double): Option[(Int, Int, Double)] = {
    val budget = 512 // max bands: signature cost = bands·r hyperplane dots
    val rLo = math.max(1, math.min(rowsPerBandLo, 16))
    val feasible = (rLo to 16).flatMap { r =>
      val b = graft.functions.CosineLsh.bandsFor(threshold, r, perPairMiss)
      if (b <= budget) Some((r, b, b.toDouble / math.pow(2.0, r))) else None
    }
    // Minimizing frac alone always lands on the largest feasible r, which
    // at high τ buys ~8× more signature compute than the pruning is worth
    // on small inputs (ADVICE r15) — so the objective prices both terms.
    feasible.sortBy { case (r, b, frac) =>
      b.toDouble * r + frac * candPairsHint / 2.0
    }.headOption
  }

  def cosineThresholdJoinLSH(left: DataFrame, right: DataFrame,
                             idCol: String, vecCol: String,
                             threshold: Double, rowsPerBand: Int = 8,
                             perPairMiss: Double = 1e-5,
                             seed: Long = 42L,
                             candPairsHint: Double = (1L << 24).toDouble): DataFrame = {
    val best = lshOperatingPoint(threshold, rowsPerBand, perPairMiss,
      candPairsHint)
    best match {
      case Some((r, bands, frac)) if frac <= 0.5 =>
        // banding pays: proceed with the optimized operating point
        def spread(d: DataFrame) =
          d.select(col(idCol), col(vecCol)).repartition(col(idCol))
        val la = cosineLshBands(spread(left), idCol, vecCol, bands, r, seed)
        val rb = cosineLshBands(spread(right), idCol, vecCol, bands, r, seed)
        // dedup-before-verify and sort-free hash joins, same scale
        // rationale as cosinePairsLSH (the candidate multiset must never
        // be SORTED with vectors attached)
        val cand = la.select(col("_id").as("a_id"), col("band_pos"), col("band_val"))
          .hint("shuffle_hash")
          .join(rb.select(col("_id").as("b_id"), col("band_pos").as("bp"),
              col("band_val").as("bv")),
            col("band_pos") === col("bp") && col("band_val") === col("bv"))
          .select("a_id", "b_id").distinct()
        // unhinted vector attachment — broadcast under threshold,
        // sort-free shuffled-hash past it (cosinePairsLSH's rationale)
        cand
          .join(left.select(col(idCol).as("a_id"), col(vecCol).as("_va")), Seq("a_id"))
          .join(right.select(col(idCol).as("b_id"), col(vecCol).as("_vb")), Seq("b_id"))
          .withColumn("sim",
            round(call_function("vec_dot", col("_va"), col("_vb")), 6))
          .filter(col("sim") >= threshold)
          .select("a_id", "b_id", "sim")
      case _ =>
        // banding cannot prune at this (threshold, miss): tiled exact join.
        // Output is identical BY CONSTRUCTION (the LSH branch exactly
        // verifies every candidate; this branch exactly tests every pair —
        // the only difference is the 1e-9-miss recall gap, in exact favor
        // of this branch).
        left.select(col(idCol).as("a_id"), col(vecCol).as("_va"))
          .crossJoin(
            right.select(col(idCol).as("b_id"), col(vecCol).as("_vb")))
          .withColumn("sim",
            round(call_function("vec_dot", col("_va"), col("_vb")), 6))
          .filter(col("sim") >= threshold)
          .select("a_id", "b_id", "sim")
    }
  }

  /** Quality filter: keep documents with ≥ minTokens whitespace tokens and
    * a stopword ratio ≤ maxStopRatio — single stateless pass, exact
    * integer arithmetic (ratio test cross-multiplied, no division). */
  def qualityFilter(df: DataFrame, textCol: String,
                    minTokens: Int, maxStopRatio: Double,
                    stopwords: Seq[String]
                      = Seq("the", "a", "of", "and", "to", "in", "is")): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    df.withColumn("_toks", split(col(textCol), " "))
      .withColumn("_nTok", size(col("_toks")))
      .withColumn("_nStop",
        size(filter(col("_toks"), t => array_contains(stopArr, t))))
      .filter(col("_nTok") >= minTokens &&
        col("_nStop") * lit(1000) <= col("_nTok") * lit((maxStopRatio * 1000).toInt))
      .drop("_toks", "_nTok", "_nStop")
  }

  /** Near-containment pairs (ia < ib): fraction of the SMALLER document's
    * shingle set inside the larger ≥ `threshold` — the asymmetric
    * decontamination test symmetric Jaccard misses (a doc quoted inside a
    * bigger one has low Jaccard but containment ~1). Same df-bounded
    * inverted-index self-join as [[nearDupPairs]]; the threshold is decided
    * by an exact integer cross-multiplication. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.9,
                       dfCap: Int = 10000): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val thNum = math.round(threshold * 1000)
    indexOverlaps(dfBounded(sh, dfCap).select("doc_id", "sh"), "sh", sizes)
      .filter(lit(1000) * col("c") >= lit(thNum) * least(col("na"), col("nb")))
      .select(col("ia"), col("ib"),
        (col("c").cast(DoubleType) / least(col("na"), col("nb"))).as("containment"))
  }

  /** Two-stage ANN top-k: int8-quantized dot (codegen'd `vec_dot_int`)
    * ranks all candidates, the exact double dot re-scores only the top
    * `coarseK` survivors. Equal to brute force whenever the quantization
    * error (≤ ~0.07 for unit vectors) is under the coarseK-th margin —
    * attest on a sample before trusting a new corpus. Exact-dot cost drops
    * from |candidates| to coarseK per query. */
  def cosineTopKReranked(queries: DataFrame, candidates: DataFrame,
                         qIdCol: String, cIdCol: String, vecCol: String,
                         k: Int, coarseK: Int = 50): DataFrame = {
    def quant(c: Column) = transform(c, x => floor(x * 127.0 + 0.5).cast(IntegerType))
    val qs = queries.select(col(qIdCol).as("q_id"), col(vecCol).as("_qv"),
      quant(col(vecCol)).as("_qq"))
    val cs = candidates.select(col(cIdCol).as("c_id"), col(vecCol).as("_cv"),
      quant(col(vecCol)).as("_cq"))
    cs.crossJoin(broadcast(qs))
      .withColumn("_isim", call_function("vec_dot_int", col("_qq"), col("_cq")))
      .withColumn("_crnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("_isim").desc, col("c_id"))))
      .filter(col("_crnk") <= coarseK)
      .withColumn("sim", round(call_function("vec_dot", col("_qv"), col("_cv")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "c_id", "sim")
  }

  /** Recall attest for [[cosineTopKReranked]]: per-query fraction of the
    * exact brute-force top-k that the two-stage result preserves. The
    * two-stage path is only exact when the int8 coarse top-`coarseK`
    * contains the exact top-k — which depends on the corpus's score
    * margins, so run this on a query SAMPLE before trusting a
    * (k, coarseK) setting on a new corpus; raise `coarseK` until recall
    * is 1.0 (cost grows only in the exact-rerank stage, coarseK dots per
    * query). */
  def rerankRecall(queries: DataFrame, candidates: DataFrame,
                   qIdCol: String, cIdCol: String, vecCol: String,
                   k: Int, coarseK: Int = 50): DataFrame = {
    val exact = cosineTopK(queries, candidates, qIdCol, cIdCol, vecCol, k)
    val two = cosineTopKReranked(queries, candidates, qIdCol, cIdCol, vecCol,
      k, coarseK)
    exact.select(col("q_id"), col("c_id"))
      .join(two.select(col("q_id"), col("c_id")).withColumn("_hit", lit(1)),
        Seq("q_id", "c_id"), "left")
      .groupBy("q_id")
      // denominator = this query's EXACT result count, not the constant k:
      // a corpus smaller than k would otherwise report recall < 1 even for
      // an identical two-stage result.
      .agg((sum(coalesce(col("_hit"), lit(0))).cast(DoubleType)
        / count(lit(1))).as("recall"))
  }

  /** Global top-k WITHOUT a single-partition window: `orderBy(ord).limit(k)`
    * plans as TakeOrderedAndProject — a parallel per-partition top-k merged
    * once — and the `rnk` row_number window then sorts only the k surviving
    * rows. The drop-in replacement for
    * `row_number().over(Window.orderBy(...))` + `filter(rnk <= k)` on a
    * data-sized input, which moves the ENTIRE relation to one task (the
    * WindowExec "No Partition Defined" plan). Same rows, same ranks, scale-
    * safe plan — the re-plan behind the graded heavy-hitter/BM25/LM keys. */
  def topKGlobal(df: DataFrame, k: Int, ord: Column*): DataFrame =
    df.orderBy(ord: _*).limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy(ord: _*)).cast(IntegerType))

  /** Exact weighted (multiset) Jaccard near-dup pairs: shingle COUNTS
    * instead of sets — J_w = Σmin(cA,cB)/Σmax(cA,cB) ≥ threshold, decided
    * by integer cross-multiplication. Same df-bounded index join as
    * [[nearDupPairs]]; catches repetition-structure similarity the set
    * form flattens. */
  def weightedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, threshold: Double = 0.8,
                           dfCap: Int = 10000): DataFrame = {
    val shc = df.withColumn("_toks", split(col(textCol), " "))
      .filter(size(col("_toks")) >= n)
      .select(col(idCol).as("doc_id"), explode(shingleArray(col("_toks"), n)).as("sh"))
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("w"))
    val lens = shc.groupBy("doc_id").agg(sum("w").as("n"))
      .localCheckpoint(false)
    val thNum = math.round(threshold * 1000)
    indexOverlaps(dfBounded(shc, dfCap).select("doc_id", "sh", "w"), "sh", lens)
      .filter(lit(1000) * col("c") >= lit(thNum) * (col("na") + col("nb") - col("c")))
      .select(col("ia"), col("ib"),
        (col("c").cast(DoubleType) / (col("na") + col("nb") - col("c"))).as("wjac"))
  }

  /** Point-in-time enrichment (the feature-store PIT join): for each probe
    * row, the latest version row of the same key with version timestamp ≤
    * the probe timestamp. Versions and probes union into one stream per
    * key and a single window carries the last version id forward — no
    * range join, no per-probe scan, one shuffle on the key. Probes before
    * any version get `versionIdCol` = 0. Returns the COMPACT resolution map
    * — one (`keyCol`, `probeTsCol`, `versionIdCol`) row per probe event,
    * NOT the full probe row (duplicate (key, ts) probes collapse to
    * identical map rows); join the map back onto the probe relation on
    * (key, ts) when the enriched rows are needed — that join is the
    * caller's choice of shuffle at scale. */
  def pointInTime(versions: DataFrame, probes: DataFrame, keyCol: String,
                  versionTsCol: String, probeTsCol: String,
                  versionIdCol: String = "version"): DataFrame =
    pointInTimeEnrich(
      versions.withColumn(versionIdCol, col(versionIdCol).cast(LongType)),
      probes, keyCol, versionTsCol, probeTsCol, Seq(versionIdCol))
      .withColumn(versionIdCol, coalesce(col(versionIdCol), lit(0L)))

  /** Generalized PIT resolution carrying ARBITRARY version payload columns
    * (not just a numeric id): for each probe event, the payload of the
    * version row whose timestamp is the latest ≤ the probe timestamp.
    * Same single-shuffle union+window shape as [[pointInTime]]: versions
    * and probes interleave per key ordered by (ts, kind, payload) and
    * `last(_, ignoreNulls)` carries the most recent version payload
    * forward — no range join, no per-probe scan. Probes before any
    * version get NULL payload columns. The payload struct is the final
    * ordering tiebreak, so equal-timestamp versions resolve
    * deterministically as long as the payload columns are orderable
    * (include a unique version-id-like column when timestamps can tie).
    * Returns the compact (`keyCol`, `probeTsCol`, payload...) map — one
    * row per probe event; join it back on (key, ts) for enriched rows. */
  def pointInTimeEnrich(versions: DataFrame, probes: DataFrame,
                        keyCol: String, versionTsCol: String,
                        probeTsCol: String,
                        payloadCols: Seq[String]): DataFrame = {
    val v = versions.select(col(keyCol).as("_k"), col(versionTsCol).as("_t"),
        struct(payloadCols.map(col): _*).as("_pay"))
      .withColumn("_p", lit(0))
    val p = probes.select(col(keyCol).as("_k"), col(probeTsCol).as("_t"))
      .withColumn("_pay", lit(null).cast(v.schema("_pay").dataType))
      .withColumn("_p", lit(1))
    val w = Window.partitionBy("_k").orderBy("_t", "_p", "_pay")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v.unionByName(p, allowMissingColumns = false)
      .withColumn("_cur", last(col("_pay"), ignoreNulls = true).over(w))
      .filter(col("_p") === 1)
      .select(col("_k").as(keyCol) +: col("_t").as(probeTsCol) +:
        payloadCols.map(c => col("_cur").getField(c).as(c)): _*)
  }

  /** Cohort retention matrix: users cohorted by first-seen day of `tsCol`,
    * distinct active users per (cohort_day, day offset ≤ maxOffset). */
  def retentionMatrix(events: DataFrame, keyCol: String, tsCol: String,
                      maxOffset: Int = 7): DataFrame = {
    val act = events.select(col(keyCol).as("_k"), to_date(col(tsCol)).as("_d")).distinct()
    val coh = act.groupBy("_k").agg(min(col("_d")).as("_cd"))
    act.join(coh, "_k")
      .withColumn("offset_d", datediff(col("_d"), col("_cd")).cast("int"))
      .filter(col("offset_d") <= maxOffset)
      .groupBy(col("_cd").as("cohort_day"), col("offset_d"))
      .agg(countDistinct(col("_k")).as("n_users"))
  }

  /** Shard-manifest planning (WebDataset/tar-shard layout): rows packed
    * greedily in `idCol` order into shards of ~`budgetBytes` per group —
    * shard index = exact integer division of the per-group running byte
    * offset. One keyed window + one agg; at scale each group (source, date
    * partition, …) plans its shards independently. Returns one row per
    * (group, shard_ix) with `n_docs` and `n_bytes`. */
  def shardManifest(df: DataFrame, groupCol: String, idCol: String,
                    bytesCol: String, budgetBytes: Long = 100000L): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_off", sum(col(bytesCol)).over(w) - col(bytesCol))
      .withColumn("shard_ix", expr(s"_off div ${budgetBytes}L"))
      .groupBy(col(groupCol), col("shard_ix"))
      .agg(count(lit(1)).as("n_docs"), sum(col(bytesCol)).as("n_bytes"))
  }

  /** Exact triangle count of an undirected graph given as (src, dst) edge
    * pairs (direction/duplicates normalized here). Degree-oriented
    * edge-iterator: orient each edge toward the (degree, id)-larger
    * endpoint, build per-node out-neighbor arrays (bounded at O(√m) by the
    * orientation), and sum |N⁺(u) ∩ N⁺(v)| over edges — each triangle
    * counted exactly once, no wedge set ever materialized. The node-sized
    * adjacency table broadcasts. */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = undirectedPairs(edges, srcCol, dstCol).localCheckpoint(false)
    val deg = e0.select(col("pa").as("node"))
      .unionAll(e0.select(col("pb").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val ed = e0
      .join(deg.select(col("node").as("pa"), col("d").as("da")), "pa")
      .join(deg.select(col("node").as("pb"), col("d").as("db")), "pb")
      .select(
        when(col("da") < col("db")
          || (col("da") === col("db") && col("pa") < col("pb")), col("pa"))
          .otherwise(col("pb")).as("src"),
        when(col("da") < col("db")
          || (col("da") === col("db") && col("pa") < col("pb")), col("pb"))
          .otherwise(col("pa")).as("dst"))
    val adj = ed.groupBy("src").agg(collect_list(col("dst")).as("nbrs"))
    ed.join(broadcast(adj.select(col("src"), col("nbrs").as("nu"))), "src")
      .join(broadcast(adj.select(col("src").as("dst"), col("nbrs").as("nv"))),
        Seq("dst"), "left")
      .select(size(array_intersect(col("nu"),
        coalesce(col("nv"), array().cast(
          ArrayType(edges.schema(dstCol).dataType))))).as("closed"))
      .agg(sum(col("closed")).as("n_triangles"))
  }

  /** Training-context packing: rows packed greedily in `idCol` order into
    * `budgetTokens`-token contexts per group — the sequence-packing step
    * between dedup and tokenized export. Context index = exact integer
    * division of the per-group running token offset (shardManifest,
    * token-budgeted). Returns one row per (group, ctx_ix) with `n_docs`
    * and `n_tokens`. */
  def contextPack(df: DataFrame, groupCol: String, idCol: String,
                  tokensCol: String, budgetTokens: Long = 2048L): DataFrame =
    shardManifest(df, groupCol, idCol, tokensCol, budgetTokens)
      .withColumnRenamed("shard_ix", "ctx_ix")
      .withColumnRenamed("n_bytes", "n_tokens")

  /** Bounded-hop weighted single-source shortest paths over (src, dst,
    * cost) edges: `maxHops` Bellman-Ford relaxation layers — well-defined
    * whether or not the graph has converged. The dist table is node-sized:
    * under the session broadcast budget each relax iteration broadcasts
    * it (the edge list never shuffles); over budget the joins shuffle on
    * the node key and the hop bound still holds. Unreachable ⇒ NULL. */
  def ssspFrontier(edges: DataFrame, srcCol: String, dstCol: String,
                   costCol: String, source: Long, maxHops: Int = 6): DataFrame = {
    val inf = 1000000000000000L
    val e = edges.select(col(srcCol).as("_s"), col(dstCol).as("_t"),
      col(costCol).as("_c")).localCheckpoint(false)
    val n = e.select(col("_s").as("node")).unionAll(e.select(col("_t").as("node")))
      .distinct().localCheckpoint(false)
    val nCount = n.count()
    val maybeB: DataFrame => DataFrame =
      if (graft.T.broadcastExact(e.sparkSession, 24L * nCount))
        broadcast else identity
    var dist = n.withColumn("d",
      when(col("node") === source, lit(0L)).otherwise(lit(inf)))
    for (_ <- 1 to maxHops) {
      val relax = e.join(maybeB(dist), col("_s") === col("node"))
        .groupBy(col("_t")).agg(min(col("d") + col("_c")).as("rd"))
      // localCheckpoint: dist is referenced twice per iteration (relax +
      // carry), so without truncation the plan doubles per hop and a large
      // maxHops hits exponential analysis blowup (kcorePeel does the same)
      dist = n.join(maybeB(dist), "node")
        .join(maybeB(relax.withColumnRenamed("_t", "node")), Seq("node"), "left")
        .select(col("node"), least(col("d"), coalesce(col("rd"), lit(inf))).as("d"))
        .localCheckpoint(false)
    }
    dist.select(col("node"),
      when(col("d") >= inf, lit(null).cast(LongType)).otherwise(col("d")).as("dist"))
  }

  /** k-core peeling of an undirected (src, dst) edge set: `rounds`
    * iterations of degree-filter + subgraph restriction, returning the
    * per-round (round, n_nodes, n_edges) peel curve. Direction and
    * duplicates are normalized here; the loop is [[peelUndirected]]. */
  def kcorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int = 4): DataFrame =
    peelUndirected(undirectedPairs(edges, srcCol, dstCol), k, rounds)

  /** An edge list as DISTINCT undirected pairs (pa < pb): direction and
    * duplicates dropped, self-loops removed. */
  private def undirectedPairs(edges: DataFrame, srcCol: String,
                              dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("pa"),
        greatest(col(srcCol), col(dstCol)).as("pb"))
      .filter(col("pa") < col("pb")).distinct()

  /** The k-core peel loop over DISTINCT undirected (pa < pb) pairs — the
    * body behind [[kcorePeel]] and the graded `graph_kcore_peel`, whose
    * staged pair artifact already has this shape (no normalization
    * shuffle). Each round recomputes degrees over the current edge set,
    * keeps nodes with degree ≥ k and restricts both endpoints to them.
    *
    * Generations are stored UNDIRECTED (|E| rows instead of both
    * orientations' 2|E|): the per-round degree agg derives the node
    * stream by exploding both endpoints BEFORE the map-side partial agg —
    * a generator inside the same stage, no new exchange — so keep sets
    * and the peel curve are value-identical while the restriction joins
    * and every per-round cache touch half the rows.
    *
    * Generation storage is SIZE-BRANCHED (measured at sf0.1/sf1/sf10 and
    * the ×100 fixture): per-round localCheckpoint (deserialized row cache,
    * async ContextCleaner release) is the fast shape at fixture scales,
    * but at ×100 ~5 live generations × 240M rows overflowed the heap and
    * the loop went eviction/GC-bound (522–756 s reps, executor heartbeat
    * timeouts). Past `T.bigRunEdgeThreshold` (calibrated in DIRECTED
    * edges, hence the 2×) the loop switches to columnar-compressed
    * persist (~4× smaller) with PROMPT unpersist of the previous
    * generation — at most two generations live — 68.8 s at ×100 (7.6×
    * faster). The persist chain costs ~3× at sf0.1 (per-round cached-plan
    * overhead dominates small data), hence the branch instead of one
    * strategy. Measured dead end: pre-partitioning the edge list on src
    * (exchange-free degree aggs) cost 2.3×/2.9× at sf0.1/sf1.
    *
    * The keep set is NODE-sized (exactly 16 bytes/row, counted for the
    * audit anyway): under `T.broadcastExact`'s known-size cap both
    * restriction joins broadcast it and the edge list never shuffles
    * in-round; past the cap they are unhinted shuffle joins. (A
    * session-budget gate un-broadcast a 32 MB keep set at 2M nodes and
    * pushed 8 edge-list shuffles per run.) */
  private[graft] def peelUndirected(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    val s = und.sparkSession
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var cur = und.select("pa", "pb").localCheckpoint(false)
    val bigRun = 2L * cur.count() > graft.T.bigRunEdgeThreshold(s)
    val audit = Seq.newBuilder[(Int, Long, Long)]
    for (r <- 1 to rounds) {
      val keep0 = cur
        .select(explode(array(col("pa"), col("pb"))).as("node"))
        .groupBy("node")
        .agg(count(lit(1)).as("dg")).filter(col("dg") >= k)
        .select("node")
      // lazy checkpoint: nKeep's count materializes + caches it in the
      // same job, not a separate caching job per round
      val keep = if (bigRun) keep0.persist(mad) else keep0.localCheckpoint(false)
      val nKeep = keep.count()
      val maybeB: DataFrame => DataFrame =
        if (graft.T.broadcastExact(s, 16L * nKeep)) broadcast
        else identity
      val next0 = cur.join(maybeB(keep.withColumnRenamed("node", "pa")), "pa")
        .join(maybeB(keep.withColumnRenamed("node", "pb")), "pb")
        .select("pa", "pb")
      if (bigRun) {
        val next = next0.persist(mad)
        val nEdges = next.count() // materializes next; prior gen now free
        // blocking=false; Dataset.unpersist never cascades
        cur.unpersist(false)
        keep.unpersist(false)
        cur = next
        audit += ((r, nKeep, nEdges))
      } else {
        cur = next0.localCheckpoint(false) // the audit count materializes it
        audit += ((r, nKeep, cur.count()))
      }
    }
    if (bigRun) cur.unpersist(false)
    import s.implicits._
    audit.result().toDF("round", "n_nodes", "n_edges")
  }

  /** KMV (k-minimum-values) distinct-count sketch over any column, using
    * the engine-portable `poly_hash`: estimate = (k−1)·M div h₍ₖ₎ as PURE
    * integer division — deterministic on any engine/partitioning. The
    * per-partition k-smallest sets merge through a TakeOrdered, which is
    * exactly the sketch's mergeable state. Returns (kth_hash, est_kmv).
    * Relative σ ≈ 1/√(k−2). */
  def kmvDistinct(df: DataFrame, colName: String, k: Int = 64): DataFrame = {
    val m = 2305843009213693951L // poly_hash modulus, 2⁶¹ − 1
    df.select(col(colName)).distinct()
      .select(call_function("poly_hash", col(colName).cast("string")).as("hv"))
      .orderBy("hv").limit(k)
      .agg(max(col("hv")).as("kth_hash"), count(lit(1)).as("_k"))
      .select(col("kth_hash"),
        expr(s"(cast(_k - 1 as decimal(38,0)) * ${m}L) div kth_hash")
          .as("est_kmv"))
  }

  /** Trailing-window exact distinct per day: each (key, day) fact is
    * replicated to the ≤ `windowDays` window-end days it can serve — a
    * constant fan-out instead of a per-day rescan — then one
    * count-distinct keyed by day. */
  def slidingDistinct(events: DataFrame, keyCol: String, tsCol: String,
                      windowDays: Int = 7): DataFrame = {
    val act = events.select(col(keyCol).as("_k"), to_date(col(tsCol)).as("_d")).distinct()
    val span = act.agg(max(col("_d")).as("_d1"))
    act.crossJoin(broadcast(span))
      .select(col("_k"), explode(sequence(lit(0), lit(windowDays - 1))).as("_o"),
        col("_d"), col("_d1"))
      .withColumn("day_end", date_add(col("_d"), col("_o")))
      .filter(col("day_end") <= col("_d1"))
      .groupBy("day_end")
      .agg(countDistinct(col("_k")).as(s"distinct_${windowDays}d"))
  }

  /** Sliding-window token chunking (RAG/embedding prep): each document's
    * whitespace token stream cut into windows of `chunkSize` tokens
    * advancing by `stride` (overlap = chunkSize − stride). Returns
    * (idCol, chunk_idx, n_tok, toks) — `toks` is the chunk's token array,
    * n_tok its length (= chunkSize except the tail). Pure per-row
    * generator: one scan-shaped map stage, no shuffle, parallel with the
    * input splits at any scale. */
  def chunkSliding(df: DataFrame, idCol: String, textCol: String,
                   chunkSize: Int = 64, stride: Int = 48): DataFrame =
    df.select(col(idCol), split(col(textCol), " ").as("_t"))
      .withColumn("_n", size(col("_t")))
      .select(col(idCol), col("_t"), col("_n"),
        posexplode(sequence(lit(0), col("_n") - 1, lit(stride)))
          .as(Seq("chunk_idx", "_st")))
      .select(col(idCol), col("chunk_idx").cast(LongType).as("chunk_idx"),
        least(col("_n") - col("_st"), lit(chunkSize)).cast(LongType)
          .as("n_tok"),
        slice(col("_t"), col("_st") + 1, lit(chunkSize)).as("toks"))

  /** Deterministic train/valid/test assignment: the engine-portable
    * polynomial hash of the id (NOT rand()) mod 100 gates each row, so the
    * split is reproducible across engines, partitionings and reruns — the
    * property that makes a dataset split auditable. Requires the graft
    * `poly_hash` function in the session (GraftExtensions or
    * GraftFunctions.register). Stateless scan-level expression. */
  def datasetSplit(df: DataFrame, idCol: String,
                   trainPct: Int = 80, validPct: Int = 10): DataFrame =
    df.withColumn("_bucket",
        call_function("poly_hash", col(idCol).cast(StringType)) % 100L)
      .withColumn("split",
        when(col("_bucket") < trainPct, "train")
          .when(col("_bucket") < trainPct + validPct, "valid")
          .otherwise("test"))
      .drop("_bucket")

  /** Benchmark decontamination: flag corpus docs sharing any n-token
    * shingle with an eval/benchmark set; returns (doc_id,
    * n_eval_overlap = distinct eval docs hit). The eval side is
    * benchmark-sized by assumption and BROADCASTs, so the corpus side is
    * one scan + generator — 100 TB of corpus streams past a few MB of
    * eval shingles with no shuffle of the big side. */
  def decontaminate(corpus: DataFrame, eval: DataFrame,
                    idCol: String, textCol: String, n: Int = 5): DataFrame = {
    def sh(df: DataFrame, outId: String): DataFrame = df
      .select(col(idCol).as(outId), split(col(textCol), " ").as("_t"))
      .where(size(col("_t")) >= n)
      .select(col(outId), explode(shingleArray(col("_t"), n)).as("sh"))
      .distinct()
    sh(corpus, "doc_id").join(broadcast(sh(eval, "eval_id")), "sh")
      .groupBy("doc_id")
      .agg(countDistinct(col("eval_id")).as("n_eval_overlap"))
  }
}
