package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-pipeline extensions beyond SURVEY.md §2 (driver mandate,
  * BASELINE.json "dedup, similarity search, multimodal columns, text
  * analysis"): the operations a 100 TB training-data pipeline needs.
  * Everything stays a shuffle-on-key DataFrame plan — band/bucket joins for
  * candidate generation, no driver-side loops.
  */
object GroupPipeline {

  private def dot = GroupVector.dot _

  /** Exact 3-shingle Jaccard ≥ threshold pairs (ia < ib) over the staged
    * shingle inverted index — the ground truth shared by dedup_ngram_jaccard
    * and the connected-components clustering. */
  /** Hot-shingle document-frequency ceiling shared by the inverted-index
    * dedup family (exact Jaccard, weighted Jaccard, containment). */
  private[graft] val dfCap = 10000

  /** The df≥2 shingle inverted index (doc_id, sh, df, shid) staged once
    * per (JVM, sf) — the artifact the dedup family scans repeatedly
    * (prefix build + a-side verify + b-side verify): without the
    * materialization each reuse re-executed the df aggregation and the
    * index join (the 23-scan/14-window plan the r15 forensics found).
    * At 100 TB this is a persisted table next to the shingle index.
    * r16: the artifact keeps EVERY df≥2 shingle (df=1 rows can never
    * contribute to a common count, so dropping them is exact for ALL
    * consumers); the dfCap hot-shingle ceiling moved to the consumers
    * whose oracles apply it in lockstep (`.filter(df <= dfCap)` — a
    * parquet pushdown on the staged scan), so exact-verify consumers
    * (near_minhash, incremental_batch) can ride the same long
    * surrogate without inheriting the cap's similarity bias. */
  private[graft] def shingleDfRows(s: SparkSession, dir: String): DataFrame = {
    val stage = T.staged("shingle_df", dir) { o =>
      val sh = GroupText.shingleRows(s, dir)
      val kept = sh.join(sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2), "sh")
      // shid: a dense surrogate id per distinct kept shingle. The verify
      // stage intersects per-doc shingle SETS; |A∩B| is invariant under
      // any injective relabeling, and long arrays shuffle ~3× smaller
      // than 3-token string arrays with no per-element object churn (the
      // r15 sf1 forensics: string-array rows through the candidate-join
      // exchange were the GC term). monotonically_increasing_id is
      // assigned once at staging time, so every consumer sees one
      // consistent labeling.
      val dict = kept.select("sh").distinct()
        .withColumn("shid", monotonically_increasing_id())
      kept.join(dict, "sh").write.mode("overwrite").parquet(o)
    }
    T.parquet(s, stage)
  }

  /** Per-doc FULL distinct-shingle counts (the similarity denominators —
    * they count df-dropped shingles too), staged with the index. */
  private[graft] def shingleSizes(s: SparkSession, dir: String): DataFrame = {
    val stage = T.staged("shingle_sizes", dir) { o =>
      GroupText.shingleRows(s, dir)
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(o)
    }
    T.parquet(s, stage)
  }

  private[ops] def exactJaccardPairs(s: SparkSession, dir: String,
                                     threshold: Double): DataFrame = {
    val sizes = shingleSizes(s, dir)
    // df pruning, both ends (VERDICT r6 #6):
    // - df ≥ 2: a shingle in exactly one document can never contribute to a
    //   common count; in a real corpus MOST shingles are unique, so this
    //   shrinks the self-join input by an order of magnitude with a provably
    //   identical result (sizes still count ALL shingles).
    // - df ≤ dfCap (10⁴): the hot-shingle ceiling. A viral shingle with
    //   df = 10⁶ alone generates ~10¹² candidate pairs in the index
    //   self-join — the classic blowup that stalls the stage at 100 TB.
    //   Dropping it bounds per-shingle join fan-out at dfCap². The cost is
    //   a DOWNWARD similarity bias, not just lost fully-viral pairs: every
    //   capped shingle in a pair's overlap reduces the common count c while
    //   `sizes` still counts all shingles, so any pair whose overlap
    //   TOUCHES a hot shingle reports an underestimated jac/wjac/
    //   containment, and a near-threshold pair can drop below the cut —
    //   the same recall-vs-bound trade banding makes in
    //   Pipelines.cosinePairsLSH.
    //   (Fixture max df is 25, so the cap never binds at test scale; the
    //   oracle applies the identical BETWEEN bound in lockstep.)
    // The df agg shuffles on the same key as the self-join, so it adds no
    // new partitioning.
    // SSJoin-style prefix filtering was TRIED here and measured OUT
    // (r15, VERDICT r14 #5): it cuts the pair stream Σ C(df,2) ~10×
    // (1.27 M → 122 k at sf0.1), but this corpus's co-sharing is
    // dominated by single-rare-shingle overlaps between DISSIMILAR docs,
    // so ~119 k candidates survive per 25 true pairs and the exact
    // per-candidate verification (O(kA+kB) each, however implemented —
    // replication joins 6.3 s, long-array intersects still 2-3× this
    // plan) costs more than the count-only stream it replaced at EVERY
    // scale (sf0.1/sf1/sf10 = 2-3× slower; BASELINE.md has the record).
    // The library keeps the
    // machinery behind Pipelines.nearDupPairs(prefixFilter = true) for
    // near-dup-dense corpora where candidates ≈ true pairs.
    // Self-join on the staged dense LONG surrogate (shid), not the 3-token
    // shingle string: |A∩B| is invariant under the injective relabeling and
    // the candidate-join exchange ships 8-byte longs instead of ~30-byte
    // strings (guide §2.3 narrower types; the r15 sf1 forensics already
    // named string rows through this exchange as the GC term).
    val shJ = shingleDfRows(s, dir)
      .filter(col("df") <= dfCap).select("doc_id", "shid")
    val common = shJ.select(col("doc_id").as("ia"), col("shid"))
      .join(shJ.select(col("doc_id").as("ib"), col("shid").as("shid2")),
        col("shid") === col("shid2") && col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col("doc_id").as("ia"), col("n").as("na")), "ia")
      .join(sizes.select(col("doc_id").as("ib"), col("n").as("nb")), "ib")
      .withColumn("jac", col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= threshold)
  }

  /** SimHash near-dup pairs (ia, ib, hamming): 60-bit portable-poly_hash
    * SimHash, banded 4×15 for candidates, verified at Hamming ≤ 8. Shared
    * between `dedup_simhash` (which reports the pairs) and
    * `dedup_simhash_recall_audit` (GroupTen — which grades them against the
    * exact-Jaccard ground truth). */
  private[ops] def simhashNearPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val toks = T.t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", call_function("poly_hash", col("tok")))
    val bitSums = (0 until 60).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$b")
    }
    val sim = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash",
        (0 until 60).map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _))
      .select("doc_id", "simhash")
    val banded = sim.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("simhash"), i * 15).bitwiseAND(lit(0x7FFFL))): _*))
        .as(Seq("band_pos", "band_val")))
    val a = banded.select(col("doc_id").as("ia"), col("simhash").as("sa"),
      col("band_pos"), col("band_val"))
    val b = banded.select(col("doc_id").as("ib"), col("simhash").as("sb"),
      col("band_pos").as("bp2"), col("band_val").as("bv2"))
    // hamming is a pure function of (ia, ib): evaluating the ≤8 verify
    // BELOW the candidate-distinct is result-identical and sends only
    // surviving (ia, ib, hamming) rows through the dedup exchange instead
    // of every banded collision with both 8-byte signatures attached
    // (guide §2.3 — filter before the exchange, ship narrower rows)
    a.join(b, col("band_pos") === col("bp2") && col("band_val") === col("bv2")
        && col("ia") < col("ib"))
      .withColumn("hamming", expr("cast(bit_count(sa ^ sb) as int)"))
      .filter(col("hamming") <= 8)
      .select("ia", "ib", "hamming")
      .dropDuplicates("ia", "ib")
  }

  /** The DuckDB CTE stack producing the same simhash pair set — shared text
    * between the two oracles (keeps the audit oracle in lockstep with the
    * graded key's). Yields relation `scand(ia, ib, hamming)`. */
  private[ops] val simhashOracleCtes: String =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |th AS (
      |  SELECT doc_id, (list_reduce(
      |    list_concat([CAST(0 AS HUGEINT)],
      |      list_transform(range(length(tok)),
      |        i -> CAST(ascii(substr(tok, CAST(i+1 AS INT), 1)) AS HUGEINT))),
      |    (h, c) -> (h * 257 + c) % CAST(2305843009213693951 AS HUGEINT)
      |  ) * CAST(1181783497276652981 AS HUGEINT) + 1)
      |    % CAST(2305843009213693951 AS HUGEINT) AS hv
      |  FROM toks),
      |votes AS (
      |  SELECT doc_id, b,
      |    sum(CASE WHEN (hv >> CAST(b AS INT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, range(60) t(b) GROUP BY 1, 2),
      |sim AS (
      |  SELECT doc_id, CAST(sum(CASE WHEN v > 0
      |      THEN (CAST(1 AS HUGEINT) << CAST(b AS INT))
      |      ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY 1),
      |banded AS (
      |  SELECT doc_id, simhash, p,
      |    CAST((simhash >> CAST(p*15 AS INT)) % 32768 AS INT) AS bv
      |  FROM sim, range(4) t(p)),
      |scandp AS (
      |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib,
      |    a.simhash AS sa, b.simhash AS sb
      |  FROM banded a JOIN banded b
      |    ON a.p = b.p AND a.bv = b.bv AND a.doc_id < b.doc_id),
      |scand AS (
      |  SELECT ia, ib, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
      |  FROM scandp WHERE bit_count(xor(sa, sb)) <= 8)""".stripMargin

  val defs: Seq[Q] = Seq(
    // 60-bit SimHash over the token multiset (engine-portable poly_hash per
    // token — Rabin-Karp fold + multiplicative finalizer, graft.functions
    // .PolyTokenHash — signed bit votes), banded 4×15 for candidate
    // generation, verified by Hamming distance ≤ 8. The portable hash is
    // what earns the full DuckDB oracle (promoted from rows-only in round
    // 6): DuckDB folds the same arithmetic with HUGEINT intermediates.
    q("dedup_simhash",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |th AS (
        |  SELECT doc_id, (list_reduce(
        |    list_concat([CAST(0 AS HUGEINT)],
        |      list_transform(range(length(tok)),
        |        i -> CAST(ascii(substr(tok, CAST(i+1 AS INT), 1)) AS HUGEINT))),
        |    (h, c) -> (h * 257 + c) % CAST(2305843009213693951 AS HUGEINT)
        |  ) * CAST(1181783497276652981 AS HUGEINT) + 1)
        |    % CAST(2305843009213693951 AS HUGEINT) AS hv
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (hv >> CAST(b AS INT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, range(60) t(b) GROUP BY 1, 2),
        |sim AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN v > 0
        |      THEN (CAST(1 AS HUGEINT) << CAST(b AS INT))
        |      ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY 1),
        |banded AS (
        |  SELECT doc_id, simhash, p,
        |    CAST((simhash >> CAST(p*15 AS INT)) % 32768 AS INT) AS bv
        |  FROM sim, range(4) t(p)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib,
        |    a.simhash AS sa, b.simhash AS sb
        |  FROM banded a JOIN banded b
        |    ON a.p = b.p AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT ia, ib, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 8 ORDER BY ia, ib""") { (s, dir) =>
      simhashNearPairs(s, dir).orderBy("ia", "ib")
    },

    // Exact n-gram (3-token shingle) Jaccard near-dup pairs via inverted-
    // index join — the brute-force ground truth MinHash approximates.
    q("dedup_ngram_jaccard",
      """WITH dd AS (SELECT doc_id, string_split(text,' ') AS arr FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(arr)-2), i -> arr[i+1]||' '||arr[i+2]||' '||arr[i+3])) AS sh
        |  FROM dd),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) BETWEEN 2 AND 10000),
        |common AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN keep ON a.sh = keep.sh
        |  JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1,2),
        |j AS (SELECT ia, ib, CAST(c AS DOUBLE)/(sa.n + sb.n - c) AS jac
        |  FROM common JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib)
        |SELECT ia, ib, round(jac, 6) AS jac FROM j WHERE jac >= 0.8 ORDER BY ia, ib""") { (s, dir) =>
      // materialize the shingle inverted index once (shared with minhash
      // and the components clustering) — at 100 TB this staging table is
      // the real design
      exactJaccardPairs(s, dir, 0.8)
        .select(col("ia"), col("ib"), round(col("jac"), 6).as("jac"))
        .orderBy("ia", "ib")
    },

    // Near-dup CLUSTERING: connected components over the exact-Jaccard pair
    // graph via min-label propagation INTERLEAVED WITH POINTER JUMPING
    // (label ← label-of-label), so label reach doubles per round —
    // O(log diameter) rounds, diameter-INDEPENDENT. A 100 TB scraped corpus
    // produces long near-dup chains; the former plain propagation needed
    // O(diameter) rounds and refused past its cap. Each round is two
    // node-sized shuffle joins + a min-agg, lineage truncated per step, and
    // the driver only sees the changed-label count.
    q("dedup_cluster_components",
      """WITH RECURSIVE dd AS (SELECT doc_id, string_split(text,' ') AS arr FROM documents),
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
        |nodes AS (SELECT DISTINCT x AS id FROM (
        |  SELECT ia AS x FROM pairs UNION SELECT ib FROM pairs)),
        |edges AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
        |reach(a, b) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, min(b) AS cluster_rep FROM reach
        |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val pairs = exactJaccardPairs(s, dir, 0.8).select("ia", "ib")
      // pointer-doubling CC (api.Pipelines): O(log diameter) rounds, fails
      // loudly if the round budget is ever exceeded rather than returning
      // partially-propagated labels
      graft.api.Pipelines.clusterComponents(pairs).orderBy("doc_id")
    },

    // Quality-filter pipeline audit: per source, how many docs survive the
    // keep rule (>= 50 tokens AND stopword ratio <= 0.2) — the
    // retention-rate report every corpus-cleaning pass produces.
    q("text_filter_pipeline",
      """WITH m AS (SELECT doc_id, source,
        |    len(string_split(text,' ')) AS nt,
        |    len(list_filter(string_split(text,' '), t -> t = 'a' OR t = 'the')) AS nstop
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(SUM(CASE WHEN nt >= 50 AND nstop*1.0/nt <= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN nt >= 50 AND nstop*1.0/nt <= 0.2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS keep_rate
        |FROM m GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      T.t(s, dir, "documents")
        .withColumn("arr", split(col("text"), " "))
        .select(col("source"), size(col("arr")).as("nt"),
          expr("size(filter(arr, t -> t = 'a' OR t = 'the'))").as("nstop"))
        .withColumn("keep",
          (col("nt") >= 50 && col("nstop") * 1.0 / col("nt") <= 0.2).cast(IntegerType))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep")).cast(LongType).as("n_kept"),
          (sum(col("keep")).cast(DoubleType) / count(lit(1))).as("keep_rate"))
        .orderBy("source")
    },

    // Embedding-cosine near-dup AUDIT over a deterministic CAPPED-ABSOLUTE
    // probe panel: for each panel document, its exact near-dup count at
    // τ = 0.45 and the single strongest duplicate (sim DESC, dup_id ASC)
    // against the WHOLE corpus — the dup-rate QA report a dedup pass
    // publishes. The panel modulus is DERIVED FROM THE CORPUS COUNT
    // (md = max(10, ceil(n/200)), in-plan — no driver action), so the
    // panel is ~200 rows at ANY scale and panel × corpus is LINEAR in the
    // corpus (the ml_knn_loocv shape; measured 2.13× at ×10 data). The
    // r6–r12 banded-LSH form was exact too but super-linear BY STRUCTURE
    // at this low threshold: band-collision noise ≈ n²·p_rand, and
    // holding the 1e-5 recall guarantee forces bands ∝ p^-r — the knob
    // does not turn at τ = 0.45 (measured 21× wall at ×10 data, r12).
    // That LSH path stays in the library (Pipelines.cosinePairsLSH,
    // recall-pinned in DedupSpec) and stays graded where the geometry
    // separates (similarity_join_lsh); low-threshold FULL-corpus dedup
    // routes through the staged IVF index (vector_recall_at_k's
    // measured-recall contract). The panel BROADCASTS by construction
    // (≤ ~200 vectors); the corpus side streams through one codegen'd
    // vec_dot pass — no shuffle at all on the big side.
    q("dedup_embedding_cosine",
      """WITH m AS (SELECT GREATEST(10, (count(*) + 199) // 200) AS md
        |  FROM embeddings),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |q AS (SELECT vec_id AS probe_id, e AS qe FROM v, m WHERE vec_id % md = 0),
        |p AS (SELECT probe_id, vec_id AS dup_id,
        |    round(list_dot_product(qe, e), 6) AS sim
        |  FROM q JOIN v ON vec_id <> probe_id),
        |h AS (SELECT * FROM p WHERE sim >= 0.45),
        |b AS (SELECT probe_id, dup_id, sim FROM (
        |    SELECT *, row_number() OVER (PARTITION BY probe_id
        |      ORDER BY sim DESC, dup_id) AS rn FROM h) WHERE rn = 1),
        |c AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS nd FROM h GROUP BY 1)
        |SELECT q.probe_id, CAST(coalesce(c.nd, 0) AS BIGINT) AS n_dups,
        |  b.dup_id AS top_dup_id, b.sim AS top_sim
        |FROM q LEFT JOIN c ON c.probe_id = q.probe_id
        |LEFT JOIN b ON b.probe_id = q.probe_id
        |ORDER BY q.probe_id""") { (s, dir) =>
      val e = GroupVector.emb(s, dir)
      val md = e.agg(count(lit(1)).as("nrows"))
        .select(greatest(lit(10L), expr("(nrows + 199) div 200")).as("md"))
      val panel = e.crossJoin(broadcast(md))
        .filter(col("vec_id") % col("md") === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("qe"))
      // corpus × broadcast(panel): every probe meets every row (self pairs
      // score hit=0 via the <> guard), so zero-dup probes survive the agg
      e.crossJoin(broadcast(panel))
        .withColumn("sim", when(col("vec_id") =!= col("probe_id"),
          round(call_function("vec_dot", col("qe"), col("embedding")), 6)))
        .withColumn("hit", (col("sim") >= 0.45).cast(IntegerType))
        .groupBy("probe_id")
        .agg(coalesce(sum(col("hit")), lit(0)).cast(LongType).as("n_dups"),
          // best dup by (sim DESC, dup_id ASC) as one struct-max: negate
          // the id so max() breaks sim ties toward the LOWEST dup_id
          max(when(col("hit") === 1,
            struct(col("sim"), (-col("vec_id")).as("nid")))).as("bst"))
        .select(col("probe_id"), col("n_dups"),
          (-col("bst.nid")).as("top_dup_id"), col("bst.sim").as("top_sim"))
        .orderBy("probe_id")
    },

    // Language-ID by n-gram (unigram) frequency affinity, self-trained on the
    // corpus: predicted = argmax over langs of Σ tf(lang, tok). Pure integer
    // arithmetic ⇒ exact cross-engine parity. Output is the confusion matrix.
    q("text_langid",
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents),
        |tf AS (SELECT tok, lang AS model_lang, count(*) AS cnt FROM toks GROUP BY 1,2),
        |sc AS (SELECT t.doc_id, t.lang, f.model_lang, CAST(SUM(f.cnt) AS BIGINT) AS s
        |  FROM toks t JOIN tf f ON t.tok = f.tok GROUP BY 1,2,3),
        |p AS (SELECT doc_id, lang, model_lang AS predicted FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, model_lang) AS rn FROM sc)
        |  WHERE rn = 1)
        |SELECT lang, predicted, count(*) AS n_docs FROM p GROUP BY 1,2 ORDER BY 1,2""") { (s, dir) =>
      val toks = T.t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      val tf = toks.groupBy(col("tok"), col("lang").as("model_lang"))
        .agg(count(lit(1)).as("cnt"))
      // tf is the corpus VOCABULARY — sub-linear by Heaps' law but unbounded
      // at a true 100 TB corpus, so a forced broadcast(tf) hint is a latent
      // driver OOM (VERDICT r13 #5). No hint: AQE sizes tf from its
      // MEASURED shuffle bytes at runtime — under the threshold it converts
      // to a broadcast join (PlanShapeSpec pin), over it the join shuffles
      // on tok and the plan survives any vocabulary. A driver-side counted
      // gate (the T.broadcastExact treatment) would cost a second full pass
      // over the token aggregate; AQE's runtime stats are free and exact.
      toks.join(tf, "tok")
        .groupBy("doc_id", "lang", "model_lang")
        .agg(sum(col("cnt")).cast(LongType).as("s"))
        .withColumn("rn",
          row_number().over(Window.partitionBy("doc_id").orderBy(col("s").desc, col("model_lang"))))
        .filter(col("rn") === 1)
        .groupBy(col("lang"), col("model_lang").as("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "predicted")
    },

    // Quality scoring: type-token ratio, stopword ratio, avg token length
    // (all from exact integer counts; text is single-space-joined ASCII).
    q("text_quality_score",
      """WITH b AS (SELECT doc_id, n_chars, string_split(text,' ') AS arr FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(arr) AS INT) AS nt,
        |    CAST(len(list_distinct(arr)) AS INT) AS nd,
        |    CAST(len(list_filter(arr, t -> t = 'a' OR t = 'the')) AS INT) AS nstop,
        |    n_chars FROM b)
        |SELECT doc_id, nt,
        |  CAST(nd AS DOUBLE)/nt AS ttr,
        |  CAST(nstop AS DOUBLE)/nt AS stop_ratio,
        |  (CAST(nd AS DOUBLE)/nt)*0.5 + (1.0 - CAST(nstop AS DOUBLE)/nt)*0.3
        |    + least((CAST(n_chars - (nt-1) AS DOUBLE)/nt)/10.0, 1.0)*0.2 AS score
        |FROM m ORDER BY doc_id""") { (s, dir) =>
      val m = T.t(s, dir, "documents")
        .withColumn("arr", split(col("text"), " "))
        .select(
          col("doc_id"),
          col("n_chars"),
          size(col("arr")).as("nt"),
          size(array_distinct(col("arr"))).as("nd"),
          expr("size(filter(arr, t -> t = 'a' OR t = 'the'))").as("nstop"))
      // no 6dp rounding here: every input is an exact integer ratio and the
      // expression is the same IEEE op sequence in both engines, so raw
      // doubles are bit-identical — while scores built from x/64 rationals
      // CAN land exactly on 6dp midpoints, where Spark's BigDecimal round
      // and DuckDB's x*1e6 double-rounding disagree (seen at sf0.1)
      m.select(
          col("doc_id"), col("nt"),
          (col("nd").cast(DoubleType) / col("nt")).as("ttr"),
          (col("nstop").cast(DoubleType) / col("nt")).as("stop_ratio"),
          ((col("nd").cast(DoubleType) / col("nt")) * 0.5
            + (lit(1.0) - col("nstop").cast(DoubleType) / col("nt")) * 0.3
            + least((((col("n_chars") - (col("nt") - 1)).cast(DoubleType) / col("nt")) / 10.0), lit(1.0)) * 0.2)
            .as("score"))
        .orderBy("doc_id")
    },

    // Token counting: whitespace split vs a BPE-ish regex tokenizer.
    q("text_token_count",
      """SELECT source, count(*) AS n_docs,
        |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS re_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      T.t(s, dir, "documents")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast(LongType).as("ws_tokens"),
          sum(size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))).cast(LongType)
            .as("re_tokens"))
        .orderBy("source")
    },

    // Content fingerprinting: md5 digest groups (standard MD5 hex in both
    // engines). At sf0.1 the 8 planted duplicate texts share fingerprints.
    sqlKey("text_fingerprint",
      """SELECT md5(text) AS fp, count(*) AS n_docs, min(doc_id) AS min_doc
        |FROM documents GROUP BY 1 ORDER BY 1"""),

    // Multimodal plumbing: text bytes stand in for an opaque binary payload
    // (image/audio libs absent in this container — SURVEY/driver mandate says
    // stub the decode). The mapPartitions iterator IS the real batch-decode
    // shape; the fake decode is a deterministic function of payload length,
    // which the oracle recomputes from n_chars (ASCII ⇒ bytes == chars).
    q("multimodal_meta",
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_bytes,
        |  CAST(64 + (n_chars % 64) AS INT) AS width,
        |  CAST(64 + ((n_chars * 7) % 64) AS INT) AS height,
        |  CAST(1 + (n_chars % 5) AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      T.t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, payload) =>
            // stubbed decode: deterministic pseudo-metadata from the payload
            val n = payload.length
            (id, n.toLong, 64 + (n % 64), 64 + ((n * 7) % 64), 1 + (n % 5))
          }
        }
        .toDF("doc_id", "n_bytes", "width", "height", "n_frames")
        .orderBy("doc_id")
    },

    // Frame sampling over the opaque binary payload: split into fixed-size
    // frames, one row per sampled frame (every 2nd), with per-frame digest.
    // mapPartitions carries the (stubbed) decode; the oracle recomputes
    // frames from the ASCII text (bytes == chars).
    q("multimodal_frames",
      """WITH e AS (SELECT doc_id, text,
        |    unnest(range(CAST(ceil(length(text) / 256.0) AS BIGINT))) AS i
        |  FROM documents),
        |f AS (SELECT doc_id, CAST(i AS INT) AS frame_no,
        |    substr(text, CAST(i * 256 + 1 AS INT), 256) AS frame
        |  FROM e WHERE i % 2 = 0)
        |SELECT doc_id, frame_no, CAST(length(frame) AS INT) AS frame_len,
        |  md5(frame) AS frame_md5
        |FROM f ORDER BY doc_id, frame_no""") { (s, dir) =>
      import s.implicits._
      T.t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.flatMap { case (id, payload) =>
            // stubbed frame decode: fixed 256-byte frames, sample every 2nd
            payload.grouped(256).zipWithIndex.collect {
              case (frame, i) if i % 2 == 0 =>
                val md5 = java.security.MessageDigest.getInstance("MD5")
                  .digest(frame).map("%02x".format(_)).mkString
                (id, i, frame.length, md5)
            }
          }
        }
        .toDF("doc_id", "frame_no", "frame_len", "frame_md5")
        .orderBy("doc_id", "frame_no")
    },

    // Audio-shaped multimodal plumbing: OVERLAPPING frame windows (512-byte
    // frames, 256-byte hop — the STFT/mel-spectrogram batch shape), with a
    // stubbed per-frame feature (byte-sum "energy"; audio libs absent in
    // this container, same stub mandate as multimodal_meta). mapPartitions
    // carries the decode; the oracle recomputes windows via substr on the
    // ASCII stand-in payload.
    q("multimodal_audio_windows",
      """WITH e AS (SELECT doc_id, text,
        |    unnest(range(CAST(floor((length(text) - 1) / 256.0) AS BIGINT) + 1)) AS i
        |  FROM documents),
        |f AS (SELECT doc_id, CAST(i AS INT) AS win_no,
        |    substr(text, CAST(i * 256 + 1 AS INT), 512) AS win
        |  FROM e),
        |s AS (SELECT doc_id, win_no, CAST(length(win) AS INT) AS win_len,
        |    CAST(list_sum(list_transform(range(length(win)),
        |      j -> ascii(substr(win, CAST(j+1 AS INT), 1)))) AS BIGINT) AS energy
        |  FROM f)
        |SELECT doc_id, win_no, win_len, energy FROM s
        |ORDER BY doc_id, win_no""") { (s, dir) =>
      import s.implicits._
      T.t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.flatMap { case (id, payload) =>
            // stubbed window decode: 512-byte frames at 256-byte hop;
            // "energy" = byte sum (ASCII stand-in, bytes are positive)
            val n = payload.length
            val starts = 0 until n by 256
            starts.zipWithIndex.map { case (off, w) =>
              val len = math.min(512, n - off)
              var e = 0L
              var j = off
              while (j < off + len) { e += payload(j); j += 1 }
              (id, w, len, e)
            }
          }
        }
        .toDF("doc_id", "win_no", "win_len", "energy")
        .orderBy("doc_id", "win_no")
    },

    // Rolling-hash (Rabin-Karp polynomial, base 257 mod 2^61-1) document
    // fingerprint — the incremental-hash shape used for content-defined
    // chunking/winnowing. The arithmetic is plain modular integer math, so
    // DuckDB CAN reproduce it bit-for-bit with HUGEINT intermediates and a
    // list_reduce fold over the character codes (promoted from rows-only to
    // full oracle in round 3; also property-tested in DedupSpec).
    q("text_rolling_fingerprint",
      """SELECT doc_id,
        |  CAST(list_reduce(
        |    list_concat([CAST(0 AS HUGEINT)],
        |      list_transform(range(length(text)),
        |        i -> CAST(ascii(substr(text, CAST(i+1 AS INT), 1)) AS HUGEINT))),
        |    (h, c) -> (h * 257 + c) % CAST(2305843009213693951 AS HUGEINT)
        |  ) AS BIGINT) AS fingerprint
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      val mod = (1L << 61) - 1
      T.t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            var h = 0L
            var i = 0
            while (i < text.length) {
              // h = (h * 257 + c) mod 2^61-1, via Math.multiplyHigh-free
              // path: 2^61-1 is Mersenne, so fold the high bits
              val prod = java.math.BigInteger.valueOf(h)
                .multiply(java.math.BigInteger.valueOf(257))
                .add(java.math.BigInteger.valueOf(text.charAt(i).toLong))
                .mod(java.math.BigInteger.valueOf(mod))
              h = prod.longValueExact()
              i += 1
            }
            (id, h)
          }
        }
        .toDF("doc_id", "fingerprint")
        .orderBy("doc_id")
    },

    // IVF-style ANN: 8 deterministic coarse centroids (vec_id < 8), each
    // candidate assigned to its nearest cell, queries probe nprobe=2 cells.
    // The 100 TB shape: candidates partitioned by cell, query fan-out joins
    // only the probed cells instead of the full corpus.
    q("vector_ivf_topk",
      """WITH cent AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent FROM embeddings WHERE vec_id < 8),
        |cand AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id >= 20),
        |assign AS (SELECT c_id, ce, cent_id AS cell FROM (
        |    SELECT c_id, ce, cent_id, row_number() OVER (
        |      PARTITION BY c_id ORDER BY round(list_dot_product(ce, cent), 6) DESC, cent_id) AS rn
        |    FROM cand CROSS JOIN cent) WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 20),
        |probe AS (SELECT q_id, qe, cent_id AS cell FROM (
        |    SELECT q_id, qe, cent_id, row_number() OVER (
        |      PARTITION BY q_id ORDER BY round(list_dot_product(qe, cent), 6) DESC, cent_id) AS rn
        |    FROM q CROSS JOIN cent) WHERE rn <= 2),
        |s AS (SELECT q_id, c_id, round(list_dot_product(qe, ce), 6) AS sim
        |  FROM probe JOIN assign USING (cell))
        |SELECT q_id, rnk, c_id, sim FROM (
        |  SELECT q_id, c_id, sim, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rnk FROM s)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val e = T.t(s, dir, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent"))
      // The IVF index — the corpus PARTITIONED BY its coarse cell — is a
      // persisted parquet artifact (round 6, the PQ-index pattern): staged
      // once per dataset, and because `cell` is the physical partition
      // column, a probe touching nprobe=2 cells opens only those
      // directories. At 100 TB this cell-partitioned layout IS the index.
      val idx = T.staged("ivf_index", dir) { o =>
        e.filter(col("vec_id") >= 20)
          .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
          .crossJoin(broadcast(cent))
          .withColumn("d", round(dot(col("ce"), col("cent")), 6))
          .withColumn("rn",
            row_number().over(Window.partitionBy("c_id").orderBy(col("d").desc, col("cent_id"))))
          .filter(col("rn") === 1)
          .select(col("c_id"), col("ce"), col("cent_id").as("cell"))
          .write.partitionBy("cell").parquet(s"$o/assign")
      }
      val assign = T.parquet(s, s"$idx/assign")
        .select(col("c_id"), col("ce"), col("cell").cast(LongType).as("cell"))
      val qs = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val probe = qs.crossJoin(broadcast(cent))
        .withColumn("d", round(dot(col("qe"), col("cent")), 6))
        .withColumn("rn",
          row_number().over(Window.partitionBy("q_id").orderBy(col("d").desc, col("cent_id"))))
        .filter(col("rn") <= 2)
        .select(col("q_id"), col("qe"), col("cent_id").as("cell"))
      probe.join(assign, "cell")
        .withColumn("sim", round(dot(col("qe"), col("ce")), 6))
        .withColumn("rnk",
          row_number().over(Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))))
        .filter(col("rnk") <= 5)
        .select("q_id", "rnk", "c_id", "sim")
        .orderBy("q_id", "rnk")
    }
  )
}
