package graft.ops

import graft.T
import graft.T.{Q, q, qNoOracle}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-H — text analysis / dedup (LLM-pipeline mandate).
  * Exact dedup is a hash group-by; near-dup is MinHash-LSH banding with an
  * exact-Jaccard verification of candidates (precision 1.0 by construction).
  * At 100 TB both stay shuffle-on-key DataFrame plans: shingle explode →
  * band bucket join, no driver-side state.
  */
object GroupText {

  /** distinct 3-token shingles per doc, as an array column `sh`. */
  private[ops] def shingled(s: SparkSession, dir: String): DataFrame =
    T.t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh",
        array_distinct(expr(
          "transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")))

  /** The materialized shingle inverted index (doc_id, sh) — staged to
    * parquet once per (JVM, sfDir) and shared by every shingle consumer
    * (ngram-jaccard self-join AND minhash), so repeated runs skip the
    * 5M-row string construction. At 100 TB this staging table is the
    * real design: shingle once, read columnar thereafter. */
  private[ops] def shingleRows(s: SparkSession, dir: String): DataFrame = {
    val stage = T.staged("shingle", dir) { o =>
      shingled(s, dir)
        .select(col("doc_id"), explode(col("sh")).as("sh"))
        .write.mode("overwrite").parquet(o) }
    T.parquet(s, stage)
  }

  val defs: Seq[Q] = Seq(
    q("text_stats_per_lang",
      """SELECT lang, count(*) AS n_docs,
        |  CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |  count(DISTINCT source) AS n_sources,
        |  CAST(SUM(len(string_split(text,' '))) AS DOUBLE) / count(*) AS avg_tokens,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      T.t(s, dir, "documents")
        .withColumn("n_toks", size(split(col("text"), " ")))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"),
          countDistinct(col("source")).as("n_sources"),
          (sum(col("n_toks")).cast(DoubleType) / count(lit(1))).as("avg_tokens"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang")
    },

    // Exact dedup: keep min doc_id per identical text. sf0.1 plants exactly
    // 8 duplicate texts (FIXTURES.md); sf0.01 has 0 → both metrics emitted so
    // the result is never empty.
    q("dedup_exact",
      """SELECT 'removed' AS metric, count(*) - count(DISTINCT text) AS value FROM documents
        |UNION ALL
        |SELECT 'survivors' AS metric, count(DISTINCT text) AS value FROM documents
        |ORDER BY metric""") { (s, dir) =>
      T.t(s, dir, "documents")
        .agg(count(lit(1)).as("n"), countDistinct(col("text")).as("survivors"))
        .selectExpr("stack(2, 'removed', n - survivors, 'survivors', survivors) AS (metric, value)")
        .orderBy("metric")
    },

    // MinHash-LSH near-dup: shingle → 64 minhashes → 16 bands of 4 →
    // band-bucket self-join → exact-Jaccard verification of candidates.
    // Banding with r=4/b=16 gives >99.9% recall at jac 0.8 (1-(1-s^4)^16);
    // precision is 1.0 by construction (candidates are exact-verified).
    // Hand-rolled (not ml.MinHashLSH): every stage is a shuffle-on-key
    // DataFrame op, which is the shape that survives 100 TB — and
    // approxSimilarityJoin degraded ~10x at high parallelism here.
    // Oracle (round 3): because candidates are exact-Jaccard-verified, the
    // output equals the brute-force pair set exactly when LSH recall = 1 —
    // which holds on the fixtures (checked at sf0.001/0.01/0.1; banding
    // r=4/b=16 gives ≥99.98% per-pair recall at jac 0.8, and the hashes are
    // deterministic). The oracle is the same exact inverted-index SQL as
    // dedup_ngram_jaccard; a recall miss would surface as a hash mismatch.
    q("dedup_near_minhash",
      """WITH dd AS (SELECT doc_id, string_split(text,' ') AS arr FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(arr)-2), i -> arr[i+1]||' '||arr[i+2]||' '||arr[i+3])) AS sh
        |  FROM dd),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |common AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1,2),
        |j AS (SELECT ia, ib, CAST(c AS DOUBLE)/(sa.n + sb.n - c) AS jac
        |  FROM common JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib)
        |SELECT ia, ib, round(jac, 6) AS jac FROM j WHERE jac >= 0.8 ORDER BY ia, ib""") { (s, dir) =>
      // double-hash family (Kirsch–Mitzenmacher shape, xor-rotation variant
      // to stay in overflow-free bitwise ops): two real hashes per shingle,
      // h_i = g1 XOR rotl(g2, i) — replaces 64 independent xxhash64 evals
      // per shingle (320M hash calls at sf0.1) with 64 codegen'd bitwise
      // derivations; the min-aggregation is map-side partial, so the shuffle
      // stays 5000 rows × 64 cols regardless of corpus size. Reads the
      // shared staged shingle index instead of re-deriving 5M shingle
      // strings from text on every invocation.
      // Scoped session: sort-free join fallback past the broadcast
      // threshold, same rationale as the cosine-LSH consumers
      // (Pipelines.cosinePairsLSH's ×100-probe note).
      val sc = s.newSession()
      sc.conf.set("spark.sql.join.preferSortMergeJoin", "false")
      val shingles = shingleRows(sc, dir)
      // 64 minhashes → 16 bands of 4: the shared library banding
      // (Pipelines.minhashBands — double-hash family, map-side-partial min
      // agg, band signature = xxhash64 of the band's 4 minhashes).
      // WITHIN-ROW banding (VERDICT r16 #6) TRIED AND REFUTED here (r17):
      // a codegen'd minhash64(sh_array) expression (bit-identical family,
      // pinned by test) fed from the re-derived per-doc shingle arrays
      // read 4.9–5.1 s noop min vs this plan's 2.15 s — re-deriving ~5M
      // shingle strings (split + transform + array_distinct) per run costs
      // ~3 s that the staged exploded index amortizes away, and neither a
      // lazy checkpoint of the banded signatures (the self-join's double
      // reference) nor a repartition spread recovered it. The 64-min
      // column aggregate's shuffle is docs×520 B (map-side partials) —
      // already minimal at any scale — so the exploded+staged plan stays.
      val banded = graft.api.Pipelines.minhashBands(shingles, 64, 16)
      val cand = banded.select(col("doc_id").as("ia"), col("band_pos"), col("band_sig"))
        .join(banded.select(col("doc_id").as("ib"), col("band_pos").as("bp"), col("band_sig").as("bs")),
          col("band_pos") === col("bp") && col("band_sig") === col("bs") && col("ia") < col("ib"))
        .select("ia", "ib").distinct()
      // exact verification on candidates only: common-shingle counts via the
      // staged index restricted to candidate pairs, then
      // Jaccard = c / (|A| + |B| - c). Same math as intersect/union over the
      // distinct sets, but no re-collection of per-doc arrays.
      // The candidate-restriction joins are deliberately UNHINTED: the pair
      // set is DATA-DEPENDENT (grows with corpus size and band-collision
      // noise — the ×100 cosine sweep measured 0.5B rows at a noise-dense
      // operating point). Under the broadcast threshold Catalyst (via AQE's
      // measured shuffle bytes) still broadcasts it; past the threshold the
      // scoped preferSortMergeJoin=false drops to a shuffled-hash join that
      // never sorts the corpus-sized shingle stream — a forced broadcast
      // would turn candidate growth into a driver OOM instead of a linear
      // shuffle.
      // r16 optimization (guide §2.3 — narrower types through the
      // exchange): sizes come from the staged full per-doc counts
      // (identical values), and the common-count joins ride the staged
      // df≥2 LONG surrogate index instead of re-shipping shingle strings.
      // Every shingle shared by two docs has df ≥ 2 by definition, so
      // |A∩B| over the df≥2 index is EXACT — no dfCap is applied here
      // (the hot-shingle ceiling stays with the keys whose oracles apply
      // it in lockstep). Candidates are unchanged (banding still reads
      // the full string index), so the recall argument is untouched.
      val sizes = GroupPipeline.shingleSizes(sc, dir)
      val idx = GroupPipeline.shingleDfRows(sc, dir).select("doc_id", "shid")
      val aRows = idx.select(col("doc_id").as("ia"), col("shid"))
        .join(cand, Seq("ia"))
      val bRows = idx.select(col("doc_id").as("ib2"), col("shid").as("shid2"))
        .join(cand.select(col("ib").as("ib2")).distinct(), Seq("ib2"))
      val common = aRows
        .join(bRows, col("ib") === col("ib2") && col("shid") === col("shid2"))
        .groupBy("ia", "ib").agg(count(lit(1)).as("c"))
      common
        .join(sizes.select(col("doc_id").as("ia"), col("n").as("na")), "ia")
        .join(sizes.select(col("doc_id").as("ib"), col("n").as("nb")), "ib")
        .withColumn("jac", col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
        .filter(col("jac") >= 0.8)
        .select(col("ia"), col("ib"), round(col("jac"), 6).as("jac"))
        .orderBy("ia", "ib")
    },

    // Smoothed TF-IDF: score = tf * ln(1 + n_langs/df); round BEFORE ranking
    // in both engines to absorb libm ln() ulp differences.
    q("text_tfidf_top_terms",
      """WITH toks AS (SELECT lang, unnest(string_split(text,' ')) AS tok FROM documents),
        |tf AS (SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY 1,2),
        |dfx AS (SELECT tok, count(DISTINCT lang) AS df FROM tf GROUP BY 1),
        |nl AS (SELECT count(DISTINCT lang) AS n FROM documents),
        |sc AS (SELECT lang, tf.tok AS tok, round(cnt * ln(1 + CAST(n AS DOUBLE)/df), 6) AS score
        |       FROM tf JOIN dfx ON tf.tok = dfx.tok CROSS JOIN nl)
        |SELECT lang, tok, score, rn FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY score DESC, tok) AS INT) AS rn
        |  FROM sc)
        |WHERE rn <= 5 ORDER BY lang, rn""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = T.t(s, dir, "documents")
      val toks = docs.select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      val tf = toks.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      val dfx = tf.groupBy("tok").agg(countDistinct(col("lang")).as("df"))
      val nl = docs.agg(countDistinct(col("lang")).as("n"))
      tf.join(dfx, "tok").crossJoin(broadcast(nl))
        .withColumn("score",
          round(col("cnt") * log(lit(1.0) + col("n").cast(DoubleType) / col("df")), 6))
        .withColumn("rn",
          row_number().over(Window.partitionBy("lang").orderBy(col("score").desc, col("tok"))))
        .filter(col("rn") <= 5)
        .select("lang", "tok", "score", "rn")
        .orderBy("lang", "rn")
    }
  )
}
