package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Banding-economics sweep for the shingle-MinHash dedup family — the
  * Jaccard twin of LshSweep (r11 measured only the cosine side; the r11
  * verdict asked for the MinHash noise-tail economics to be MEASURED, not
  * argued).
  *
  * Method: build an in-memory ×`copies` documents corpus with the GenScale
  * salting discipline (per-copy base-26 alphabetic token suffix ⇒ disjoint
  * cross-copy vocabularies, candidate volume scales ×N not ×N²), then plant
  * a known ground truth: every `plantMod`-th doc of copy 0 gets a copy
  * (id + PlantOff) with k = max(1, ⌊S/9⌋) UNIQUE tokens appended (S =
  * distinct-shingle count), which lands the pair at EXACTLY
  * jac = S/(S+k) ≥ 0.9 — comfortably above the 0.8 threshold, with zero
  * effect on any other pair. For each rowsPerBand r the band count is
  * re-derived by `Pipelines.minhashBandsFor(0.8, r, perPairMiss)` — the
  * same per-pair recall guarantee at every operating point — and one line
  * reports:
  *   - bands / numHashes (signature compute cost: 2·⌈numHashes/64⌉ real
  *     xxhash64 evals per shingle, the rest bitwise-derived),
  *   - cand_raw (band-join candidate rows incl. multiplicity — unlike the
  *     cosine family there is NO background collision floor for disjoint
  *     sets, so this term is driven by moderate-Jaccard same-copy pairs
  *     at rate j^r per band and must fall exponentially in r),
  *   - pairs / planted recall / a pair-set checksum (identical output at
  *     every operating point = "the scale path is a configuration"),
  *   - t_full (wall seconds for the complete shingle→verify pipeline,
  *     min of `reps`).
  *
  * usage: runMain graft.MinHashSweep [srcDir] [copies] [rList] [threshold]
  *                                   [plantMod] [reps]
  * defaults: /root/testdata/sf0.01  100  2,3,4,6  0.8  20  2
  */
object MinHashSweep {
  private val CopyOff = 1000000000L  // per-copy doc_id shift
  private val PlantOff = 2000000000000L // beyond any copy-shifted id range

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val copies = if (args.length > 1) args(1).toInt else 100
    val rs = (if (args.length > 2) args(2) else "2,3,4,6")
      .split(",").map(_.toInt).toSeq
    val threshold = if (args.length > 3) args(3).toDouble else 0.8
    val plantMod = if (args.length > 4) args(4).toInt else 20
    val reps = if (args.length > 5) args(5).toInt else 2
    // the verify stage must never SMJ-sort the candidate-restricted
    // shingle stream (the unhinted-attach contract). Candidate pair sets
    // here are small (true-pair-dominated — the sweep's own finding), so
    // a modest broadcast budget serves them; 256m (the cosine sweep's
    // setting) tips the corpus-sized BANDED relation itself over the
    // broadcast-build heap at 500k docs
    val spark = Graft.session("minhashsweep", conf = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "32m",
      "spark.sql.join.preferSortMergeJoin" -> "false"))
    spark.sparkContext.setLogLevel("WARN")
    val (all, nPlanted) = plantedCorpus(spark, srcDir, copies, plantMod)
    println(s"MINHASHSWEEP corpus n=${all.count()} copies=$copies " +
      s"planted_pairs=$nPlanted threshold=$threshold src=$srcDir")
    rs.foreach { r =>
      val res = sweepOne(all, r, threshold, reps)
      println(s"MINHASHSWEEP r=$r bands=${res.bands} " +
        s"hashes=${res.numHashes} cand_raw=${res.candRaw} " +
        s"pairs=${res.pairs} planted_found=${res.plantedFound}/$nPlanted " +
        s"pair_checksum=${res.checksum} t_full_min=${T.num(res.tFull, 2)}")
    }
    spark.stop()
  }

  /** ×copies salted corpus + planted near-dups, materialized once
    * (localCheckpoint) so every sweep configuration reads identical bytes.
    * Returns (corpus, planted-pair count). */
  def plantedCorpus(spark: SparkSession, srcDir: String,
                    copies: Int, plantMod: Int): (DataFrame, Long) = {
    val base = T.t(spark, srcDir, "documents").select("doc_id", "text")
    val salted = (0 until copies).map { i =>
      val d =
        if (i == 0) base
        else base.withColumn("text",
          regexp_replace(col("text"), "([A-Za-z0-9]+)",
            "$1x" + GenScale.letterSuffix(i - 1)))
      d.withColumn("doc_id", col("doc_id") + lit(i * CopyOff))
    }.reduce(_ unionAll _)
    // Planted pair at exact jac = S/(S+k): appending k tokens that each
    // contain a doc-unique prefix adds exactly k new distinct shingles
    // (every original shingle survives verbatim; each new shingle spans an
    // appended token). S ≥ 9 keeps k = ⌊S/9⌋ ≥ 1 and jac ≥ 0.9.
    val planted = base.filter(col("doc_id") % plantMod === 0)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("s", size(array_distinct(expr(
        """transform(sequence(0, size(toks)-3),
          |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))""".stripMargin))))
      .filter(col("s") >= 9)
      .withColumn("k", greatest(lit(1), floor(col("s") / 9).cast("int")))
      .select(
        (col("doc_id") + lit(PlantOff)).as("doc_id"),
        concat(col("text"), lit(" "), concat_ws(" ",
          expr("transform(sequence(1, k), j -> concat('zq', doc_id, 'p', j))")))
          .as("text"))
    val all = salted.unionAll(planted).localCheckpoint()
    (all, planted.count())
  }

  final case class SweepResult(bands: Int, numHashes: Int, candRaw: Long,
                               pairs: Long, plantedFound: Long,
                               checksum: Long, tFull: Double)

  /** One sweep configuration: raw band-join candidate volume at
    * (r, derived bands), then the full shingle→candidates→verify pipeline
    * timed `reps` times. */
  def sweepOne(all: DataFrame, r: Int, threshold: Double,
               reps: Int): SweepResult = {
    val bands = graft.api.Pipelines.minhashBandsFor(threshold, r)
    val numHashes = bands * r
    val sh = graft.api.Pipelines.shingles(all, "doc_id", "text")
    val banded = graft.api.Pipelines.minhashBands(sh, numHashes, bands)
    val candRaw = banded
      .select(col("doc_id").as("ia"), col("band_pos"), col("band_sig"))
      .join(banded.select(col("doc_id").as("ib"), col("band_pos").as("bp"),
          col("band_sig").as("bs")),
        col("band_pos") === col("bp") && col("band_sig") === col("bs")
          && col("ia") < col("ib"))
      .count()
    var pairs = 0L; var plantedFound = 0L; var checksum = 0L
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val out = graft.api.Pipelines
        .nearDupPairsLSH(all, "doc_id", "text", threshold = threshold,
          numHashes = numHashes, bands = bands)
        .agg(count(lit(1)),
          coalesce(sum(when(col("ib") - col("ia") === PlantOff, 1L)
            .otherwise(0L)), lit(0L)),
          coalesce(expr("bit_xor(xxhash64(ia, ib))"), lit(0L)))
        .head()
      pairs = out.getLong(0)
      plantedFound = out.getLong(1)
      checksum = out.getLong(2)
      (System.nanoTime() - t0) / 1e9
    }
    SweepResult(bands, numHashes, candRaw, pairs, plantedFound,
      checksum, times.min)
  }
}
