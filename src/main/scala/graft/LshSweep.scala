package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** rowsPerBand scaling demonstration for the banded-cosine LSH family
  * (BASELINE.md sf1-probe note: band-collision NOISE between dissimilar
  * vectors grows ~n²·bands·2^-rowsPerBand, so at larger corpora the remedy
  * is raising rowsPerBand — "the scale path is a configuration, not a
  * re-plan". This main measures that claim instead of asserting it.)
  *
  * Method: plant a known ground truth — every `plantMod`-th embedding gets
  * a deterministically perturbed copy (id + 2e10, noise scaled so the pair
  * lands at cosine ≈ 0.958, comfortably above the 0.9 dedup threshold;
  * original corpus pairs all sit ≤ ~0.51 so the planted pairs are EXACTLY
  * the expected output). Then for each rowsPerBand r the band count is
  * re-derived by `CosineLsh.bandsFor(0.9, r, 1e-5)` — the same per-pair
  * recall guarantee at every r — and one line reports:
  *   - bands (signature compute cost, bands·r hyperplane dots per row),
  *   - cand_raw (band-join candidate rows incl. multiplicity — the term
  *     that must stay ~linear in n for the design to hold at 100 TB),
  *   - pairs / planted recall / a pair-set checksum (recall evidence:
  *     identical output at every r),
  *   - t_full (wall seconds for the complete candidates→verify pipeline,
  *     min of `reps`).
  *
  * usage: runMain graft.LshSweep [srcDir] [rList] [threshold] [plantMod] [reps]
  * defaults: /root/testdata/sf0.1  8,12,16,20  0.9  100  2
  */
object LshSweep {
  private val PlantOff = 20000000000L // beyond any GenScale-shifted id range

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val rs = (if (args.length > 1) args(1) else "8,12,16,20").split(",").map(_.toInt).toSeq
    val threshold = if (args.length > 2) args(2).toDouble else 0.9
    val plantMod = if (args.length > 3) args(3).toInt else 100
    val reps = if (args.length > 4) args(4).toInt else 2
    // the ×100 corpus (202k × 64 floats ≈ 52 MB) must still broadcast
    // into the vector-attach stage — a noise-dense sweep point otherwise
    // shuffles the pair stream with vectors attached; and past any
    // broadcast budget the attach must be hash, never an SMJ sort
    val spark = Graft.session("lshsweep", conf = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "256m",
      "spark.sql.join.preferSortMergeJoin" -> "false"))
    spark.sparkContext.setLogLevel("WARN")
    val (all, nPlanted) = plantedCorpus(spark, srcDir, plantMod)
    println(s"LSHSWEEP corpus n=${all.count()} planted_pairs=$nPlanted " +
      s"threshold=$threshold src=$srcDir")
    rs.foreach { r =>
      val res = sweepOne(all, r, threshold, reps)
      println(s"LSHSWEEP r=$r bands=${res.bands} cand_raw=${res.candRaw} " +
        s"pairs=${res.pairs} planted_found=${res.plantedFound}/$nPlanted " +
        s"pair_checksum=${res.checksum} t_full_min=${T.num(res.tFull, 2)}")
    }
    spark.stop()
  }

  /** Corpus + planted near-dups, materialized once (localCheckpoint) so
    * every sweep configuration reads identical bytes. Returns (corpus,
    * planted-pair count). */
  def plantedCorpus(spark: SparkSession, srcDir: String,
                    plantMod: Int): (DataFrame, Long) = {
    val emb = T.t(spark, srcDir, "embeddings").select("vec_id", "embedding")
    // deterministic unit-ish noise from (vec_id, position); mixed vector is
    // rescaled to the source norm so dot(e, e') ≈ 1/sqrt(1+eps²) ≈ 0.958
    // at eps = 0.3 regardless of the source's exact norm
    val planted = emb.filter(col("vec_id") % plantMod === 0)
      .withColumn("nraw", expr(
        """transform(sequence(0, size(embedding) - 1),
          |  i -> (cast(pmod(xxhash64(vec_id, i), 2001) as double) - 1000.0) / 1000.0)
          |""".stripMargin))
      .withColumn("nnorm", expr(
        "sqrt(aggregate(nraw, 0d, (a, x) -> a + x * x))"))
      .withColumn("enorm", expr(
        "sqrt(aggregate(embedding, 0d, (a, x) -> a + cast(x as double) * x))"))
      .withColumn("mixed", expr(
        "zip_with(embedding, nraw, (a, b) -> cast(a as double) + 0.3 * b / nnorm)"))
      .withColumn("mnorm", expr(
        "sqrt(aggregate(mixed, 0d, (a, x) -> a + x * x))"))
      .select(
        (col("vec_id") + lit(PlantOff)).as("vec_id"),
        expr("transform(mixed, x -> cast(x * enorm / mnorm as float))")
          .as("embedding"))
    val all = emb.unionAll(planted).localCheckpoint()
    (all, planted.count())
  }

  final case class SweepResult(bands: Int, candRaw: Long, pairs: Long,
                               plantedFound: Long, checksum: Long, tFull: Double)

  /** One sweep configuration: candidate volume at (r, derived bands), then
    * the full candidates→verify pipeline timed `reps` times. */
  def sweepOne(all: DataFrame, r: Int, threshold: Double,
               reps: Int): SweepResult = {
    val bands = graft.functions.CosineLsh.bandsFor(threshold, r)
    val banded = graft.api.Pipelines
      .cosineLshBands(all.repartition(col("vec_id")), "vec_id", "embedding",
        bands, r, seed = 42L)
    val candRaw = banded.select(col("_id").as("ia"), col("band_pos"), col("band_val"))
      .hint("shuffle_hash")
      .join(banded.select(col("_id").as("ib"), col("band_pos").as("bp"),
          col("band_val").as("bv")),
        col("band_pos") === col("bp") && col("band_val") === col("bv")
          && col("ia") < col("ib"))
      .count()
    var pairs = 0L; var plantedFound = 0L; var checksum = 0L
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val out = graft.api.Pipelines
        .cosinePairsLSH(all, "vec_id", "embedding", threshold, rowsPerBand = r)
        .agg(count(lit(1)),
          // coalesce: sum() over zero pairs is NULL — a mis-tuned sweep
          // point must report pairs=0, not throw on getLong
          coalesce(sum(when(col("ib") - col("ia") === PlantOff, 1L)
            .otherwise(0L)), lit(0L)),
          coalesce(expr("bit_xor(xxhash64(ia, ib))"), lit(0L)))
        .head()
      pairs = out.getLong(0)
      plantedFound = out.getLong(1)
      checksum = out.getLong(2)
      (System.nanoTime() - t0) / 1e9
    }
    SweepResult(bands, candRaw, pairs, plantedFound, checksum, times.min)
  }
}
