package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** df-cap economics sweep for the EXACT-Jaccard inverted-index dedup path
  * (`dedup_ngram_jaccard` / `Pipelines.nearDupPairs`) — the last dedup
  * family whose scale economics were argued, not measured (VERDICT r11
  * missing #1 measured the MinHash banding twin; this probe measures the
  * df-cap knob the exact path relies on instead of banding).
  *
  * The economics under test: the inverted-index self-join produces exactly
  * Σ_sh C(df(sh), 2) candidate rows over KEPT shingles (2 ≤ df ≤ dfCap), so
  * one corpus-viral stop-shingle admitted just under the cap costs ~cap²/2
  * candidates REGARDLESS of corpus size — the cap's worst-case admitted
  * cost is a constant of the knob, not of the data. To measure it, the
  * probe builds the ×copies salted corpus (disjoint cross-copy
  * vocabularies, as MinHashSweep), plants exact ground-truth near-dups
  * (jac = S/(S+k) ≥ 0.9, every 20th doc of copy 0), and then APPENDS
  * tiered viral boilerplate after salting, to residue classes provably
  * disjoint from the planted pairs (plantMod and the id offsets are
  * multiples of every residue modulus):
  *   - tier A: docs with doc_id % 4 == 1 get tokens "zqva zqvb zqvc"
  *     → ONE shingle at df ≈ n/4,
  *   - tier B: docs with doc_id % 8 == 2 get "zqwa zqwb zqwc"
  *     → ONE shingle at df ≈ n/8.
  * (Junction shingles spanning the append point contain each doc's salted
  * tail tokens → df = 1 → removed by the exact df ≥ 2 prune.)
  *
  * For each cap the probe reports the ANALYTIC candidate volume (the cheap
  * Σ C(df,2) aggregation over the df table — no join needed), the dropped
  * hot-shingle count, and — when the analytic volume is under `maxFull` —
  * the measured full pipeline: pairs, planted recall, pair-set checksum,
  * wall seconds. Expected shape, which the committed BASELINE.md table
  * records: caps that exclude both tiers agree bit-for-bit and run fast;
  * the first cap that admits a tier pays ~df²/2 extra candidates and the
  * wall-time cliff; planted recall is 100% at EVERY cap (planted overlap
  * is all low-df shingles). Pair counts may legitimately differ when a cap
  * admits a viral shingle: the graded key counts overlap c from the SAME
  * capped index (engine and oracle in lockstep), so admitting a shared
  * viral shingle nudges near-threshold jac values — the sweep prints it
  * rather than papering over it.
  *
  * usage: runMain graft.NgramSweep [srcDir] [copies] [capList] [threshold]
  *                                 [plantMod] [reps] [maxFull]
  * defaults: /root/testdata/sf0.01  100  100,1000,5000,10000,20000  0.8  20  2  2e8
  */
object NgramSweep {
  private val CopyOff = 1000000000L     // per-copy doc_id shift (mult. of 8)
  private val PlantOff = 2000000000000L // planted-twin shift (mult. of 8)

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val copies = if (args.length > 1) args(1).toInt else 100
    val caps = (if (args.length > 2) args(2) else "100,1000,5000,10000,20000")
      .split(",").map(_.toInt).toSeq
    val threshold = if (args.length > 3) args(3).toDouble else 0.8
    val plantMod = if (args.length > 4) args(4).toInt else 20
    val reps = if (args.length > 5) args(5).toInt else 2
    val maxFull = if (args.length > 6) args(6).toDouble else 2e8
    val spark = Graft.session("ngramsweep", conf = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "32m",
      "spark.sql.join.preferSortMergeJoin" -> "false"))
    spark.sparkContext.setLogLevel("WARN")
    val (all, nPlanted) = viralCorpus(spark, srcDir, copies, plantMod)
    println(s"NGRAMSWEEP corpus n=${all.count()} copies=$copies " +
      s"planted_pairs=$nPlanted threshold=$threshold src=$srcDir")
    // the df profile drives the analytic candidate term; compute it once
    val dfTab = graft.api.Pipelines.shingles(all, "doc_id", "text")
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select("df").localCheckpoint()
    val top = dfTab.orderBy(col("df").desc).limit(5)
      .collect().map(_.getLong(0)).mkString(",")
    println(s"NGRAMSWEEP top_df=[$top]")
    caps.foreach { cap =>
      val a = dfTab.agg(
          coalesce(sum(when(col("df") <= cap,
            expr("df * (df - 1) DIV 2"))), lit(0L)).as("cand"),
          coalesce(sum(when(col("df") > cap, 1L).otherwise(0L)), lit(0L))
            .as("dropped"))
        .head()
      val candAnalytic = a.getLong(0); val dropped = a.getLong(1)
      if (candAnalytic <= maxFull) {
        val r = fullRun(all, cap, threshold, reps)
        println(s"NGRAMSWEEP cap=$cap cand_analytic=$candAnalytic " +
          s"dropped_shingles=$dropped pairs=${r._1} " +
          s"planted_found=${r._2}/$nPlanted pair_checksum=${r._3} " +
          s"t_full_min=${T.num(r._4, 2)}")
      } else
        println(s"NGRAMSWEEP cap=$cap cand_analytic=$candAnalytic " +
          s"dropped_shingles=$dropped SKIPPED_FULL (over maxFull=$maxFull)")
    }
    spark.stop()
  }

  /** MinHashSweep.plantedCorpus + tiered viral boilerplate appended AFTER
    * salting (so the viral tokens are shared corpus-wide, not per copy).
    * Residues: planted originals/twins are ≡ 0 (mod plantMod), and every
    * id offset is a multiple of 8, so `% 4 == 1` / `% 8 == 2` never touch
    * a planted doc on either side of its pair. */
  def viralCorpus(spark: SparkSession, srcDir: String,
                  copies: Int, plantMod: Int): (DataFrame, Long) = {
    require(plantMod % 8 == 0 || plantMod % 4 == 0,
      "plantMod must keep planted docs out of the viral residue classes")
    val (planted, nPlanted) =
      MinHashSweep.plantedCorpus(spark, srcDir, copies, plantMod)
    val withViral = planted
      .withColumn("text",
        when(col("doc_id") % 4 === 1, concat(col("text"), lit(" zqva zqvb zqvc")))
          .when(col("doc_id") % 8 === 2, concat(col("text"), lit(" zqwa zqwb zqwc")))
          .otherwise(col("text")))
      .localCheckpoint()
    (withViral, nPlanted)
  }

  /** One measured full pipeline at `cap`: (pairs, plantedFound, checksum,
    * t_min). */
  def fullRun(all: DataFrame, cap: Int, threshold: Double,
              reps: Int): (Long, Long, Long, Double) = {
    var pairs = 0L; var plantedFound = 0L; var checksum = 0L
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val out = graft.api.Pipelines
        .nearDupPairs(all, "doc_id", "text", threshold = threshold, dfCap = cap)
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
    (pairs, plantedFound, checksum, times.min)
  }
}
