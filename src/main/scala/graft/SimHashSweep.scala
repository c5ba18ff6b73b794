package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Band-width economics sweep for the SimHash dedup family
  * (`dedup_simhash` / `dedup_simhash_recall_audit` — 60-bit portable
  * SimHash, banded for candidates, Hamming ≤ 8 verify). Completes the
  * measured-dedup-economics trilogy: cosine-LSH (r11, noise floor fought
  * by RAISING rowsPerBand), MinHash (r12, true-pair-dominated — no floor),
  * and now SimHash, whose banding carries a BACKGROUND collision floor of
  * ≈ bands · n²/2^bits (unrelated 60-bit signatures are near-uniform coin
  * flips, so two docs agree on a b-bit band with probability 2^-b) — the
  * cosine family's quadratic economics, NOT MinHash's linear ones, even
  * though both are token-set methods.
  *
  * Per band config (bits ∈ {30, 20, 15, 12, 10} ⇒ bands = 60/bits) the
  * probe reports:
  *   - cand_analytic: the EXACT candidate-pair volume Σ_band Σ_v C(c_v, 2)
  *     from the band-value histogram (a cheap agg — no n² join needed),
  *   - banding recall on planted ground truth, computed EXACTLY and
  *     config-independently feasibly: for each planted near-dup pair the
  *     two full 60-bit signatures are joined 1:1 (no self-join), true
  *     Hamming ≤ 8 filters to the T8 set, and a pair is banding-found iff
  *     some band agrees — measured even at configs whose full self-join
  *     would be 10⁹ rows,
  *   - the measured full pipeline (DISTINCT band-join + Hamming verify:
  *     pairs, checksum, t_full) when cand_analytic ≤ maxFull.
  *
  * The corpus is MinHashSweep's ×copies salted corpus with planted
  * near-dups (k ≈ S/9 appended unique tokens). Appended tokens shift some
  * bit votes, so a planted twin's TRUE Hamming distance is probabilistic —
  * which is exactly why recall is graded against the measured T8 subset
  * (banding recall isolated from hash noise), same as the graded
  * recall-audit key's method.
  *
  * usage: runMain graft.SimHashSweep [srcDir] [copies] [bitsList]
  *                                   [plantMod] [reps] [maxFull]
  * defaults: /root/testdata/sf0.01  100  30,20,15,12,10  20  2  2e8
  */
object SimHashSweep {
  private val PlantOff = 2000000000000L

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val copies = if (args.length > 1) args(1).toInt else 100
    val bitsList = (if (args.length > 2) args(2) else "30,20,15,12,10")
      .split(",").map(_.toInt).toSeq
    val plantMod = if (args.length > 3) args(3).toInt else 20
    val reps = if (args.length > 4) args(4).toInt else 2
    val maxFull = if (args.length > 5) args(5).toDouble else 2e8
    val spark = Graft.session("simhashsweep", conf = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "32m",
      "spark.sql.join.preferSortMergeJoin" -> "false"))
    spark.sparkContext.setLogLevel("WARN")
    val (all, nPlanted) = MinHashSweep.plantedCorpus(spark, srcDir, copies, plantMod)
    val sig = signatures(all).localCheckpoint()
    val n = sig.count()
    // planted ground truth, 1:1 join (twin id = orig id + PlantOff):
    // true Hamming from the full signatures, T8 = the ≤8 subset the
    // graded verify stage would keep
    val pairSigs = sig.filter(col("doc_id") >= PlantOff)
      .select((col("doc_id") - PlantOff).as("doc_id"), col("simhash").as("sb"))
      .join(sig.select(col("doc_id"), col("simhash").as("sa")), "doc_id")
      .withColumn("hamming", expr("cast(bit_count(sa ^ sb) as int)"))
      .localCheckpoint()
    val t8 = pairSigs.filter(col("hamming") <= 8).count()
    println(s"SIMHASHSWEEP corpus n=$n copies=$copies planted_pairs=$nPlanted " +
      s"true_hamming_le8=$t8 src=$srcDir")
    bitsList.foreach { bits =>
      val bands = 60 / bits
      val mask = (1L << bits) - 1
      def bandCols(sigCol: String) = (0 until bands).map(i =>
        shiftrightunsigned(col(sigCol), i * bits).bitwiseAND(lit(mask)))
      // analytic candidate volume from the band-value histogram
      val banded = sig.select(col("doc_id"),
        posexplode(array(bandCols("simhash"): _*)).as(Seq("band_pos", "band_val")))
      val candAnalytic = banded.groupBy("band_pos", "band_val")
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L))).head().getLong(0)
      // exact banding recall on the T8 ground truth (1:1, no self-join)
      val found = pairSigs.filter(col("hamming") <= 8)
        .filter((0 until bands).map(i =>
          shiftrightunsigned(col("sa"), i * bits).bitwiseAND(lit(mask)) ===
            shiftrightunsigned(col("sb"), i * bits).bitwiseAND(lit(mask)))
          .reduce(_ || _))
        .count()
      if (candAnalytic <= maxFull) {
        val r = fullRun(banded, sig, reps)
        println(s"SIMHASHSWEEP bits=$bits bands=$bands " +
          s"cand_analytic=$candAnalytic banding_recall=$found/$t8 " +
          s"pairs=${r._1} pair_checksum=${r._2} t_full_min=${T.num(r._3, 2)}")
      } else
        println(s"SIMHASHSWEEP bits=$bits bands=$bands " +
          s"cand_analytic=$candAnalytic banding_recall=$found/$t8 " +
          s"SKIPPED_FULL (over maxFull=$maxFull)")
    }
    spark.stop()
  }

  /** 60-bit SimHash signatures (doc_id, simhash) — the same portable
    * poly_hash bit-vote construction as `dedup_simhash`
    * (GroupPipeline.simhashNearPairs), over an in-memory corpus. */
  def signatures(df: DataFrame): DataFrame = {
    val toks = df
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", call_function("poly_hash", col("tok")))
    val bitSums = (0 until 60).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$b")
    }
    toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash",
        (0 until 60).map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _))
      .select("doc_id", "simhash")
  }

  /** Measured full candidate pipeline at one config: DISTINCT band-join
    * pairs verified at Hamming ≤ 8 → (pairs, checksum, t_min). */
  def fullRun(banded: DataFrame, sig: DataFrame,
              reps: Int): (Long, Long, Double) = {
    var pairs = 0L; var checksum = 0L
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val a = banded.select(col("doc_id").as("ia"), col("band_pos"), col("band_val"))
      val b = banded.select(col("doc_id").as("ib"), col("band_pos").as("bp2"),
        col("band_val").as("bv2"))
      val out = a.join(b, col("band_pos") === col("bp2") &&
          col("band_val") === col("bv2") && col("ia") < col("ib"))
        .select("ia", "ib").dropDuplicates("ia", "ib")
        .join(sig.select(col("doc_id").as("ia"), col("simhash").as("sa")), "ia")
        .join(sig.select(col("doc_id").as("ib"), col("simhash").as("sb")), "ib")
        .filter(expr("bit_count(sa ^ sb) <= 8"))
        .agg(count(lit(1)),
          coalesce(expr("bit_xor(xxhash64(ia, ib))"), lit(0L)))
        .head()
      pairs = out.getLong(0)
      checksum = out.getLong(1)
      (System.nanoTime() - t0) / 1e9
    }
    (pairs, checksum, times.min)
  }
}
