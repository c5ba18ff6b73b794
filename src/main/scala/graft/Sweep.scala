package graft

import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.streaming.Streams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The measured scale sweeps behind BASELINE.md's dedup-economics and
  * RocksDB-state tables, one family per first argument:
  *
  *  - `lsh`: rowsPerBand scaling of the banded-cosine LSH family,
  *  - `minhash`: banding economics of the shingle-MinHash family,
  *  - `ngram`: the df-cap economics of the exact-Jaccard inverted index,
  *  - `simhash`: band-width economics of the 60-bit SimHash family,
  *  - `state`: RocksDB checkpoint upload curves under sustained replay,
  *  - `restore`: what a restart pays to reopen that checkpoint.
  *
  * Each family is described on its own object below. Every dedup family
  * plants ground truth (near-duplicate twins at a fixed id offset) and
  * times its full pair pipeline with [[measure]]; every state family
  * drains the graded running-total processor with [[drain]] and checks
  * the sink against a batch recompute with [[check]]. All arguments are
  * validated before a session is built.
  *
  * usage: runMain graft.Sweep <family> [args...] (defaults in brackets;
  * srcDir defaults to the sf0.1 fixture dir for lsh, sf0.01 otherwise)
  *   lsh     [srcDir] [rList=8,12,16,20] [threshold=0.9] [plantMod=100]
  *           [reps=2]
  *   minhash [srcDir] [copies=100] [rList=2,3,4,6] [threshold=0.8]
  *           [plantMod=20] [reps=2]
  *   ngram   [srcDir] [copies=100] [capList=100,1000,5000,10000,20000]
  *           [threshold=0.8] [plantMod=20] [reps=2] [maxFull=2e8]
  *   simhash [srcDir] [copies=100] [bitsList=30,20,15,12,10] [plantMod=20]
  *           [reps=2] [maxFull=2e8]
  *   state   [srcDir] [waves=5] [chunksPerWave=4]
  *   restore [srcDir] [buildWaves=4] [probeReps=3]
  *
  * `lsh`, `minhash`, `ngram` and `state` end with an `exact=OK|MISMATCH`
  * line and exit 1 on MISMATCH; `restore` throws on the first inexact
  * drain.
  */
object Sweep {

  def main(args: Array[String]): Unit = {
    val job = parse(args.toSeq)
    val spark = Graft.session(job.app, conf = job.conf)
    spark.sparkContext.setLogLevel("WARN")
    val ok = try job.run(spark) finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** A validated run: its session's app name and conf, and its body, which
    * returns false when a gate reads MISMATCH. */
  final case class Job(app: String, conf: Map[String, String],
                       run: SparkSession => Boolean)

  private val Families: Map[String, Seq[String] => Job] = Map(
    "lsh" -> Lsh.job, "minhash" -> MinHash.job, "ngram" -> Ngram.job,
    "simhash" -> SimHash.job, "state" -> State.job, "restore" -> Restore.job)

  /** Parse and validate `args`; touches no Spark state. */
  def parse(args: Seq[String]): Job = {
    val job = args.headOption.flatMap(Families.get).getOrElse(
      throw new IllegalArgumentException("usage: Sweep lsh|minhash|ngram|simhash|" +
        s"state|restore [args...] (got '${args.mkString(" ")}')"))
    job(args.drop(1))
  }

  private def arg(a: Seq[String], i: Int, default: String): String =
    a.lift(i).getOrElse(default)

  private def atLeast1(name: String, v: Int): Int = {
    require(v >= 1, s"$name must be at least 1, got $v"); v
  }

  private def ints(name: String, s: String, max: Int = Int.MaxValue): Seq[Int] = {
    val xs = s.split(",").map(_.toInt).toSeq
    require(xs.nonEmpty && xs.forall(x => x >= 1 && x <= max),
      s"$name must list values in [1, $max], got '$s'"); xs
  }

  private def threshold(s: String): Double = {
    val t = s.toDouble
    require(t > 0 && t <= 1, s"threshold must be in (0, 1], got $t"); t
  }

  private def verdict(ok: Boolean): String = if (ok) "OK" else "MISMATCH"

  // ---- dedup families ----

  /** The broadcast and join policy of the shingle families: the verify
    * stage must never SMJ-sort the candidate-restricted shingle stream
    * (the unhinted-attach contract). Candidate pair sets here are small
    * (true-pair-dominated, MinHash's own finding), so a modest broadcast
    * budget serves them; 256m (the cosine sweep's setting) tips the
    * corpus-sized BANDED relation itself over the broadcast-build heap at
    * 500k docs. */
  private val ShingleConf = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "32m",
    "spark.sql.join.preferSortMergeJoin" -> "false")

  /** One timed full pair pipeline: pair count, planted pairs found, an
    * order-free pair-set checksum and the min wall over the reps. */
  final case class Measure(pairs: Long, plantedFound: Long, checksum: Long,
                           tFull: Double) {
    /** This run's fields of a sweep line, out of `planted` pairs. */
    def line(planted: Long): String = s"pairs=$pairs planted_found=$plantedFound/$planted " +
      s"pair_checksum=$checksum t_full_min=${T.num(tFull, 2)}"
  }

  /** Band count, raw band-join candidates and the full run at one
    * operating point of a banded family. */
  final case class Point(bands: Int, candRaw: Long, full: Measure)

  /** Build and run `pairs` (an `(ia, ib)` pair set, ia < ib) `reps` times,
    * timing each run from pipeline construction to result. A planted pair
    * is one whose ids differ by exactly `plantOff`. */
  def measure(reps: Int, plantOff: Long)(pairs: => DataFrame): Measure = {
    val runs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val out = pairs.agg(count(lit(1)),
          // coalesce: sum() over zero pairs is NULL — a mis-tuned sweep
          // point must report pairs=0, not throw on getLong
          coalesce(sum(when(col("ib") - col("ia") === plantOff, 1L)
            .otherwise(0L)), lit(0L)),
          coalesce(expr("bit_xor(xxhash64(ia, ib))"), lit(0L)))
        .head()
      Measure(out.getLong(0), out.getLong(1), out.getLong(2),
        (System.nanoTime() - t0) / 1e9)
    }
    runs.last.copy(tFull = runs.map(_.tFull).min)
  }

  /** The band self-join: one `(ia, ib)` row (ia < ib) per band on which
    * two ids agree, so a pair appears once per agreeing band. `banded`
    * has the id column `id`, `band_pos` and the band value column
    * `value`. */
  def bandJoin(banded: DataFrame, id: String, value: String): DataFrame = {
    val a = banded.select(col(id).as("ia"), col("band_pos"), col(value).as("bv"))
    a.join(a.select(col("ia").as("ib"), col("band_pos").as("bp2"),
        col("bv").as("bv2")),
      col("band_pos") === col("bp2") && col("bv") === col("bv2")
        && col("ia") < col("ib"))
      .select("ia", "ib")
  }

  /** Σ C(c, 2) over a count column (null counts skipped, 0 over no rows):
    * the exact row count of a self-join on the key the counts group by,
    * without running it. */
  def choose2Sum(c: Column): Column =
    coalesce(sum(shiftright(c * (c - 1), 1)), lit(0L))

  /** The dedup gate over a family's full runs: there was at least one
    * run, planted pairs exist, every run found every one of them and,
    * when `fixedPairSet`, every run emitted the same pair set (count and
    * checksum). */
  def exact(runs: Seq[Measure], planted: Long, fixedPairSet: Boolean): Boolean =
    runs.nonEmpty && planted > 0 && runs.forall(_.plantedFound == planted) &&
      (!fixedPairSet || runs.map(m => (m.pairs, m.checksum)).distinct.size == 1)

  /** Print the [[exact]] verdict as `<prefix> exact=OK|MISMATCH`; true if OK. */
  private def gate(prefix: String, planted: Long, fixedPairSet: Boolean,
                   runs: Seq[Measure]): Boolean = {
    val ok = exact(runs, planted, fixedPairSet)
    println(s"$prefix exact=${verdict(ok)}"); ok
  }

  /** rowsPerBand scaling for the banded-cosine LSH family (BASELINE.md
    * sf1-probe note: band-collision NOISE between dissimilar vectors grows
    * ~n²·bands·2^-rowsPerBand, so at larger corpora the remedy is raising
    * rowsPerBand — "the scale path is a configuration, not a re-plan").
    * This measures that claim instead of asserting it.
    *
    * Method: plant a known ground truth — every `plantMod`-th embedding
    * gets a deterministically perturbed copy (id + 2e10, noise scaled so
    * the pair lands at cosine ≈ 0.958, comfortably above the 0.9 dedup
    * threshold; original corpus pairs all sit ≤ ~0.51 so the planted pairs
    * are EXACTLY the expected output). Then for each rowsPerBand r the
    * band count is re-derived by `CosineLsh.bandsFor(0.9, r, 1e-5)` — the
    * same per-pair recall guarantee at every r — and one line reports:
    *   - bands (signature compute cost, bands·r hyperplane dots per row),
    *   - cand_raw (band-join candidate rows incl. multiplicity — the term
    *     that must stay ~linear in n for the design to hold at 100 TB),
    *   - pairs / planted recall / a pair-set checksum (recall evidence:
    *     identical output at every r, which the gate enforces),
    *   - t_full (wall seconds for the complete candidates→verify
    *     pipeline, min of `reps`). */
  object Lsh {
    private val PlantOff = 20000000000L // beyond any GenScale-shifted id range

    // the ×100 corpus (202k × 64 floats ≈ 52 MB) must still broadcast
    // into the vector-attach stage — a noise-dense sweep point otherwise
    // shuffles the pair stream with vectors attached; and past any
    // broadcast budget the attach must be hash, never an SMJ sort
    private val Conf = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "256m",
      "spark.sql.join.preferSortMergeJoin" -> "false")

    def job(a: Seq[String]): Job = {
      val srcDir = arg(a, 0, "/root/testdata/sf0.1")
      val rs = ints("rList", arg(a, 1, "8,12,16,20"))
      val thr = threshold(arg(a, 2, "0.9"))
      val plantMod = arg(a, 3, "100").toInt
      val reps = atLeast1("reps", arg(a, 4, "2").toInt)
      Job("lshsweep", Conf, { spark =>
        val (all, nPlanted) = plantedCorpus(spark, srcDir, plantMod)
        println(s"LSHSWEEP corpus n=${all.count()} planted_pairs=$nPlanted " +
          s"threshold=$thr src=$srcDir")
        gate("LSHSWEEP", nPlanted, fixedPairSet = true, rs.map { r =>
          val p = sweepOne(all, r, thr, reps)
          println(s"LSHSWEEP r=$r bands=${p.bands} cand_raw=${p.candRaw} " +
            p.full.line(nPlanted))
          p.full
        })
      })
    }

    /** Corpus + planted near-dups, materialized once (localCheckpoint) so
      * every sweep configuration reads identical bytes. Returns (corpus,
      * planted-pair count). */
    def plantedCorpus(spark: SparkSession, srcDir: String,
                      plantMod: Int): (DataFrame, Long) = {
      val emb = T.t(spark, srcDir, "embeddings").select("vec_id", "embedding")
      // deterministic unit-ish noise from (vec_id, position); mixed vector
      // is rescaled to the source norm so dot(e, e') ≈ 1/sqrt(1+eps²) ≈
      // 0.958 at eps = 0.3 regardless of the source's exact norm
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

    /** One sweep configuration: candidate volume at (r, derived bands),
      * then the full candidates→verify pipeline timed `reps` times. */
    def sweepOne(all: DataFrame, r: Int, threshold: Double, reps: Int): Point = {
      val bands = graft.functions.CosineLsh.bandsFor(threshold, r)
      val banded = graft.api.Pipelines
        .cosineLshBands(all.repartition(col("vec_id")), "vec_id", "embedding",
          bands, r, seed = 42L)
      val candRaw = bandJoin(banded.hint("shuffle_hash"), "_id", "band_val").count()
      Point(bands, candRaw, measure(reps, PlantOff)(graft.api.Pipelines
        .cosinePairsLSH(all, "vec_id", "embedding", threshold, rowsPerBand = r)))
    }
  }

  /** Banding economics for the shingle-MinHash dedup family — the Jaccard
    * twin of [[Lsh]] (r11 measured only the cosine side; the r11 verdict
    * asked for the MinHash noise-tail economics to be MEASURED, not
    * argued).
    *
    * Method: build an in-memory ×`copies` documents corpus with the
    * GenScale salting discipline (per-copy alphabetic token suffix ⇒
    * disjoint cross-copy vocabularies, candidate volume scales ×N not
    * ×N²), then plant a known ground truth: every `plantMod`-th doc of
    * copy 0 gets a copy (id + PlantOff) with k = max(1, ⌊S/9⌋) UNIQUE
    * tokens appended (S = distinct-shingle count), which lands the pair at
    * EXACTLY jac = S/(S+k) ≥ 0.9 — comfortably above the 0.8 threshold,
    * with zero effect on any other pair. For each rowsPerBand r the band
    * count is re-derived by `Pipelines.minhashBandsFor(0.8, r,
    * perPairMiss)` — the same per-pair recall guarantee at every operating
    * point — and one line reports:
    *   - bands / numHashes (signature compute cost: 2·⌈numHashes/64⌉ real
    *     xxhash64 evals per shingle, the rest bitwise-derived),
    *   - cand_raw (band-join candidate rows incl. multiplicity — unlike the
    *     cosine family there is NO background collision floor for disjoint
    *     sets, so this term is driven by moderate-Jaccard same-copy pairs
    *     at rate j^r per band and must fall exponentially in r),
    *   - pairs / planted recall / a pair-set checksum (identical output at
    *     every operating point = "the scale path is a configuration", which
    *     the gate enforces),
    *   - t_full (wall seconds for the complete shingle→verify pipeline,
    *     min of `reps`). */
  object MinHash {
    private val CopyOff = 1000000000L // per-copy doc_id shift (mult. of 8)
    // beyond any copy-shifted id range (mult. of 8)
    private[Sweep] val PlantOff = 2000000000000L

    def job(a: Seq[String]): Job = {
      val srcDir = arg(a, 0, "/root/testdata/sf0.01")
      val copies = atLeast1("copies", arg(a, 1, "100").toInt)
      val rs = ints("rList", arg(a, 2, "2,3,4,6"))
      val thr = threshold(arg(a, 3, "0.8"))
      val plantMod = arg(a, 4, "20").toInt
      val reps = atLeast1("reps", arg(a, 5, "2").toInt)
      Job("minhashsweep", ShingleConf, { spark =>
        val (all, nPlanted) = plantedCorpus(spark, srcDir, copies, plantMod)
        println(s"MINHASHSWEEP corpus n=${all.count()} copies=$copies " +
          s"planted_pairs=$nPlanted threshold=$thr src=$srcDir")
        gate("MINHASHSWEEP", nPlanted, fixedPairSet = true, rs.map { r =>
          val p = sweepOne(all, r, thr, reps)
          println(s"MINHASHSWEEP r=$r bands=${p.bands} hashes=${p.bands * r} " +
            s"cand_raw=${p.candRaw} ${p.full.line(nPlanted)}")
          p.full
        })
      })
    }

    /** ×copies salted corpus + planted near-dups, materialized once
      * (localCheckpoint) so every sweep configuration reads identical
      * bytes. Returns (corpus, planted-pair count). */
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
      // (every original shingle survives verbatim; each new shingle spans
      // an appended token). S ≥ 9 keeps k = ⌊S/9⌋ ≥ 1 and jac ≥ 0.9.
      val planted = base.filter(col("doc_id") % plantMod === 0)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 3)
        .withColumn("s", size(array_distinct(
          graft.api.Pipelines.shingleArray(col("toks")))))
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

    /** One sweep configuration: raw band-join candidate volume at
      * (r, derived bands), then the full shingle→candidates→verify pipeline
      * timed `reps` times. */
    def sweepOne(all: DataFrame, r: Int, threshold: Double, reps: Int): Point = {
      val bands = graft.api.Pipelines.minhashBandsFor(threshold, r)
      val banded = graft.api.Pipelines.minhashBands(
        graft.api.Pipelines.shingles(all, "doc_id", "text"), bands * r, bands)
      val candRaw = bandJoin(banded, "doc_id", "band_sig").count()
      Point(bands, candRaw, measure(reps, PlantOff)(graft.api.Pipelines
        .nearDupPairsLSH(all, "doc_id", "text", threshold = threshold,
          numHashes = bands * r, bands = bands)))
    }
  }

  /** df-cap economics for the EXACT-Jaccard inverted-index dedup path
    * (`dedup_ngram_jaccard` / `Pipelines.nearDupPairs`) — the last dedup
    * family whose scale economics were argued, not measured (VERDICT r11
    * missing #1 measured the MinHash banding twin; this measures the df-cap
    * knob the exact path relies on instead of banding).
    *
    * The economics under test: the inverted-index self-join produces
    * exactly Σ_sh C(df(sh), 2) candidate rows over KEPT shingles
    * (2 ≤ df ≤ dfCap), so one corpus-viral stop-shingle admitted just
    * under the cap costs ~cap²/2 candidates REGARDLESS of corpus size — the
    * cap's worst-case admitted cost is a constant of the knob, not of the
    * data. To measure it, [[viralCorpus]] takes [[MinHash]]'s ×copies
    * salted corpus with its planted near-dups and APPENDS tiered viral
    * boilerplate after salting:
    *   - tier A: docs with doc_id % 4 == 1 get tokens "zqva zqvb zqvc"
    *     → ONE shingle at df ≈ n/4,
    *   - tier B: docs with doc_id % 8 == 2 get "zqwa zqwb zqwc"
    *     → ONE shingle at df ≈ n/8.
    * (Junction shingles spanning the append point contain each doc's
    * salted tail tokens → df = 1 → removed by the exact df ≥ 2 prune.)
    *
    * For each cap one line reports the ANALYTIC candidate volume (the
    * cheap Σ C(df,2) aggregation over the df table — no join needed), the
    * dropped hot-shingle count, and — when the analytic volume is under
    * `maxFull` — the measured full pipeline: pairs, planted recall,
    * pair-set checksum, wall seconds. Expected shape, which the committed
    * BASELINE.md table records: caps that exclude both tiers agree
    * bit-for-bit and run fast; the first cap that admits a tier pays
    * ~df²/2 extra candidates and the wall-time cliff; planted recall is
    * 100% at EVERY cap (planted overlap is all low-df shingles), which the
    * gate enforces. Pair counts may legitimately differ when a cap admits a
    * viral shingle: the graded key counts overlap c from the SAME capped
    * index (engine and oracle in lockstep), so admitting a shared viral
    * shingle nudges near-threshold jac values — the sweep prints it rather
    * than papering over it, and the gate does not hold the pair set fixed
    * across caps. */
  object Ngram {
    def job(a: Seq[String]): Job = {
      val srcDir = arg(a, 0, "/root/testdata/sf0.01")
      val copies = atLeast1("copies", arg(a, 1, "100").toInt)
      val caps = ints("capList", arg(a, 2, "100,1000,5000,10000,20000"))
      val thr = threshold(arg(a, 3, "0.8"))
      val plantMod = viralSafe(arg(a, 4, "20").toInt)
      val reps = atLeast1("reps", arg(a, 5, "2").toInt)
      val maxFull = arg(a, 6, "2e8").toDouble
      Job("ngramsweep", ShingleConf, { spark =>
        val (all, nPlanted) = viralCorpus(spark, srcDir, copies, plantMod)
        println(s"NGRAMSWEEP corpus n=${all.count()} copies=$copies " +
          s"planted_pairs=$nPlanted threshold=$thr src=$srcDir")
        // the df profile drives the analytic candidate term; compute it once
        val dfTab = graft.api.Pipelines.shingles(all, "doc_id", "text")
          .groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2)
          .select("df").localCheckpoint()
        val top = dfTab.orderBy(col("df").desc).limit(5)
          .collect().map(_.getLong(0)).mkString(",")
        println(s"NGRAMSWEEP top_df=[$top]")
        gate("NGRAMSWEEP", nPlanted, fixedPairSet = false, caps.flatMap { cap =>
          val row = dfTab.agg(choose2Sum(when(col("df") <= cap, col("df"))),
              coalesce(sum(when(col("df") > cap, 1L).otherwise(0L)), lit(0L)))
            .head()
          val head = s"NGRAMSWEEP cap=$cap cand_analytic=${row.getLong(0)} " +
            s"dropped_shingles=${row.getLong(1)}"
          val m = if (row.getLong(0) <= maxFull) Some(fullRun(all, cap, thr, reps)) else None
          println(s"$head ${m.fold(s"SKIPPED_FULL (over maxFull=$maxFull)")(_.line(nPlanted))}")
          m
        })
      })
    }

    /** [[MinHash.plantedCorpus]] + the viral tiers, appended AFTER salting
      * (so the viral tokens are shared corpus-wide, not per copy).
      * Residues: planted originals/twins are ≡ 0 (mod plantMod), and every
      * id offset is a multiple of 8, so with plantMod a multiple of 4
      * `% 4 == 1` / `% 8 == 2` never touch a planted doc on either side of
      * its pair. */
    def viralCorpus(spark: SparkSession, srcDir: String,
                    copies: Int, plantMod: Int): (DataFrame, Long) = {
      val (planted, nPlanted) =
        MinHash.plantedCorpus(spark, srcDir, copies, viralSafe(plantMod))
      val withViral = planted
        .withColumn("text",
          when(col("doc_id") % 4 === 1, concat(col("text"), lit(" zqva zqvb zqvc")))
            .when(col("doc_id") % 8 === 2, concat(col("text"), lit(" zqwa zqwb zqwc")))
            .otherwise(col("text")))
        .localCheckpoint()
      (withViral, nPlanted)
    }

    private def viralSafe(plantMod: Int): Int = {
      require(plantMod % 4 == 0, "plantMod must be a multiple of 4 to keep " +
        s"planted docs out of the viral residue classes, got $plantMod"); plantMod
    }

    /** The measured full pipeline at `cap`. */
    def fullRun(all: DataFrame, cap: Int, threshold: Double, reps: Int): Measure =
      measure(reps, MinHash.PlantOff)(graft.api.Pipelines
        .nearDupPairs(all, "doc_id", "text", threshold = threshold, dfCap = cap))
  }

  /** Band-width economics for the SimHash dedup family (`dedup_simhash` /
    * `dedup_simhash_recall_audit` — 60-bit portable SimHash, banded for
    * candidates, Hamming ≤ 8 verify). Completes the measured-dedup-economics
    * trilogy: cosine-LSH (r11, noise floor fought by RAISING rowsPerBand),
    * MinHash (r12, true-pair-dominated — no floor), and SimHash, whose
    * banding carries a BACKGROUND collision floor of ≈ bands · n²/2^bits
    * (unrelated 60-bit signatures are near-uniform coin flips, so two docs
    * agree on a b-bit band with probability 2^-b) — the cosine family's
    * quadratic economics, NOT MinHash's linear ones, even though both are
    * token-set methods.
    *
    * Per band config (bits ∈ {30, 20, 15, 12, 10} ⇒ bands = 60/bits) one
    * line reports:
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
    * The corpus is [[MinHash]]'s ×copies salted corpus with planted
    * near-dups (k ≈ S/9 appended unique tokens). Appended tokens shift some
    * bit votes, so a planted twin's TRUE Hamming distance is probabilistic —
    * which is exactly why recall is graded against the measured T8 subset
    * (banding recall isolated from hash noise), same as the graded
    * recall-audit key's method. That is also why this family has no gate:
    * banding recall falls with the band width by design, and the full
    * pipeline keeps only the T8 twins, so neither "every planted pair
    * found" nor a fixed pair set across configs is a property it has. */
  object SimHash {
    def job(a: Seq[String]): Job = {
      val srcDir = arg(a, 0, "/root/testdata/sf0.01")
      val copies = atLeast1("copies", arg(a, 1, "100").toInt)
      val bitsList = ints("bitsList", arg(a, 2, "30,20,15,12,10"), max = 60)
      val plantMod = arg(a, 3, "20").toInt
      val reps = atLeast1("reps", arg(a, 4, "2").toInt)
      val maxFull = arg(a, 5, "2e8").toDouble
      Job("simhashsweep", ShingleConf, { spark =>
        val (all, nPlanted) = MinHash.plantedCorpus(spark, srcDir, copies, plantMod)
        val sig = signatures(all).localCheckpoint()
        // planted ground truth, 1:1 join (twin id = orig id + PlantOff):
        // true Hamming from the full signatures, T8 = the ≤8 subset the
        // graded verify stage would keep
        val off = MinHash.PlantOff
        val pairSigs = sig.filter(col("doc_id") >= off)
          .select((col("doc_id") - off).as("doc_id"), col("simhash").as("sb"))
          .join(sig.select(col("doc_id"), col("simhash").as("sa")), "doc_id")
          .filter(expr("bit_count(sa ^ sb) <= 8"))
          .localCheckpoint()
        val t8 = pairSigs.count()
        println(s"SIMHASHSWEEP corpus n=${sig.count()} copies=$copies planted_pairs=$nPlanted " +
          s"true_hamming_le8=$t8 src=$srcDir")
        bitsList.foreach { bits =>
          val bands = 60 / bits
          def band(c: String, i: Int) =
            shiftrightunsigned(col(c), i * bits).bitwiseAND(lit((1L << bits) - 1))
          val banded = sig.select(col("doc_id"),
            posexplode(array((0 until bands).map(band("simhash", _)): _*))
              .as(Seq("band_pos", "band_val")))
          val candAnalytic = banded.groupBy("band_pos", "band_val")
            .agg(count(lit(1)).as("c")).agg(choose2Sum(col("c"))).head().getLong(0)
          // exact banding recall on the T8 ground truth (1:1, no self-join)
          val found = pairSigs
            .filter((0 until bands).map(i => band("sa", i) === band("sb", i)).reduce(_ || _))
            .count()
          val head = s"SIMHASHSWEEP bits=$bits bands=$bands " +
            s"cand_analytic=$candAnalytic banding_recall=$found/$t8"
          if (candAnalytic <= maxFull) {
            val m = fullRun(banded, sig, reps)
            println(s"$head pairs=${m.pairs} pair_checksum=${m.checksum} " +
              s"t_full_min=${T.num(m.tFull, 2)}")
          } else println(s"$head SKIPPED_FULL (over maxFull=$maxFull)")
        }
        true
      })
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
      * pairs verified at Hamming ≤ 8. */
    def fullRun(banded: DataFrame, sig: DataFrame, reps: Int): Measure =
      measure(reps, MinHash.PlantOff) {
        bandJoin(banded, "doc_id", "band_val").dropDuplicates("ia", "ib")
          .join(sig.select(col("doc_id").as("ia"), col("simhash").as("sa")), "ia")
          .join(sig.select(col("doc_id").as("ib"), col("simhash").as("sb")), "ib")
          .filter(expr("bit_count(sa ^ sb) <= 8"))
      }
  }

  // ---- RocksDB state families ----

  private val Off = 1000000000L // per-wave id shift (beyond any fixture id)

  /** Wave `w` of `events`: event ids shifted by w·10⁹ so every wave's rows
    * are distinct and, with `newUsers`, user ids too — an all-new key
    * domain. */
  private def wave(events: DataFrame, w: Int, newUsers: Boolean): DataFrame = {
    val e = events.withColumn("event_id", col("event_id") + lit(w * Off))
    if (newUsers) e.withColumn("user_id", col("user_id") + lit(w * Off)) else e
  }

  /** Run `body` with the RocksDB state-store provider, changelog
    * checkpointing `changelog` and the `extra` confs set on `s`, then put
    * back whatever `s` had before. */
  def withRocksDb[A](s: SparkSession, changelog: Boolean,
                     extra: Map[String, String] = Map.empty)(body: => A): A = {
    val set = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        changelog.toString) ++ extra
    val olds = set.keys.map(k => k -> s.conf.getOption(k))
    set.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally olds.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** One drain's measurements, returned by value so the scenarios are
    * reentrant (no shared mutable drain state — ADVICE r14). Metrics a
    * drain did not report read -1. */
  final case class DrainStats(wallSec: Double, stateRows: Long, sstBytes: Long,
                              filesCopied: Long, filesReused: Long)

  /** One `Trigger.AvailableNow` drain of the GRADED v2-state running-total
    * processor (`Streams.runningTotalsTws`, the `stream_stateful_running`
    * twin StreamingSpec pins equal to its batch form — the sweeps measure
    * the graded pipeline, not a lookalike) over the chunks in `chunkDir`,
    * into parquet sink `out` on checkpoint `ckpt`. */
  def drain(s: SparkSession, chunkDir: String, ckpt: String, out: String): DrainStats = {
    val t0 = System.nanoTime()
    val q = Streams.runningTotalsTws(Streams.readReplay(s, chunkDir))
      .toDF("user_id", "total_cents")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val op = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq).headOption
    def m(k: String): Long =
      op.flatMap(o => Option(o.customMetrics.get(k))).map(_.longValue).getOrElse(-1L)
    DrainStats(wall, op.map(_.numRowsTotal).getOrElse(-1L), m("rocksdbSstFileSize"),
      m("rocksdbFilesCopied"), m("rocksdbFilesReused"))
  }

  /** Ground truth of a running-total sink: `value` is non-negative on the
    * fixtures, so each user's running total is monotone and the MAX
    * emitted `total_cents` per user across the sink read from `sink`
    * (a sink dir, or its part files) equals the final state; it must equal
    * a batch recompute over the staged chunks in `chunkDir` with the same
    * HALF_UP cents rounding. Returns (matched users, mismatched users) and
    * shows up to 20 mismatches. */
  def check(s: SparkSession, sink: Seq[String], chunkDir: String): (Long, Long) = {
    val got = s.read.parquet(sink: _*).groupBy("user_id").agg(max("total_cents").as("got"))
    val want = s.read.parquet(chunkDir).groupBy("user_id")
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("want"))
    val joined = got.join(want, Seq("user_id"), "full_outer")
    val bad = col("got").isNull || col("want").isNull || col("got") =!= col("want")
    val r = joined.agg(count(lit(1)), coalesce(sum(when(bad, 1L)), lit(0L))).head()
    if (r.getLong(1) > 0) joined.filter(bad).orderBy("user_id").show(20, truncate = false)
    (r.getLong(0) - r.getLong(1), r.getLong(1))
  }

  /** Visit `root` and everything under it, each directory before its
    * entries (`f(path, isDirectory)`), skipping any entry that vanishes
    * mid-walk: RocksDB's async maintenance task writes and deletes temp
    * snapshot parts (`.N.zip.<uuid>.tmp`) under a live checkpoint, and a
    * vanished file is by definition not part of any committed version.
    * `Files.walk` itself throws from readAttributes on such files, hence
    * the manual recursion. A visit that throws NoSuchFileException is
    * skipped the same way, so `f` may touch a file that is gone. */
  def walk(root: Path)(f: (Path, Boolean) => Unit): Unit = {
    def rec(p: Path): Unit = try {
      val dir = Files.isDirectory(p)
      f(p, dir)
      if (dir) scala.util.Using.resource(Files.list(p)) { st =>
        val it = st.iterator()
        while (it.hasNext) rec(it.next())
      }
    } catch { case _: NoSuchFileException | _: java.io.FileNotFoundException => () }
    rec(root)
  }

  /** A checkpoint's on-disk files by class: `.changelog` files, snapshot
    * files and everything else, plus the total file count. Snapshot bytes
    * count BOTH the version `.zip` and immutable `.sst` files — past
    * fixture-scale state RocksDBFileManager uploads SSTs outside the zip,
    * so counting only zips would understate snapshot upload and misfile it
    * as "other" (ADVICE r13). */
  final case class Census(changelogBytes: Long, snapBytes: Long, otherBytes: Long,
                          nChangelog: Int, nSnap: Int, files: Long)

  /** The [[Census]] of `dir`, in one vanish-tolerant [[walk]]. */
  def census(dir: String): Census = {
    val files = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    // Files.size throws for a vanished file, which is then not counted
    walk(Paths.get(dir)) { (p, isDir) =>
      if (!isDir) files += (p.getFileName.toString -> Files.size(p))
    }
    val (cl, rest) = files.partition(_._1.endsWith(".changelog"))
    val (snap, other) = rest.partition(f => f._1.endsWith(".zip") || f._1.endsWith(".sst"))
    Census(cl.map(_._2).sum, snap.map(_._2).sum, other.map(_._2).sum,
      cl.size, snap.size, files.size)
  }

  /** Copy the tree at `from` to `to`, skipping files that vanish mid-copy
    * (see [[walk]]), so a copy of a live checkpoint is still a valid one. */
  def copyDir(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    walk(src) { (p, isDir) =>
      val t = dst.resolve(src.relativize(p))
      if (isDir) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** RocksDB checkpoint-size economics under sustained stateful replay —
    * the streaming sibling of the dedup-economics sweeps (VERDICT r12 #8).
    *
    * The bounded-state claims are measured per-RUN (StreamingSpec pins
    * final `numRowsTotal` to each processor's domain bound); what was still
    * argued rather than measured is the CHECKPOINT economics a 100 TB
    * deployment lives or dies by: what does each commit upload, and how
    * does that grow as (a) replayed VOLUME grows over a fixed key domain vs
    * (b) the KEY DOMAIN itself grows — with changelog checkpointing on vs
    * off?
    *
    * Method: replay `waves` waves of the `events` fixture through [[drain]]
    * against ONE file-source checkpoint, one drain per wave,
    * `chunksPerWave` micro-batches per wave. Wave construction:
    *   - `fixed` mode: every wave replays the same user domain (event_ids
    *     shifted per wave so rows are distinct) — volume grows ×waves,
    *     domain constant;
    *   - `grow` mode: wave w additionally shifts user_ids by w·10⁹ — every
    *     wave brings an all-new key domain, so state rows grow ×waves at
    *     constant per-wave volume.
    * After each wave the sweep records the state operator's `numRowsTotal`,
    * the RocksDB custom metrics (`rocksdbSstFileSize`, files copied/reused
    * at commit), and the checkpoint's [[census]] — the per-wave DELTAS of
    * its classes are the per-commit upload curve.
    *
    * Expected shape (the 100 TB story this prices):
    *   - changelog ON: per-commit upload = one `.changelog` ∝ the batch's
    *     TOUCHED KEYS; snapshot zips appear only when the async maintenance
    *     task fires. Fixed-domain volume growth ⇒ flat state rows, flat SST,
    *     linear cumulative changelog (∝ input), ~constant per-wave delta.
    *   - changelog OFF: every commit uploads a full snapshot zip ∝ the WHOLE
    *     store — the per-wave delta grows with state size in `grow` mode and
    *     stays proportional to store size (not batch size) in `fixed` mode;
    *     at 100 TB state this is the non-starter the changelog mode exists
    *     to fix.
    *
    * Ground truth: the final sink passes [[check]] or the scenario reads
    * `exact=MISMATCH` and the sweep stops there. State cardinality is
    * likewise pinned (SweepSpec): `numRowsTotal` == |domain| (fixed) /
    * waves·|domain| (grow). */
  object State {
    final case class WaveStat(wave: Int, rowsCum: Long, drain: DrainStats, ckpt: Census)

    final case class ScenarioResult(mode: String, waves: Seq[WaveStat],
                                    usersMatched: Long, exact: Boolean)

    def job(a: Seq[String]): Job = {
      val srcDir = arg(a, 0, "/root/testdata/sf0.01")
      val waves = atLeast1("waves", arg(a, 1, "5").toInt)
      val cpw = atLeast1("chunksPerWave", arg(a, 2, "4").toInt)
      Job("statesweep", Map.empty, { spark =>
        val n = T.t(spark, srcDir, "events").count()
        println(s"STATESWEEP src=$srcDir wave_rows=$n waves=$waves " +
          s"chunks_per_wave=$cpw")
        // forall: stop at the first inexact scenario
        Seq((false, true), (false, false), (true, true), (true, false)).forall {
          case (grow, changelog) =>
            val r = runScenario(spark, srcDir, grow, changelog, waves, cpw,
              T.tempDir("graft_statesweep_"))
            val cl = onOff(changelog)
            r.waves.foreach { w =>
              println(s"STATESWEEP mode=${r.mode} changelog=$cl " +
                s"wave=${w.wave}/$waves rows_cum=${w.rowsCum} " +
                s"state_rows=${w.drain.stateRows} sst_bytes=${w.drain.sstBytes} " +
                s"ckpt_changelog=${w.ckpt.changelogBytes}(n=${w.ckpt.nChangelog}) " +
                s"ckpt_snap=${w.ckpt.snapBytes}(n=${w.ckpt.nSnap}) " +
                s"ckpt_other=${w.ckpt.otherBytes} files_copied=${w.drain.filesCopied} " +
                s"files_reused=${w.drain.filesReused} t=${T.num(w.drain.wallSec, 2)}s")
            }
            println(s"STATESWEEP SUMMARY mode=${r.mode} changelog=$cl " +
              s"state_rows=${r.waves.map(_.drain.stateRows).mkString(",")} " +
              s"changelog_delta_per_wave=${deltas(r.waves.map(_.ckpt.changelogBytes))} " +
              s"snap_delta_per_wave=${deltas(r.waves.map(_.ckpt.snapBytes))} " +
              s"users_matched=${r.usersMatched} exact=${verdict(r.exact)}")
            r.exact
        }
      })
    }

    /** One (mode × changelog) scenario: stage+drain `waves` waves against a
      * fresh checkpoint, measure after each drain, check final totals. */
    def runScenario(s: SparkSession, srcDir: String, grow: Boolean,
                    changelog: Boolean, waves: Int, chunksPerWave: Int,
                    base: String): ScenarioResult = withRocksDb(s, changelog) {
      val (chunkDir, ckpt, out) = (s"$base/chunks", s"$base/ckpt", s"$base/out")
      val events = T.t(s, srcDir, "events")
      val waveRows = events.count()
      val stats = (0 until waves).map { w =>
        Streams.appendChunks(s, wave(events, w, newUsers = grow), chunkDir,
          chunksPerWave, startIdx = w * chunksPerWave)
        val d = drain(s, chunkDir, ckpt, out)
        WaveStat(w + 1, (w + 1).toLong * waveRows, d, census(ckpt))
      }
      val (matched, mismatched) = check(s, Seq(out), chunkDir)
      ScenarioResult(if (grow) "grow" else "fixed", stats,
        matched, mismatched == 0)
    }

    private def deltas(xs: Seq[Long]): String =
      (xs.headOption.toSeq ++ xs.sliding(2).collect { case Seq(a, b) => b - a })
        .mkString(",")

    private def onOff(b: Boolean): String = if (b) "on" else "off"
  }

  /** Checkpoint RESTORE economics — the read-side sibling of [[State]]'s
    * upload curve (VERDICT r13 #8): what does a query RESTART pay to
    * reopen a RocksDB state store, and how does that grow with (a) state
    * size, (b) the changelog tail since the last snapshot, and (c)
    * retention?
    *
    * Method: build state through [[drain]] in `buildWaves` growing-domain
    * waves against one checkpoint. After each wave, stage one TINY probe
    * chunk (50 rows touching EXISTING wave-1 keys, so the emitted totals
    * PROVE the restored state, not just row counts) and measure the drain
    * two ways:
    *
    *   - WARM: a new query on the ORIGINAL checkpoint in the same JVM. The
    *     executor's StateStoreProvider cache is keyed by checkpoint
    *     location, so the 32 store partitions are still loaded — this is
    *     the single-process restart floor (plan + file-source + commit
    *     overhead), NOT a store reload.
    *   - COLD: the checkpoint AND sink dirs are COPIED to a fresh path and
    *     the query restarts there — a cache miss on every store partition,
    *     so all 32 stores load from checkpoint files exactly as a new
    *     cluster would: changelog mode replays the full version tail above
    *     the last snapshot; snapshot mode loads the latest zip.
    *
    * Expected shape (what a 100 TB deployment prices): cold-warm gap grows
    * with the UNSNAPSHOTTED CHANGELOG TAIL in changelog mode (maintenance
    * snapshots and `minBatchesToRetain` bound it), stays ~flat in snapshot
    * mode (one zip load ∝ store size). The third scenario re-runs changelog
    * mode with `minBatchesToRetain=2`: the checkpoint's file census must
    * PRUNE instead of growing without bound, restores stay exact, and the
    * replay tail stays short.
    *
    * Ground truth: after EVERY drain — warm and cold — [[verify]] holds
    * that sink to [[check]]; a restore that loses or double-applies state
    * fails loudly. */
  object Restore {
    final case class ProbePoint(afterWave: Int, last: DrainStats, ckpt: Census,
                                warmWallSec: Double, coldWallSec: Double)

    def job(a: Seq[String]): Job = {
      val srcDir = arg(a, 0, "/root/testdata/sf0.01")
      val buildWaves = atLeast1("buildWaves", arg(a, 1, "4").toInt)
      val probeReps = atLeast1("probeReps", arg(a, 2, "3").toInt)
      Job("staterestore", Map.empty, { spark =>
        for ((changelog, retain) <- Seq((true, None), (false, None), (true, Some(2)))) {
          val tag = s"changelog=${if (changelog) "on" else "off"}" +
            retain.map(r => s" minBatchesToRetain=$r").getOrElse("")
          val pts = runScenario(spark, srcDir, changelog, retain, buildWaves,
            probeReps, T.tempDir("graft_staterestore_"))
          pts.foreach { p =>
            println(s"STATERESTORE $tag after_wave=${p.afterWave} " +
              s"state_rows=${p.last.stateRows} sst_bytes=${p.last.sstBytes} " +
              s"ckpt_files=${p.ckpt.files}(cl=${p.ckpt.nChangelog},snap=${p.ckpt.nSnap}) " +
              s"warm_wall=${T.num(p.warmWallSec, 2)}s cold_wall=${T.num(p.coldWallSec, 2)}s")
          }
          println(s"STATERESTORE SUMMARY $tag " +
            s"state_rows=${pts.map(_.last.stateRows).mkString(",")} " +
            s"warm=${pts.map(p => T.num(p.warmWallSec, 2)).mkString(",")} " +
            s"cold=${pts.map(p => T.num(p.coldWallSec, 2)).mkString(",")} " +
            s"ckpt_files=${pts.map(_.ckpt.files).mkString(",")}")
        }
        true
      })
    }

    /** One scenario: alternate build waves with warm+cold restore probes;
      * verify totals after every drain; fail loudly on mismatch. */
    def runScenario(s: SparkSession, srcDir: String, changelog: Boolean,
                    retain: Option[Int], buildWaves: Int, probeReps: Int,
                    base: String): Seq[ProbePoint] = withRocksDb(s, changelog,
      retain.map(r => Map("spark.sql.streaming.minBatchesToRetain" -> r.toString))
        .getOrElse(Map.empty)) {
      val (chunkDir, ckpt, out) = (s"$base/chunks", s"$base/ckpt", s"$base/out")
      val events = T.t(s, srcDir, "events")
      var nextChunk = 0
      var probeSeq = 0
      (1 to buildWaves).map { w =>
        // build wave w: whole events fixture, all-new key domain per wave
        Streams.appendChunks(s, wave(events, w, newUsers = true), chunkDir, 4,
          startIdx = nextChunk)
        nextChunk += 4
        drain(s, chunkDir, ckpt, out) // absorbs the wave; build cost, not probed
        // probes: one tiny chunk per rep touching EXISTING wave-1 keys —
        // the drained query's emitted totals for those keys are
        // restored_state + probe_delta, so a restore that lost state is
        // VISIBLE in the output, not just in row counts. Each rep measures
        // a COLD restart (copied ckpt+sink: provider-cache miss, every
        // store partition loads from checkpoint files) then the WARM drain
        // of the same chunk on the original checkpoint (cache hit: the
        // single-process restart floor).
        val reps = (1 to probeReps).map { _ =>
          probeSeq += 1
          val probe = events.limit(50)
            .withColumn("event_id", col("event_id") + lit((100 + probeSeq) * Off))
            .withColumn("user_id", col("user_id") + lit(Off))
          Streams.appendChunks(s, probe, chunkDir, 1, startIdx = nextChunk)
          nextChunk += 1
          // Copying a LIVE checkpoint races the async maintenance task
          // (snapshot temp files vanish; retention deletes old versions):
          // a torn copy fails the cold load with FileNotFound — surfacing
          // either as a StreamingQueryException from the drain or as an
          // AnalysisException/SparkException from verify()'s parquet read
          // over the torn sink copy. Retry the copy+drain a bounded number
          // of times — a transient tear heals on re-copy, a
          // deterministically unloadable checkpoint (a real retention bug)
          // still fails loudly on the last attempt. verify()'s exactness
          // require() throws IllegalArgumentException, which none of these
          // cases catch: a state-losing restore propagates immediately.
          def cold(attempt: Int): Double = {
            val ckptC = s"$base/ckpt_cold_${probeSeq}_$attempt"
            val outC = s"$base/out_cold_${probeSeq}_$attempt"
            copyDir(ckpt, ckptC); copyDir(out, outC)
            try {
              val wall = drain(s, chunkDir, ckptC, outC).wallSec
              verify(s, outC, chunkDir)
              wall
            } catch {
              case _: org.apache.spark.sql.streaming.StreamingQueryException
                 | _: org.apache.spark.sql.AnalysisException
                 | _: org.apache.spark.SparkException if attempt < 3 => cold(attempt + 1)
            }
          }
          val coldWall = cold(1)
          val warm = drain(s, chunkDir, ckpt, out)
          verify(s, out, chunkDir)
          (warm, coldWall)
        }
        ProbePoint(w, reps.last._1, census(ckpt), reps.map(_._1.wallSec).min,
          reps.map(_._2).min)
      }
    }

    /** [[check]] after a restore, over ALL chunks the drained query has
      * seen. The sink is read as its listed part files, bypassing
      * `_spark_metadata`: a COPIED sink's metadata log lists the pre-copy
      * batches under their original absolute paths and the copied dir's
      * physical files are invisible through it (a real operational caveat
      * of cloning a file-sink pipeline — rewrite the sink log or use a
      * fresh sink in production; exactly-once sink bookkeeping itself is
      * pinned by StreamingSpec's restart test). If a restore LOST state,
      * the cold drain emits a too-small total for a probe-touched key and
      * the pre-copy files only carry the pre-probe total, so max() over the
      * files still surfaces the loss. Explicit paths, not a `part-*` glob:
      * Spark probes a single read path for a sink metadata dir, and a glob
      * path fails that probe with a logged FileNotFoundException trace on
      * every read. */
    private def verify(s: SparkSession, out: String, chunkDir: String): Unit = {
      val parts = scala.util.Using.resource(Files.list(Paths.get(out))) { st =>
        st.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
          .map(_.toString).toSeq.sorted
      }
      require(parts.nonEmpty, s"no part files under $out")
      val (_, bad) = check(s, parts, chunkDir)
      require(bad == 0L, s"restore lost/double-applied state: $bad user mismatches")
    }
  }
}
