package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins `graft.Sweep`'s families (BASELINE.md's measured dedup and
  * RocksDB-state economics) to the graded implementations, so a sweep
  * whose pipeline drifts from the keys it claims to measure fails loudly
  * instead of producing plausible-but-unrepresentative numbers; plus the
  * sweep's own argument checks, dedup gate and checkpoint census. */
class SweepSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  // The rowsPerBand scaling property the lsh family demonstrates: with the
  // band count re-derived per r by CosineLsh.bandsFor, raising rowsPerBand
  // cuts band-collision noise without losing pairs — the emitted pair SET
  // is identical at every r and every planted near-dup is found.
  test("lsh sweep: r=8 and r=16 emit the identical planted pair set; " +
    "candidate volume shrinks with r") {
    val (all, nPlanted) = Sweep.Lsh.plantedCorpus(s, "/root/testdata/sf0.01", 20)
    assert(nPlanted == 25)
    val r8 = Sweep.Lsh.sweepOne(all, 8, 0.9, 1)
    val r16 = Sweep.Lsh.sweepOne(all, 16, 0.9, 1)
    assert(r8.full.plantedFound == nPlanted, s"r=8 recall ${r8.full.plantedFound}/$nPlanted")
    assert(r16.full.plantedFound == nPlanted, s"r=16 recall ${r16.full.plantedFound}/$nPlanted")
    assert(r8.full.pairs == r16.full.pairs && r8.full.checksum == r16.full.checksum,
      s"pair sets differ: r8=${r8.full} r16=${r16.full}")
    assert(r16.candRaw < r8.candRaw,
      s"raising rowsPerBand should cut candidates: r8=${r8.candRaw} r16=${r16.candRaw}")
    // the derived band count preserves the per-pair recall guarantee, so
    // more selective bands must be compensated by more of them
    assert(r16.bands > r8.bands)
    assert(Sweep.exact(Seq(r8.full, r16.full), nPlanted, fixedPairSet = true))
  }

  test("minhash sweep: r=2 and r=4 emit the identical planted pair set " +
    "(full recall) — the Jaccard twin of LshSweepSpec") {
    val (all, nPlanted) = Sweep.MinHash.plantedCorpus(s, "/root/testdata/sf0.001", 2, 20)
    assert(nPlanted > 0)
    val r2 = Sweep.MinHash.sweepOne(all, 2, 0.8, 1)
    val r4 = Sweep.MinHash.sweepOne(all, 4, 0.8, 1)
    assert(r2.full.plantedFound == nPlanted, s"r=2 recall ${r2.full.plantedFound}/$nPlanted")
    assert(r4.full.plantedFound == nPlanted, s"r=4 recall ${r4.full.plantedFound}/$nPlanted")
    assert(r2.full.pairs == r4.full.pairs && r2.full.checksum == r4.full.checksum,
      s"pair sets differ: r2=${r2.full} r4=${r4.full}")
    // unlike the cosine family there is no background floor to fight:
    // the recall guarantee makes MORE bands at higher r, so candidates rise
    assert(r4.bands > r2.bands)
  }

  test("ngram sweep: the analytic sum-C(df,2) candidate term equals the " +
    "measured inverted-index self-join volume, caps only ever shrink it, " +
    "and planted recall survives every cap") {
    val (all, nPlanted) = Sweep.Ngram.viralCorpus(s, "/root/testdata/sf0.001", 2, 20)
    val sh = graft.api.Pipelines.shingles(all, "doc_id", "text")
    val dfTab = sh.groupBy("sh").agg(count(lit(1)).as("df")).filter(col("df") >= 2)
    def analytic(cap: Int): Long = dfTab
      .agg(Sweep.choose2Sum(when(col("df") <= cap, col("df")))).head().getLong(0)
    def measured(cap: Int): Long = {
      val keep = dfTab.filter(col("df") <= cap).select("sh")
      val shJ = sh.join(keep, "sh")
      shJ.select(col("doc_id").as("ia"), col("sh"))
        .join(shJ.select(col("doc_id").as("ib"), col("sh").as("sh2")),
          col("sh") === col("sh2") && col("ia") < col("ib"))
        .count()
    }
    // naturals stay at single-digit df in this corpus (measured top_df
    // [viralA, viralB, 9, ...]); 15 keeps every natural, drops both virals
    val capSmall = 15; val capBig = 100000
    assert(analytic(capSmall) == measured(capSmall),
      s"analytic(${analytic(capSmall)}) != measured(${measured(capSmall)}) at cap=$capSmall")
    assert(analytic(capBig) == measured(capBig))
    // the viral tiers are admitted at the big cap only
    assert(analytic(capBig) > analytic(capSmall))
    val lo = Sweep.Ngram.fullRun(all, capSmall, 0.8, 1)
    val hi = Sweep.Ngram.fullRun(all, capBig, 0.8, 1)
    assert(lo.plantedFound == nPlanted && hi.plantedFound == nPlanted,
      s"planted recall must survive the cap: lo=${lo.plantedFound} " +
        s"hi=${hi.plantedFound} want=$nPlanted")
    assert(lo.pairs == hi.pairs && lo.checksum == hi.checksum,
      "viral shingles must not change the verified pair set")
  }

  test("simhash sweep: the probe's signature + 15x4 band pipeline " +
    "reproduces the graded dedup_simhash pair set exactly") {
    val sf = "/root/testdata/sf0.001"
    val corpus = T.t(s, sf, "documents").select(col("doc_id"), col("text"))
    val sig = Sweep.SimHash.signatures(corpus)
    val banded = sig.select(col("doc_id"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("simhash"), i * 15).bitwiseAND(lit(0x7FFFL))): _*))
        .as(Seq("band_pos", "band_val")))
    val got = Sweep.SimHash.fullRun(banded, sig, 1)
    val exp = SparkEntry.queries("dedup_simhash")(s, sf)
      .agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(ia, ib))"), lit(0L))).head()
    assert(got.pairs == exp.getLong(0),
      s"pair count drifted: probe=${got.pairs} graded=${exp.getLong(0)}")
    assert(got.checksum == exp.getLong(1),
      s"pair checksum drifted: probe=${got.checksum} graded=${exp.getLong(1)}")
  }

  test("state sweep: fixed-domain replay keeps state rows at the user " +
    "domain while changelog bytes grow with volume; totals stay exact") {
    val r = Sweep.State.runScenario(s, TestSpark.sf, grow = false,
      changelog = true, waves = 3, chunksPerWave = 2,
      T.tempDir("graft_statesweep_"))
    assert(r.exact, "final streamed totals != batch recompute")
    val users = T.t(s, TestSpark.sf, "events")
      .select("user_id").distinct().count()
    // the store keys the DOMAIN: 3x the replayed volume, zero state growth
    assert(r.waves.map(_.drain.stateRows) == Seq(users, users, users),
      s"state rows ${r.waves.map(_.drain.stateRows)} != flat $users")
    assert(r.usersMatched == users)
    // changelog mode: each wave commits deltas, so every wave's delta is
    // strictly positive (per-wave deltas, not distinct-equality on the
    // cumulative values — retention pruning or a zero-delta wave would make
    // two cumulatives equal without breaking the "every commit uploads a
    // changelog" claim; ADVICE r13)
    val cl = r.waves.map(_.ckpt.changelogBytes)
    assert(cl.head > 0, s"wave 1 uploaded no changelog bytes: $cl")
    cl.zip(cl.tail).zipWithIndex.foreach { case ((a, b), i) =>
      assert(b > a, s"wave ${i + 2} changelog delta ${b - a} <= 0 " +
        s"(cumulative: $cl) — no changelog was uploaded that wave")
    }
    assert(r.waves.last.ckpt.nChangelog > r.waves.head.ckpt.nChangelog)
  }

  test("state restore: every fresh-query drain restores the store exactly " +
    "(probe totals == batch recompute) and state rows track the built domain") {
    val pts = Sweep.Restore.runScenario(s, TestSpark.sf, changelog = true,
      retain = None, buildWaves = 2, probeReps = 1,
      T.tempDir("graft_staterestore_"))
    // runScenario verifies totals after EVERY warm AND cold drain (require
    // inside — probe chunks touch EXISTING keys, so a lost restore shows up
    // as a wrong total, not a missing row). Shape pins:
    val users = T.t(s, TestSpark.sf, "events")
      .select("user_id").distinct().count()
    // growing domain: wave w leaves exactly w*users keys (probes reuse
    // wave-1 keys, adding none)
    assert(pts.map(_.afterWave) == Seq(1, 2))
    assert(pts.map(_.last.stateRows) == Seq(users, 2 * users),
      s"state rows ${pts.map(_.last.stateRows)} != ${Seq(users, 2 * users)}")
    // changelog mode: the restored version's tail exists on disk
    assert(pts.last.ckpt.nChangelog > 0)
  }

  test("state sweep: growing-domain replay grows state rows with the key " +
    "domain; changelog off uploads snapshot zips, never changelogs") {
    val r = Sweep.State.runScenario(s, TestSpark.sf, grow = true,
      changelog = false, waves = 2, chunksPerWave = 2,
      T.tempDir("graft_statesweep_"))
    assert(r.exact, "final streamed totals != batch recompute")
    val users = T.t(s, TestSpark.sf, "events")
      .select("user_id").distinct().count()
    // wave 2 brings an all-new shifted user domain: state rows double
    assert(r.waves.map(_.drain.stateRows) == Seq(users, 2 * users),
      s"state rows ${r.waves.map(_.drain.stateRows)} != ${Seq(users, 2 * users)}")
    assert(r.usersMatched == 2 * users)
    // snapshot mode: zero .changelog files ever; snapshot bytes (version
    // zips + uploaded .sst files) grow per commit
    assert(r.waves.forall(_.ckpt.nChangelog == 0))
    val snaps = r.waves.map(_.ckpt.snapBytes)
    assert(snaps.forall(_ > 0) && snaps.last > snaps.head,
      s"snapshot bytes not growing: $snaps")
  }

  test("bad sweep arguments are rejected before a session is built") {
    val bad = Seq(
      Seq("lsh", "/x", "8,16", "0.9", "100", "0") -> "reps must be at least 1",
      Seq("minhash", "/x", "0") -> "copies must be at least 1",
      Seq("minhash", "/x", "2", ",") -> "rList must list values",
      Seq("lsh", "/x", "8", "0") -> "threshold must be in (0, 1]",
      Seq("ngram", "/x", "2", "100", "1.5") -> "threshold must be in (0, 1]",
      Seq("ngram", "/x", "2", "100", "0.8", "20", "0") -> "reps must be at least 1",
      Seq("ngram", "/x", "2", "100", "0.8", "10") -> "plantMod must be a multiple of 4",
      Seq("simhash", "/x", "2", "15,0") -> "bitsList must list values",
      Seq("simhash", "/x", "2", "15", "20", "0") -> "reps must be at least 1",
      Seq("state", "/x", "0") -> "waves must be at least 1",
      Seq("state", "/x", "2", "0") -> "chunksPerWave must be at least 1",
      Seq("restore", "/x", "0") -> "buildWaves must be at least 1",
      Seq("restore", "/x", "2", "0") -> "probeReps must be at least 1",
      Seq("nope") -> "usage: Sweep lsh|minhash|ngram|simhash|state|restore")
    // parse builds no session, so a check that lets bad args through
    // fails here without touching the shared one
    bad.foreach { case (args, want) =>
      val e = intercept[IllegalArgumentException](Sweep.parse(args))
      assert(e.getMessage.contains(want), s"${args.mkString(" ")}: ${e.getMessage}")
    }
    // main validates before its session: lsh's conf would otherwise land
    // on this shared session (getOrCreate reuses it)
    val broadcast = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val e = intercept[IllegalArgumentException](Sweep.main(bad.head._1.toArray))
    assert(e.getMessage.contains(bad.head._2))
    assert(s.conf.get("spark.sql.autoBroadcastJoinThreshold") == broadcast)
  }

  test("dedup gate: every run finds every planted pair and, where the pair " +
    "set is fixed, every run emits the same pairs and checksum") {
    val m = Sweep.Measure(pairs = 30, plantedFound = 25, checksum = 7L, tFull = 1.0)
    assert(Sweep.exact(Seq(m, m.copy(tFull = 2.0)), 25, fixedPairSet = true))
    // one run missed a planted pair
    assert(!Sweep.exact(Seq(m, m.copy(plantedFound = 24)), 25, fixedPairSet = true))
    assert(!Sweep.exact(Seq(m, m.copy(plantedFound = 24)), 25, fixedPairSet = false))
    // same count, different pair set
    assert(!Sweep.exact(Seq(m, m.copy(checksum = 8L)), 25, fixedPairSet = true))
    assert(!Sweep.exact(Seq(m, m.copy(pairs = 31)), 25, fixedPairSet = true))
    // ngram: a cap that admits a viral shingle may move the pair set
    assert(Sweep.exact(Seq(m, m.copy(pairs = 31, checksum = 8L)), 25, fixedPairSet = false))
    // nothing measured or nothing planted proves nothing
    assert(!Sweep.exact(Seq.empty, 25, fixedPairSet = false))
    assert(!Sweep.exact(Seq(m.copy(plantedFound = 0)), 0, fixedPairSet = false))
  }

  test("checkpoint census: changelog, snapshot (.zip and .sst) and other " +
    "bytes and counts in one walk; a copy has the same census") {
    val root = java.nio.file.Paths.get(T.tempDir("graft_census_"), "ckpt")
    def put(rel: String, bytes: Int): Unit = {
      val p = root.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, Array.fill[Byte](bytes)(1))
    }
    put("state/0/0/1.changelog", 10)
    put("state/0/1/2.changelog", 5)
    put("state/0/0/2.zip", 7)
    put("state/0/0/SSTs/000008-uuid.sst", 20)
    put("state/0/0/.2.zip.uuid.tmp", 4)
    put("state/0/0/.1.changelog.crc", 2)
    put("offsets/0", 3)
    java.nio.file.Files.createDirectories(root.resolve("commits"))
    val want = Sweep.Census(changelogBytes = 15, snapBytes = 27, otherBytes = 9,
      nChangelog = 2, nSnap = 2, files = 7)
    assert(Sweep.census(root.toString) == want)
    val copy = s"${root.getParent}/copy"
    Sweep.copyDir(root.toString, copy)
    assert(Sweep.census(copy) == want)
    assert(new java.io.File(copy, "commits").isDirectory)
    assert(Sweep.census(s"${root.getParent}/missing") ==
      Sweep.Census(0L, 0L, 0L, 0, 0, 0L))
  }
}
