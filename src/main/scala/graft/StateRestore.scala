package graft

import graft.streaming.Streams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checkpoint RESTORE economics — the read-side sibling of `StateSweep`'s
  * upload curve (VERDICT r13 #8): what does a query RESTART pay to reopen
  * a RocksDB state store, and how does that grow with (a) state size,
  * (b) the changelog tail since the last snapshot, and (c) retention?
  *
  * Method: build state through the GRADED v2-state running-total processor
  * (`Streams.runningTotalsTws`, the same pipeline StateSweep and
  * StreamingSpec pin) in `buildWaves` growing-domain waves against one
  * checkpoint. After each wave, stage one TINY probe chunk (50 rows
  * touching EXISTING wave-1 keys, so the emitted totals PROVE the restored
  * state, not just row counts) and measure the drain two ways:
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
  * Ground truth (every probe carries it): after EVERY drain — warm and
  * cold — the emitted per-user MAX total across that sink must equal a
  * batch recompute over that sink's chunks (HALF_UP cents, the StateSweep
  * rule); a restore that loses or double-applies state fails loudly.
  *
  * usage: runMain graft.StateRestore [srcDir] [buildWaves] [probeReps]
  * defaults: /root/testdata/sf0.01  4  3
  */
object StateRestore {
  private val Off = 1000000000L

  final case class ProbePoint(
      afterWave: Int, stateRows: Long, sstBytes: Long,
      nChangelog: Int, nSnap: Int, ckptFiles: Long,
      warmWallSec: Double, coldWallSec: Double)

  /** One drain's measurements, returned by value so `runScenario` is
    * reentrant (no shared mutable drain state — ADVICE r14). */
  final case class DrainStats(wallSec: Double, stateRows: Long, sstBytes: Long)

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val buildWaves = if (args.length > 1) args(1).toInt else 4
    val probeReps = if (args.length > 2) args(2).toInt else 3
    val spark = Graft.session("staterestore")
    spark.sparkContext.setLogLevel("WARN")
    for ((changelog, retain) <- Seq((true, None), (false, None),
                                    (true, Some(2)))) {
      val tag = s"changelog=${if (changelog) "on" else "off"}" +
        retain.map(r => s" minBatchesToRetain=$r").getOrElse("")
      val pts = runScenario(spark, srcDir, changelog, retain, buildWaves,
        probeReps, T.tempDir("graft_staterestore_"))
      pts.foreach { p =>
        println(s"STATERESTORE $tag after_wave=${p.afterWave} " +
          s"state_rows=${p.stateRows} sst_bytes=${p.sstBytes} " +
          s"ckpt_files=${p.ckptFiles}(cl=${p.nChangelog},snap=${p.nSnap}) " +
          s"warm_wall=${T.num(p.warmWallSec, 2)}s cold_wall=${T.num(p.coldWallSec, 2)}s")
      }
      println(s"STATERESTORE SUMMARY $tag " +
        s"state_rows=${pts.map(_.stateRows).mkString(",")} " +
        s"warm=${pts.map(p => T.num(p.warmWallSec, 2)).mkString(",")} " +
        s"cold=${pts.map(p => T.num(p.coldWallSec, 2)).mkString(",")} " +
        s"ckpt_files=${pts.map(_.ckptFiles).mkString(",")}")
    }
    spark.stop()
  }

  /** One scenario: alternate build waves with warm+cold restore probes;
    * verify totals after every drain; fail loudly on mismatch. */
  def runScenario(s: SparkSession, srcDir: String, changelog: Boolean,
                  retain: Option[Int], buildWaves: Int, probeReps: Int,
                  base: String): Seq[ProbePoint] = {
    val chunkDir = s"$base/chunks"
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    val prov = "spark.sql.streaming.stateStore.providerClass"
    val clConf =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val retConf = "spark.sql.streaming.minBatchesToRetain"
    val olds = Seq(prov, clConf, retConf).map(k => k -> s.conf.getOption(k))
    s.conf.set(prov,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set(clConf, changelog.toString)
    retain.foreach(r => s.conf.set(retConf, r.toString))
    try {
      val events = T.t(s, srcDir, "events")
      var nextChunk = 0
      var probeSeq = 0
      def drain(ckptDir: String, outDir: String): DrainStats = {
        val t0 = System.nanoTime()
        val q = Streams.runningTotalsTws(Streams.readReplay(s, chunkDir))
          .toDF("user_id", "total_cents")
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckptDir)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val op = Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).headOption
        DrainStats(
          (System.nanoTime() - t0) / 1e9,
          op.map(_.numRowsTotal).getOrElse(-1L),
          op.flatMap(o => Option(o.customMetrics.get("rocksdbSstFileSize")))
            .map(_.longValue).getOrElse(-1L))
      }
      (1 to buildWaves).map { w =>
        // build wave w: whole events fixture, all-new key domain per wave
        val shifted = events
          .withColumn("event_id", col("event_id") + lit(w * Off))
          .withColumn("user_id", col("user_id") + lit(w * Off))
        Streams.appendChunks(s, shifted, chunkDir, 4, startIdx = nextChunk)
        nextChunk += 4
        drain(ckpt, out) // absorbs the wave; build cost, not probed
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
            .withColumn("event_id",
              col("event_id") + lit((100 + probeSeq) * Off))
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
          var cold = -1.0
          var attempt = 0
          while (cold < 0 && attempt < 3) {
            attempt += 1
            val ckptC = s"$base/ckpt_cold_${probeSeq}_$attempt"
            val outC = s"$base/out_cold_${probeSeq}_$attempt"
            copyDir(ckpt, ckptC); copyDir(out, outC)
            try {
              cold = drain(ckptC, outC).wallSec
              verify(s, outC, chunkDir)
            } catch {
              case e @ (_: org.apache.spark.sql.streaming.StreamingQueryException
                      | _: org.apache.spark.sql.AnalysisException
                      | _: org.apache.spark.SparkException) =>
                cold = -1.0
                if (attempt == 3) throw e
            }
          }
          val warm = drain(ckpt, out)
          verify(s, out, chunkDir)
          (warm, cold)
        }
        val warm = reps.map(_._1.wallSec).min
        val cold = reps.map(_._2).min
        val lastDrain = reps.last._1
        val (_, _, _, nCl, nSnap) = StateSweep.ckptBytes(ckpt)
        ProbePoint(w, lastDrain.stateRows, lastDrain.sstBytes, nCl, nSnap,
          countFiles(ckpt), warm, cold)
      }
    } finally olds.foreach { case (k, v) =>
      v match { case Some(x) => s.conf.set(k, x); case None => s.conf.unset(k) }
    }
  }

  /** Exactness after a restore: max emitted total per user (monotone —
    * value ≥ 0 on the fixtures) vs a batch recompute over ALL chunks the
    * drained query has seen. The sink is read through a part-file GLOB,
    * bypassing `_spark_metadata`: a COPIED sink's metadata log lists the
    * pre-copy batches under their original absolute paths and the copied
    * dir's physical files are invisible through it (a real operational
    * caveat of cloning a file-sink pipeline — rewrite the sink log or use
    * a fresh sink in production; exactly-once sink bookkeeping itself is
    * pinned by StreamingSpec's restart test). If a restore LOST state, the
    * cold drain emits a too-small total for a probe-touched key and the
    * pre-copy files only carry the pre-probe total, so max() over the glob
    * still surfaces the loss. */
  private def verify(s: SparkSession, out: String, chunkDir: String): Unit = {
    val got = s.read.parquet(s"$out/part-*")
      .groupBy("user_id").agg(max("total_cents").as("got"))
    val want = s.read.parquet(chunkDir)
      .groupBy("user_id")
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("want"))
    val badRows = got.join(want, Seq("user_id"), "full_outer")
      .filter(col("got").isNull || col("want").isNull ||
        col("got") =!= col("want"))
    val bad = badRows.count()
    if (bad > 0) badRows.orderBy("user_id").show(20, truncate = false)
    require(bad == 0L, s"restore lost/double-applied state: $bad user mismatches")
  }

  /** Recursive dir copy tolerant of files VANISHING mid-copy: RocksDB's
    * async maintenance task writes and deletes temp snapshot parts
    * (`.N.zip.<uuid>.tmp`) under the live checkpoint — a vanished file is
    * by definition not part of any committed version, so skipping it keeps
    * the copy a valid checkpoint (Files.walk itself throws from
    * readAttributes on such files, hence the manual recursion). */
  private def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    def rec(p: java.nio.file.Path): Unit = try {
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) {
        java.nio.file.Files.createDirectories(t)
        scala.util.Using.resource(java.nio.file.Files.list(p)) { st =>
          val it = st.iterator()
          while (it.hasNext) rec(it.next())
        }
      } else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case _: java.nio.file.NoSuchFileException => ()
      case _: java.io.FileNotFoundException => ()
    }
    rec(src)
  }

  private def countFiles(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return 0L
    var n = 0L
    def rec(p: java.nio.file.Path): Unit = try {
      if (java.nio.file.Files.isDirectory(p))
        scala.util.Using.resource(java.nio.file.Files.list(p)) { st =>
          val it = st.iterator()
          while (it.hasNext) rec(it.next())
        }
      else n += 1
    } catch {
      case _: java.nio.file.NoSuchFileException => ()
      case _: java.io.FileNotFoundException => ()
    }
    rec(root)
    n
  }
}
