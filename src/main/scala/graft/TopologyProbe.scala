package graft

import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Checkpoint portability across a TOPOLOGY CHANGE. A production streaming
  * job restarts on whatever the scheduler gives it — a different executor
  * fleet, a retuned `spark.sql.shuffle.partitions` — and the checkpoint
  * must carry the state through: Spark pins every stateful operator's
  * partitioning in the offset log's conf snapshot, so a resume IGNORES the
  * new session's shuffle conf for state placement, and RocksDB state files
  * written by single-JVM tasks must reopen inside real executor processes
  * reading the same (shared-FS) checkpoint. StateRestore (r14) proved
  * warm/cold restores within one JVM topology; this probe proves the
  * cross-topology contract:
  *
  *   phase A  local[8], shuffle=8  — drain chunks 0-2 into sink+ckpt;
  *   phase B  local-cluster[2,4] (REAL executor JVMs), shuffle=4 — stage
  *            chunks 3-5 and RESUME the same sink+ckpt;
  *   control  local[8], all 6 chunks, one uninterrupted run.
  *
  * Verdicts per scenario (both stateful shapes from CrashProbeChild —
  * dropDuplicatesWithinWatermark → file sink, session-window agg with
  * RocksDB): sink multiset-equal to control; phase B advanced the batch
  * counter; phase B really ran multi-JVM (≥3 executor-info entries:
  * driver + 2 executors); and the resumed offset log still carries the
  * ORIGINAL shuffle partitioning (8) while phase B's session conf said 4 —
  * the pinning that makes the whole thing exact.
  *
  * usage: SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   java <add-opens> -cp "target/scala-2.13/classes:/opt/spark/jars/＊" \
  *   graft.TopologyProbe [srcDir]     (default /root/testdata/sf0.01; the
  *   ＊ is a literal star — fullwidth so a star-slash can't close this
  *   comment)
  */
object TopologyProbe {

  final case class ScenarioResult(name: String, rows: Long, missing: Long,
                                  extra: Long, batchesA: Long, batchesB: Long,
                                  executorsB: Int, pinnedShuffle: Boolean) {
    def exact: Boolean = missing == 0 && extra == 0 && rows > 0 &&
      batchesA >= 1 && batchesB > batchesA && executorsB >= 3 && pinnedShuffle
  }

  private def maxBatch(ckpt: String, sub: String): Long = {
    val d = new java.io.File(ckpt, sub)
    if (!d.exists()) return -1L
    val ids = d.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    if (ids.isEmpty) -1L else ids.max
  }

  /** Copy chunk files [from, until) of `allDir` into `replayDir`, mtime-
    * spaced so the file source sees them in chunk order. */
  private def copyChunks(allDir: String, replayDir: String,
                         from: Int, until: Int): Unit = {
    val fs = new java.io.File(allDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .slice(from, until)
    fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(replayDir, f.getName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Thread.sleep(15)
    }
  }

  /** The resumed offset log must still carry the phase-A shuffle conf (8):
    * every offsets entry embeds a conf snapshot, and a stateful resume
    * reuses the CHECKPOINTED value for state placement. */
  private def offsetsPinShuffle(ckpt: String, expect: String): Boolean = {
    val d = new java.io.File(ckpt, "offsets")
    val latest = d.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    val txt = new String(java.nio.file.Files.readAllBytes(latest.toPath))
    txt.contains(s""""spark.sql.shuffle.partitions":"$expect"""")
  }

  private def lastExecutorCount(log: java.io.File): Int = {
    val lines = scala.io.Source.fromFile(log)
    try lines.getLines().toSeq.reverse
      .collectFirst { case l if l.startsWith("CHILD executors=") =>
        l.stripPrefix("CHILD executors=").trim.toInt }
      .getOrElse(-1)
    finally lines.close()
  }

  def scenario(s: SparkSession, name: String, allChunks: String,
               base: String, clusterEnv: Map[String, String],
               readSink: String => DataFrame): ScenarioResult = {
    val (sink, ckpt) = (s"$base/sink", s"$base/ckpt")
    val (ctlSink, ctlCkpt) = (s"$base/ctl_sink", s"$base/ctl_ckpt")
    val replay = s"$base/replay"; new java.io.File(replay).mkdirs()
    val ctlReplay = s"$base/ctl_replay"; new java.io.File(ctlReplay).mkdirs()

    // phase A: single-JVM local[8], first half of the replay
    copyChunks(allChunks, replay, 0, 3)
    val rcA = CrashProbe.runChild(name, replay, sink, ckpt, -1L, base, "phaseA")
    require(rcA == 0, s"$name phase A exited $rcA")
    val batchesA = maxBatch(ckpt, "commits")

    // phase B: the SAME checkpoint resumed under a local-cluster with a
    // different shuffle conf, with the rest of the replay staged (with
    // flushTail the chunk dir holds n+1 files — take everything past 3)
    copyChunks(allChunks, replay, 3, Int.MaxValue)
    val rcB = CrashProbe.runChild(name, replay, sink, ckpt, -1L, base,
      "phaseB", clusterEnv)
    require(rcB == 0, s"$name phase B exited $rcB")
    val batchesB = maxBatch(ckpt, "commits")
    val execB = lastExecutorCount(new java.io.File(base, s"${name}_phaseB.log"))
    val pinned = offsetsPinShuffle(ckpt, "8")

    // control: one uninterrupted single-topology run over every chunk
    copyChunks(allChunks, ctlReplay, 0, Int.MaxValue)
    val rcC = CrashProbe.runChild(name, ctlReplay, ctlSink, ctlCkpt, -1L,
      base, "control")
    require(rcC == 0, s"$name control exited $rcC")

    val ctl = readSink(ctlSink)
    val got = readSink(sink)
    val m = ctl.exceptAll(got).count()
    val e = got.exceptAll(ctl).count()
    ScenarioResult(name, ctl.count(), m, e, batchesA, batchesB, execB, pinned)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    require(sys.env.contains("SPARK_HOME"),
      "SPARK_HOME must point at a Spark dist (phase B launches executor JVMs)")
    val clusterEnv = Map(
      "SPARK_GRAFT_MASTER" -> sys.env.getOrElse("SPARK_GRAFT_MASTER",
        "local-cluster[2,4,3072]"),
      "SPARK_GRAFT_SHUFFLE" -> "4",
      "SPARK_HOME" -> sys.env("SPARK_HOME"),
      "SPARK_SCALA_VERSION" -> sys.env.getOrElse("SPARK_SCALA_VERSION", "2.13"))
    val s = Graft.session("graft-topologyprobe", 8)
    s.sparkContext.setLogLevel("WARN")

    val chunksPlain = T.tempDir("graft_topo_chunks_")
    Streams.writeChunks(s, srcDir, chunksPlain, n = 6)
    val chunksFlush = T.tempDir("graft_topo_chunksf_")
    Streams.writeChunks(s, srcDir, chunksFlush, n = 6, flushTail = true)

    val results = Seq(
      scenario(s, "filesink_dedup", chunksPlain,
        T.tempDir("graft_topo_fs_"), clusterEnv, p => s.read.parquet(p)),
      scenario(s, "session_rocksdb", chunksFlush,
        T.tempDir("graft_topo_se_"), clusterEnv, p => s.read.parquet(p)))

    results.foreach { r =>
      println(s"TOPOLOGYPROBE ${r.name} rows=${r.rows} missing=${r.missing} " +
        s"extra=${r.extra} batchesA=${r.batchesA} batchesB=${r.batchesB} " +
        s"executorsB=${r.executorsB} pinnedShuffle=${r.pinnedShuffle} " +
        s"exact=${if (r.exact) "OK" else "MISMATCH"}")
    }
    s.stop()
    if (!results.forall(_.exact)) {
      System.err.println("TOPOLOGYPROBE: a scenario diverged, failed to go " +
        "multi-JVM, or lost the checkpointed partitioning")
      sys.exit(1)
    }
  }
}
