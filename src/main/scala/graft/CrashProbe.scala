package graft

import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** DRIVER-death recovery exactness probe — completes the failure triad:
  * task retry (RetryProbe), executor loss (LossProbe), and now the whole
  * driver JVM dying mid-stream. At 100 TB a streaming driver is a
  * long-lived process that WILL be killed (node reclaim, OOM, deploy);
  * the recovery contract is that a restart from the checkpoint converges
  * to exactly the uninterrupted run's output. That path is different from
  * everything the other two probes reach: the offset WAL is written at
  * batch START, so a mid-batch driver death leaves a TORN batch (offsets
  * log ahead of the commit log) that the restarted query must re-execute
  * against the transactional file-sink metadata / the foreachBatch
  * idempotence guards / the RocksDB state store's changelog.
  *
  * Mechanics: each scenario runs THREE child JVMs over the same staged
  * chunk replay (Trigger.AvailableNow, maxFilesPerTrigger=1, RocksDB
  * state store):
  *
  *   1. CONTROL — fresh sink+checkpoint, no fault, must exit 0;
  *   2. VICTIM — fresh sink+checkpoint, `Runtime.halt(137)` fired from
  *      INSIDE the stream (a poison event_id hit while batch N is
  *      in-flight, or — for the upsert sink — between the atomic swap and
  *      the commit marker of batch N: the adversarial point where data is
  *      applied but not acknowledged). halt() skips all shutdown hooks, so
  *      this is bit-for-bit a SIGKILL. The parent asserts the death was
  *      genuinely mid-batch: max(offsets) > max(commits) in the checkpoint
  *      (torn batch), with ≥1 batch committed before it (mid-stream, not
  *      at-start);
  *   3. RECOVERY — same sink+checkpoint, no fault, must exit 0.
  *
  * and then pins multiset(recovery sink) == multiset(control sink).
  * Scenarios:
  *
  *   - `filesink_dedup`: dropDuplicatesWithinWatermark → parquet sink.
  *     Exercises offset-WAL replay of the torn batch, exactly-once file
  *     commit via the sink's _spark_metadata log (orphaned data files from
  *     the dead attempt must be invisible), and dedup state recovery.
  *   - `upsert_torn_marker`: the foreachBatch upsert sink with the death
  *     between swap and marker. The restarted query REDELIVERS the torn
  *     batch (foreachBatch is at-least-once); the latest-wins rewrite must
  *     converge rather than double-apply.
  *   - `session_rocksdb`: session-window aggregation (RocksDB provider)
  *     → parquet sink. Exercises state-store recovery: the torn batch's
  *     uncommitted state delta must be discarded and rebuilt.
  *
  * usage: java <add-opens> -cp "target/scala-2.13/classes:/opt/spark/jars/＊"
  *   graft.CrashProbe [srcDir]   (default /root/testdata/sf0.01; the ＊ is
  *   a literal star, spelled fullwidth so star-slash can't close this
  *   comment). Child JVMs are spawned with the same classpath.
  */
object CrashProbe {

  final case class ScenarioResult(name: String, rows: Long, missing: Long,
                                  extra: Long, victimExit: Int,
                                  tornBatch: Long, committedBefore: Long) {
    // exact ⇔ sinks match, the victim really died (137 = halt), the death
    // left a torn batch, and it landed mid-stream (≥1 batch already done)
    def exact: Boolean = missing == 0 && extra == 0 && rows > 0 &&
      victimExit != 0 && tornBatch >= 0 && committedBefore >= 1
  }

  /** Max batch id present in a checkpoint sub-log (offsets/commits), -1
    * if none. Compaction never runs at probe scale, so plain filenames. */
  private def maxBatch(ckpt: String, sub: String): Long = {
    val d = new java.io.File(ckpt, sub)
    if (!d.exists()) return -1L
    val ids = d.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    if (ids.isEmpty) -1L else ids.max
  }

  private def javaBin: String =
    new java.io.File(new java.io.File(sys.props("java.home"), "bin"), "java").getPath

  /** Spawn one CrashProbeChild run; returns the exit code. Output is
    * appended to `$logDir/<scenario>_<phase>.log` for post-mortems.
    * `env` overlays the child's environment (TopologyProbe uses it to
    * re-master the child onto a local-cluster). */
  def runChild(scenario: String, chunkDir: String, sinkDir: String,
               ckptDir: String, haltAt: Long, logDir: String,
               phase: String, env: Map[String, String] = Map.empty): Int = {
    val opens = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split("\\s+").toSeq.filter(_.nonEmpty)
    val cmd = Seq(javaBin) ++ opens ++ Seq(
      "-Xmx4g", "-cp", T.absClassPath,
      "graft.CrashProbeChild",
      scenario, chunkDir, sinkDir, ckptDir, haltAt.toString)
    val log = new java.io.File(logDir, s"${scenario}_$phase.log")
    val pb = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(java.lang.ProcessBuilder.Redirect.appendTo(log))
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    if (!p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) {
      p.destroyForcibly(); require(false, s"$scenario/$phase child hung")
    }
    p.exitValue()
  }

  private def diff(a: DataFrame, b: DataFrame): (Long, Long) =
    (a.exceptAll(b).count(), b.exceptAll(a).count())

  /** A control/victim/recovery triple over `chunkDir`; `readSink` turns a
    * sink root into the comparable DataFrame. */
  def scenario(s: SparkSession, name: String, chunkDir: String,
               base: String, poison: Long,
               readSink: String => DataFrame): ScenarioResult = {
    val (ctlSink, ctlCkpt) = (s"$base/ctl_sink", s"$base/ctl_ckpt")
    val (vSink, vCkpt) = (s"$base/v_sink", s"$base/v_ckpt")
    val rcCtl = runChild(name, chunkDir, ctlSink, ctlCkpt, -1L, base, "control")
    require(rcCtl == 0, s"$name control child exited $rcCtl")
    val rcVictim = runChild(name, chunkDir, vSink, vCkpt, poison, base, "victim")
    val off = maxBatch(vCkpt, "offsets")
    val com = maxBatch(vCkpt, "commits")
    val torn = if (off > com) off else -1L
    val rcRec = runChild(name, chunkDir, vSink, vCkpt, -1L, base, "recovery")
    require(rcRec == 0, s"$name recovery child exited $rcRec")
    val ctl = readSink(ctlSink)
    val rec = readSink(vSink)
    val (m, e) = diff(ctl, rec)
    ScenarioResult(name, ctl.count(), m, e, rcVictim, torn, com)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val s = Graft.session("graft-crashprobe", 8)
    s.sparkContext.setLogLevel("WARN")

    // one replay per scenario family: plain for dedup/upsert, flushTail for
    // sessions (the sentinel chunk drives the watermark past every real
    // event so closed sessions actually emit before AvailableNow drains)
    val chunksPlain = T.tempDir("graft_crash_chunks_")
    Streams.writeChunks(s, srcDir, chunksPlain, n = 6)
    val chunksFlush = T.tempDir("graft_crash_chunksf_")
    Streams.writeChunks(s, srcDir, chunksFlush, n = 6, flushTail = true)

    // poison = first event_id of chunk 3: batches 0-2 commit clean, the
    // death lands while batch 3 is in-flight (its offset WAL already down)
    def poisonOf(dir: String): Long =
      s.read.parquet(s"$dir/chunk_003.parquet")
        .orderBy("event_id").select("event_id").head().getLong(0)

    val results = Seq(
      scenario(s, "filesink_dedup", chunksPlain,
        T.tempDir("graft_crash_fs_"), poisonOf(chunksPlain),
        p => s.read.parquet(p)),
      scenario(s, "upsert_torn_marker", chunksPlain,
        T.tempDir("graft_crash_up_"), 2L, // halt between swap and marker of batch 2
        p => s.read.parquet(s"$p/data")),
      scenario(s, "session_rocksdb", chunksFlush,
        T.tempDir("graft_crash_se_"), poisonOf(chunksFlush),
        p => s.read.parquet(p)))

    results.foreach { r =>
      println(s"CRASHPROBE ${r.name} rows=${r.rows} missing=${r.missing} " +
        s"extra=${r.extra} victimExit=${r.victimExit} tornBatch=${r.tornBatch} " +
        s"committedBefore=${r.committedBefore} " +
        s"exact=${if (r.exact) "OK" else "MISMATCH"}")
    }
    s.stop()
    if (!results.forall(_.exact)) {
      System.err.println("CRASHPROBE: a scenario diverged, died cleanly, " +
        "or the death was not mid-batch")
      sys.exit(1)
    }
  }
}

/** The victim/control/recovery process: runs ONE streaming scenario over a
  * staged chunk replay and exits 0 when the AvailableNow drain completes.
  * With `haltAt >= 0` it instead dies via `Runtime.halt(137)` at the
  * scenario's fault point (see CrashProbe). Runs RocksDB state store — the
  * provider a 100 TB deployment runs — so recovery also exercises the
  * changelog/snapshot rebuild path. */
object CrashProbeChild {

  /** Poison-row pass-through: halts the WHOLE JVM (driver + in-process
    * executors — local mode makes this a full process death) the moment
    * `haltAt`'s event_id streams past. No-op wrapper when haltAt < 0. */
  def poisoned(df: DataFrame, haltAt: Long): DataFrame = {
    if (haltAt < 0) return df
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(df.schema)
    val idx = df.schema.fieldIndex("event_id")
    df.mapPartitions { it =>
      it.map { r =>
        if (r.getLong(idx) == haltAt) Runtime.getRuntime.halt(137)
        r
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(scenarioName, chunkDir, sinkDir, ckptDir, haltAtStr) = args
    val haltAt = haltAtStr.toLong
    // TopologyProbe re-masters this same child onto a local-cluster (real
    // executor JVMs) with a DIFFERENT shuffle-partitions conf to prove a
    // checkpoint survives a topology change; default stays local[8]
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8").toInt
    // executor memory is inert under local[n]; under local-cluster the
    // factory wires the executor JVMs and SPARK_GRAFT_EXEC_MEM overrides it
    val s = Graft.session(s"graft-crash-child-$scenarioName", shuffle,
      Some(master), Map("spark.executor.memory" -> "3g",
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    s.sparkContext.setLogLevel("WARN")

    val src = Streams.readReplay(s, chunkDir)
    val q = scenarioName match {
      case "filesink_dedup" =>
        Streams.dedup(poisoned(src, haltAt))
          .writeStream.format("parquet")
          .option("path", sinkDir).option("checkpointLocation", ckptDir)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow()).start()
      case "upsert_torn_marker" =>
        val hook: Long => Unit =
          id => if (haltAt >= 0 && id == haltAt) Runtime.getRuntime.halt(137)
        src.writeStream
          .foreachBatch((b: org.apache.spark.sql.Dataset[Row], id: java.lang.Long) =>
            Streams.upsertBatch(sinkDir, hook)(b.toDF(), id))
          .option("checkpointLocation", ckptDir)
          .trigger(Trigger.AvailableNow()).start()
      case "session_rocksdb" =>
        Streams.sessions(poisoned(src, haltAt))
          .writeStream.format("parquet")
          .option("path", sinkDir).option("checkpointLocation", ckptDir)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow()).start()
      case other => sys.error(s"unknown scenario $other")
    }
    q.awaitTermination()
    // TopologyProbe greps this to prove the resume really ran multi-JVM
    // (driver + n executor entries under local-cluster; 1 under local[n])
    println(s"CHILD executors=${s.sparkContext.statusTracker.getExecutorInfos.length}")
    s.stop()
  }
}
