package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Deterministic scale diagnostics for every registered key: per-query
  * task-metric totals — shuffle write/read bytes, disk+memory spill, scan
  * input bytes, executor CPU time, task count, per-task peak execution
  * memory — collected by a SparkListener across one measured board pass.
  *
  * WHY (r15): wall-clock on this shared box prices 1.3–1.6× drifts that
  * mask real regressions until they are 6–21× (the DECIMAL(38,0) hash
  * repricing was caught by luck against a same-day anchor — BASELINE.md).
  * Bytes moved and CPU-ns burned are load-immune: running the SAME build
  * at two SFs gives a per-key DECADE EXPONENT for shuffle volume and CPU
  * that flags super-linear work structurally, before it costs wall time.
  * At 100 TB the shuffle-bytes exponent IS the scalability contract: a key
  * whose shuffle grows at 10^1.3 per data decade is a cliff in waiting no
  * matter how fast today's box absorbs it. Interpretation caveats (the
  * non-stationary exponent classes, the broadcast→shuffle transition
  * step) are documented in BASELINE.md "second decade".
  *
  * Attribution (v2): each key's action runs under a JOB GROUP and task
  * metrics attribute by stage→job→group, so late-landing task events from
  * key A can no longer bleed into key B's window — the defect that made
  * full-board CPU read up to 6× inflated for sub-second keys in v1
  * (BASELINE.md). Tasks with no group mapping (streaming micro-batch
  * threads don't always inherit the group property) fall back to the
  * currently-running key, which reproduces v1 behavior for exactly the
  * streaming keys; a final `unattributed` counter in the JSON proves the
  * fallback stayed small.
  *
  * Method notes:
  *  - A full UNTIMED warm pass runs first so session-staged shared
  *    artifacts (pair-support parquet, oriented adjacency, dedup index)
  *    attribute to staging, not to whichever key alphabetically touches
  *    them first; the measured pass then prices steady reuse — the same
  *    discipline BenchSteady uses for wall time.
  *  - Each snapshot waits (T.settle, 5 s cap) until totals are stable
  *    for 100 ms (the listener bus is async and its public API has no
  *    drain call); `drain_timeouts` counts keys that never settled.
  *  - Task retries/speculation would double-count bytes; local[32] runs
  *    have none in practice and n_tasks makes any such run visible.
  *
  * usage: runMain graft.ScaleBytes <outJson> [keyFilter,comma,separated]
  * env:   SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default:
  *        every processor)
  * Pair two runs (sf0.01 vs sf0.1) with tools/scalebytes_diff.py.
  */
object ScaleBytes {
  private final class M {
    val shufW = new AtomicLong; val shufR = new AtomicLong
    val spillD = new AtomicLong; val spillM = new AtomicLong
    val input = new AtomicLong; val cpuNs = new AtomicLong
    val tasks = new AtomicLong; val peak = new AtomicLong
    def snap: Seq[Long] = Seq(shufW.get, shufR.get, spillD.get,
      spillM.get, input.get, cpuNs.get, tasks.get)
  }

  def main(args: Array[String]): Unit = {
    val outPath = args(0)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Graft.defaultCores
    val spark = Graft.session("scalebytes", cpus)
    spark.sparkContext.setLogLevel("WARN")
    val perKey = new ConcurrentHashMap[String, M]()
    def bucket(k: String): M = perKey.computeIfAbsent(k, _ => new M)
    val stageGroup = new ConcurrentHashMap[Int, String]()
    @volatile var currentKey = "warmup"
    @volatile var measuring = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = j.properties.getProperty("spark.jobGroup.id")
        if (g != null && g.startsWith("sb:")) {
          val key = g.substring(3)
          j.stageIds.foreach(sid => stageGroup.put(sid, key))
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val tm = t.taskMetrics
        if (tm != null && measuring) {
          val key = stageGroup.getOrDefault(t.stageId, currentKey)
          val m = bucket(key)
          m.shufW.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
          m.shufR.addAndGet(tm.shuffleReadMetrics.totalBytesRead)
          m.spillD.addAndGet(tm.diskBytesSpilled)
          m.spillM.addAndGet(tm.memoryBytesSpilled)
          m.input.addAndGet(tm.inputMetrics.bytesRead)
          m.cpuNs.addAndGet(tm.executorCpuTime)
          m.tasks.incrementAndGet()
          m.peak.getAndUpdate(p => math.max(p, tm.peakExecutionMemory))
        }
      }
    })
    // keys whose counters did not settle within the drain's 5 s. Group
    // attribution already prevents cross-key bleed for batch keys; the
    // drain keeps the currentKey FALLBACK fair for streaming keys.
    var drainTimeouts = 0
    val board = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // untimed warm pass: staging, codegen, page cache
    board.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => }
    }
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    measuring = true
    val rows = board.map { case (name, fn) =>
      currentKey = name
      spark.sparkContext.setJobGroup(s"sb:$name", name)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        errors += name
        System.err.println(s"[scalebytes] $name FAILED: ${e.getMessage}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      if (!T.settle(5000L)(bucket(name).snap)) drainTimeouts += 1
      val m = bucket(name)
      val d = m.snap
      f"""  "$name": {"shuf_w": ${d(0)}, "shuf_r": ${d(1)}, "spill_d": ${
        d(2)}, "spill_m": ${d(3)}, "input": ${d(4)}, "cpu_ms": ${
        d(5) / 1000000}, "tasks": ${d(6)}, "peak_task_mem": ${
        m.peak.get}, "wall_s": $wall%.3f}"""
    }
    currentKey = "late_unattributed"
    val late = bucket("late_unattributed").snap
    val json = s"""{"sf": "$sfDir", "cpus": $cpus, "n_errors": ${
      errors.size}, "drain_timeouts": $drainTimeouts, "late_unattributed_cpu_ms": ${
      late(5) / 1000000},
"keys": {
${rows.mkString(",\n")}
}}
"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(s"[scalebytes] wrote $outPath keys=${rows.size} errors=${
      errors.size} late_cpu_ms=${late(5) / 1000000}")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
