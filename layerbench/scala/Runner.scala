package layerbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}
import graft.{Exec, Graft, T}

/** One unit of work in a pass: a registered key, or a SQL script. */
sealed trait Item { def name: String }
final case class KeyItem(name: String, fn: (SparkSession, String) => DataFrame) extends Item
final case class ScriptItem(name: String, script: String, tables: Seq[String]) extends Item

final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def json: String = Json.obj("id" -> id, "parent" -> parent, "kind" -> kind,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
}

/** Settings of one benchmark run (see Main for the flags). */
final case class Conf(
    workload: String, seed: Long, warmPasses: Int, trace: Boolean,
    sfDir: String, outDir: String, action: String,
    commit: String, dumpDir: Option[String]) {
  /** local[nproc]: every core of the machine the benchmark runs on. */
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

/** Runs passes over a workload's items in one JVM, timing each layer from
  * outside through the program's public functions, and writes one JSON
  * record per set-up, key, pass and fingerprint to `records.jsonl` (and,
  * when traced, every span to `spans.jsonl`). */
final class Runner(conf: Conf, items: Seq[Item]) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def ms(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
  private val cpuBean = os.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def loadAvg: Double = os.getSystemLoadAverage

  /** CPU time stolen from this machine by its hypervisor, in seconds
    * (Linux /proc/stat; NaN elsewhere): the share of load that the load
    * average cannot see on a virtual machine. */
  private def stealS: Double =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally f.close()
    } catch { case _: Exception => Double.NaN }
  private def cpuNanos: Long = cpuBean.getProcessCpuTime

  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  private def newId(): Long = ids.incrementAndGet()
  private val runId = newId()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val records = mutable.ArrayBuffer.empty[String]
  def emit(kv: (String, Any)*): Unit = records += Json.obj(kv: _*)

  val probe = new Probe
  var spark: SparkSession = _
  private var measureStart = 0L
  var lastPass = 0

  /** Peak heap in use, sampled every 10 ms by a daemon thread. */
  private object Heap {
    @volatile var peak = 0L
    private val mem = ManagementFactory.getMemoryMXBean
    def reset(): Unit = peak = mem.getHeapMemoryUsage.getUsed
    val thread = new Thread(() => {
      while (true) {
        val u = mem.getHeapMemoryUsage.getUsed
        if (u > peak) peak = u
        Thread.sleep(10)
      }
    }, "layerbench-heap")
    thread.setDaemon(true)
    thread.start()
  }

  /** Codegen compiles so far in this JVM and their total time (ns). Both
    * are running totals; the compile-time histogram's snapshot is a
    * sampling reservoir, so its sum is not used. */
  private def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  // ------------------------------------------------------------------ set-up

  /** Set up once, as a user's first session in a fresh JVM does:
    * Graft.session, Graft.registerTables and an untimed warm-up query. The
    * JVM boot share (JVM start to entering main) is recorded in the header;
    * with the set-up it is the time from JVM start to a ready session. */
  def setup(mainEnteredMs: Long): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    emit("type" -> "header", "workload" -> conf.workload, "seed" -> conf.seed,
      "trace" -> conf.trace, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cores" -> conf.cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "java" -> System.getProperty("java.version"), "commit" -> conf.commit,
      "sf_dir" -> conf.sfDir, "action" -> conf.action,
      "keys" -> items.map(_.name), "jvm_boot_s" -> (mainEnteredMs - jvmStart) / 1e3,
      "load_start" -> loadAvg)
    val t0 = System.nanoTime()
    spark = Graft.session("layerbench", conf.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    Graft.registerTables(spark, conf.sfDir)
    val t2 = System.nanoTime()
    val li = spark.table("lineitem")
    li.groupBy("l_returnflag").count().collect()
    li.limit(1000).orderBy("l_orderkey").collect()
    val t3 = System.nanoTime()
    emit("type" -> "setup", "session_ms" -> (t1 - t0) / 1e6,
      "register_ms" -> (t2 - t1) / 1e6, "warmup_ms" -> (t3 - t2) / 1e6,
      "total_s" -> (t3 - t0) / 1e9)
    if (conf.trace) {
      val id = newId()
      spans += Span(id, runId, "setup", "setup", ms(t0), ms(t3))
      spans += Span(newId(), id, "session", "Graft.session", ms(t0), ms(t1))
      spans += Span(newId(), id, "register", "Graft.registerTables", ms(t1), ms(t2))
      spans += Span(newId(), id, "warmup", "warmup", ms(t2), ms(t3))
    }
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
  }

  // ------------------------------------------------------------------ passes

  private def outPath(pass: Int, key: String): String =
    Paths.get(conf.outDir, "sink", s"p$pass", key).toString

  private def act(df: DataFrame, pass: Int, key: String): Unit = conf.action match {
    case "noop" => df.write.format("noop").mode("overwrite").save()
    case "parquet" => df.write.mode("overwrite").parquet(outPath(pass, key))
    case other => throw new IllegalArgumentException(s"unknown action $other")
  }

  /** Key order within a pass: a permutation drawn from the seed. */
  def order(pass: Int): Seq[Item] =
    new scala.util.Random(conf.seed * 1000003L + pass).shuffle(items)

  /** Run one pass. Returns the number of failed operations. */
  def runPass(pass: Int, kind: String, traced: Boolean): Int = {
    val passId = newId()
    val la0 = loadAvg
    val steal0 = stealS
    val cpu0 = cpuNanos
    Heap.reset()
    val t0 = System.nanoTime()
    val failed = order(pass).zipWithIndex.map { case (it, i) =>
      runItem(pass, passId, i, it, traced)
    }.sum
    val t1 = System.nanoTime()
    emit("type" -> "pass", "pass" -> pass, "kind" -> kind, "traced" -> traced,
      "wall_s" -> (t1 - t0) / 1e9, "cpu_s" -> (cpuNanos - cpu0) / 1e9,
      "peak_heap_mb" -> Heap.peak / 1048576.0, "load_start" -> la0,
      "load_end" -> loadAvg, "steal_s" -> (stealS - steal0), "failed" -> failed,
      "start_offset_s" -> (t0 - measureStart) / 1e9)
    if (traced) spans += Span(passId, runId, "pass", s"pass$pass", ms(t0), ms(t1))
    if (conf.action == "parquet" && pass > 0) deleteTree(Paths.get(conf.outDir, "sink", s"p${pass - 1}"))
    failed
  }

  private def runItem(pass: Int, passId: Long, idx: Int, item: Item,
                      traced: Boolean): Int = {
    val sc = spark.sparkContext
    val id = newId()
    val tk0 = System.nanoTime()
    val la0 = loadAvg
    if (traced) probe.begin(id)
    sc.setJobGroup(s"lb:$id", item.name, interruptOnCancel = false)
    val cg0 = if (traced) codegen else (0L, 0L)
    val cpu0 = cpuNanos
    val st0 = T.stagingNanos.get()
    var df: DataFrame = null
    var err: String = null
    var stmts, stmtFailed = 0
    val t0 = System.nanoTime()
    var t1 = t0
    var st1 = st0
    try {
      item match {
        case k: KeyItem => df = k.fn(spark, conf.sfDir)
        case _: ScriptItem =>
      }
      t1 = System.nanoTime(); st1 = T.stagingNanos.get()
      item match {
        case _: KeyItem => act(df, pass, item.name)
        case s: ScriptItem =>
          val rs = Exec.runScript(spark, s.script, Exec.ContinueOnError)
          stmts = rs.size
          stmtFailed = rs.count(!_.ok)
          rs.find(!_.ok).foreach(r => err = s"statement ${r.index}: ${r.error.getOrElse("")}")
      }
    } catch {
      case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        if (t1 == t0) { t1 = System.nanoTime(); st1 = T.stagingNanos.get() }
    }
    val t2 = System.nanoTime()
    val st2 = T.stagingNanos.get()
    val cpu1 = cpuNanos
    sc.clearJobGroup()
    val tk1 = System.nanoTime()
    if (err != null) System.err.println(s"[layerbench] ${item.name} FAILED: $err")
    val base = Seq[(String, Any)]("type" -> "key", "key" -> item.name,
      "pass" -> pass, "index" -> idx, "seed" -> conf.seed, "traced" -> traced,
      "start_offset_s" -> (t0 - measureStart) / 1e9,
      "load_start" -> la0, "load_end" -> loadAvg,
      "wall_s" -> (t2 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9,
      "exec_s" -> (t2 - t1) / 1e9, "staging_s" -> (st2 - st0) / 1e9,
      "cpu_s" -> (cpu1 - cpu0) / 1e9, "ok" -> (err == null), "error" -> err,
      "statements" -> stmts, "statements_failed" -> stmtFailed,
      "script" -> item.isInstanceOf[ScriptItem])
    val layers =
      if (!traced) Seq.empty
      else {
        probe.drain(id, expectQe = err == null)
        probe.end()
        attribute(id, passId, item, df, tk0, t0, t1, t2, tk1,
          st1 - st0, st2 - st1, cg0)
      }
    emit(base ++ layers: _*)
    val errs = if (err != null) 1 else 0
    if (item.isInstanceOf[ScriptItem]) math.max(stmtFailed, errs) else errs
  }

  /** Split a traced key's wall into build, staging, plan and execute, and
    * read the listeners' counts for it; also records its spans. */
  private def attribute(id: Long, passId: Long, item: Item, df: DataFrame,
                        tk0: Long, t0: Long, t1: Long, t2: Long, tk1: Long,
                        stBuild: Long, stExec: Long,
                        cg0: (Long, Long)): Seq[(String, Any)] = {
    val a = probe.take(id)
    val cg1 = codegen
    val (e0, e1, e2) = (ms(t0), ms(t1), ms(t2))
    val buildId, execId = newId()
    val execKind = if (item.isInstanceOf[ScriptItem]) "statement" else "execute"
    spans += Span(id, passId, "key", item.name, ms(tk0), ms(tk1))
    spans += Span(buildId, id, "build", item.name, e0, e1)
    spans += Span(execId, id, execKind, item.name, e1, e2)
    // T.stagingNanos gives a duration, not an interval: staging spans are
    // laid at the start of the span that paid them
    if (stBuild > 0) spans += Span(newId(), buildId, "staging", item.name,
      e0, e0 + stBuild / 1e6, Map("placement" -> "duration-only"))
    if (stExec > 0) spans += Span(newId(), execId, "staging", item.name,
      e1, e1 + stExec / 1e6, Map("placement" -> "duration-only"))
    val phaseMs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var planInExec = 0.0
    // the key's own DataFrame was analysed while it was built
    if (df != null) df.queryExecution.tracker.phases.get("analysis").foreach { p =>
      phaseMs("analysis") += p.durationMs
      spans += Span(newId(), buildId, "plan", "analysis", p.startTimeMs, p.endTimeMs)
    }
    var stats = PlanStats()
    a.qes.foreach { q =>
      stats = stats + q.stats
      q.phases.foreach { case (name, s, e) =>
        phaseMs(name) += (e - s)
        val inExec = s >= e1 - 1.0
        if (inExec) planInExec += (e - s)
        spans += Span(newId(), if (inExec) execId else buildId, "plan", name, s, e)
      }
    }
    val jobSpanIds = mutable.HashMap.empty[Int, Long]
    a.jobs.foreach { j =>
      val sid = newId()
      jobSpanIds(j.id) = sid
      val end = if (j.endMs >= 0) j.endMs.toDouble else e2
      spans += Span(sid, if (j.startMs < e1) buildId else execId, "job",
        s"job${j.id}", j.startMs, end)
    }
    a.stages.foreach { s =>
      spans += Span(newId(), jobSpanIds.getOrElse(s.jobId, id), "stage",
        s"stage${s.id}.${s.attempt}", s.submitMs, s.endMs, Map("tasks" -> s.tasks))
    }
    // execute wall during which none of the key's jobs ran, less the plan
    // phases and staging already attributed inside it
    val inExec = a.jobs.map(j => (math.max(j.startMs.toDouble, e1),
      math.min(if (j.endMs >= 0) j.endMs.toDouble else e2, e2))).filter(x => x._2 > x._1)
    val covered = union(inExec.toSeq)
    val execMs = e2 - e1
    val gap = math.max(0.0, execMs - covered - planInExec - stExec / 1e6)
    val buildMs = (t1 - t0) / 1e6 - stBuild / 1e6
    val stagingMs = (stBuild + stExec) / 1e6
    val executeMs = execMs - planInExec - stExec / 1e6
    val keyMs = (tk1 - tk0) / 1e6
    Seq("acct_build_ms" -> buildMs, "acct_staging_ms" -> stagingMs,
      "acct_plan_ms" -> planInExec, "acct_execute_ms" -> executeMs,
      "acct_unattributed_ms" -> (keyMs - buildMs - stagingMs - planInExec - executeMs),
      "key_span_ms" -> keyMs,
      "build_jobs" -> a.jobs.count(_.startMs < e1), "jobs" -> a.jobs.size,
      "stages" -> a.stages.size, "tasks" -> a.tasks, "retried_tasks" -> a.retried,
      "task_wait_ms" -> a.taskWaitMs, "driver_gap_ms" -> gap,
      "analysis_ms" -> phaseMs("analysis"), "optimization_ms" -> phaseMs("optimization"),
      "planning_ms" -> phaseMs("planning"),
      "codegen_ms" -> (cg1._2 - cg0._2) / 1e6, "codegen_compiles" -> (cg1._1 - cg0._1),
      "exchanges" -> stats.exchanges, "reused_exchanges" -> stats.reused,
      "broadcast_exchanges" -> stats.broadcast, "custom_nodes" -> stats.customNodes,
      "scan_rows" -> stats.scanRows, "scan_bytes" -> stats.scanBytes,
      "scan_ms" -> stats.scanMs, "sink_rows" -> stats.sinkRows,
      "sink_bytes" -> stats.sinkBytes, "sink_files" -> stats.sinkFiles,
      "sink_ms" -> stats.sinkMs,
      "shuffle_write_bytes" -> a.shufWBytes, "shuffle_read_bytes" -> a.shufRBytes,
      "shuffle_write_ms" -> a.shufWNs / 1e6, "fetch_wait_ms" -> a.fetchWaitMs,
      "task_cpu_s" -> a.taskCpuNs / 1e9, "task_run_s" -> a.taskRunMs / 1e3,
      "gc_ms" -> a.gcMs, "peak_exec_mem_mb" -> a.peakExecMem / 1048576.0,
      "spill_bytes" -> a.spillBytes, "qes" -> a.qes.size)
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS, curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** The cold pass, one settling pass, then `warmPasses` warm passes. The
    * JIT keeps speeding passes up well after the cold pass; the settling
    * pass (recorded, not a warm sample) takes the steepest part of that
    * out of the warm samples. The pass count is fixed rather than filling a
    * time window, so every run has the same pass structure and medians
    * compare. A traced run traces the cold pass and every second warm pass,
    * so the tracing overhead is measured in the same JVM. */
  def measure(): Int = {
    measureStart = System.nanoTime()
    var failed = runPass(0, "cold", conf.trace)
    emit("type" -> "staged", "bytes" -> stagedBytes())
    failed += runPass(1, "settle", traced = false)
    for (w <- 1 to conf.warmPasses) failed += runPass(w + 1, "warm", conf.trace && w % 2 == 0)
    lastPass = conf.warmPasses + 1
    emit("type" -> "measured", "passes" -> (lastPass + 1),
      "seconds" -> (System.nanoTime() - measureStart) / 1e9,
      "drain_timeouts" -> probe.drainTimeouts)
    failed
  }

  /** Size of the T.staged artifact directories (`graft_<tag>_*` under the
    * JVM temp dir; the session warehouse `graft_wh_*` excluded). */
  def stagedBytes(): Long = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val dirs = Files.list(tmp).iterator().asScala.toList.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("graft_") && !n.startsWith("graft_wh_") && Files.isDirectory(p)
    }
    dirs.map(treeSize).sum
  }

  private def treeSize(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(Files.deleteIfExists)
    finally s.close()
  }

  // ------------------------------------------------------------ fingerprints

  /** Untimed output check: row count and the sum of a 64-bit hash of each
    * row's JSON form (order-insensitive). Columns are renamed by position
    * first, so duplicate or odd output names cannot break the struct. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(named.columns.map(col): _*)))
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Fingerprint every item's output of the last pass: keys written to
    * parquet are read back from the written files; noop keys are built
    * again; a script's tables are read from the catalog. */
  def checkOutputs(lastPass: Int): Unit = {
    val t0 = System.nanoTime()
    spark.sparkContext.setJobGroup("layerbench-fingerprint", "fingerprint", interruptOnCancel = false)
    items.foreach { it =>
      val targets: Seq[(String, () => DataFrame)] = it match {
        case k: KeyItem if conf.action == "parquet" =>
          Seq(k.name -> (() => spark.read.parquet(outPath(lastPass, k.name))))
        case k: KeyItem => Seq(k.name -> (() => k.fn(spark, conf.sfDir)))
        case s: ScriptItem => s.tables.map(t => s"${s.name}:$t" -> (() => spark.table(t)))
      }
      targets.foreach { case (name, mk) =>
        try {
          val df = mk()
          val (rows, hash) = fingerprint(df)
          emit("type" -> "fingerprint", "key" -> name, "rows" -> rows, "hash" -> hash)
          conf.dumpDir.foreach { d =>
            df.write.mode("overwrite").parquet(Paths.get(d, name.replace(':', '.')).toString)
          }
        } catch {
          case e: Throwable =>
            emit("type" -> "fingerprint", "key" -> name,
              "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      }
    }
    spark.sparkContext.clearJobGroup()
    emit("type" -> "checked", "seconds" -> (System.nanoTime() - t0) / 1e9)
  }

  def writeOut(): Unit = {
    Files.createDirectories(Paths.get(conf.outDir))
    Files.write(Paths.get(conf.outDir, "records.jsonl"),
      records.mkString("", "\n", "\n").getBytes("UTF-8"))
    if (conf.trace) {
      val all = Span(runId, 0L, "run", conf.workload,
        spans.map(_.startMs).minOption.getOrElse(epoch0),
        spans.map(_.endMs).maxOption.getOrElse(epoch0)) +: spans.toSeq
      Files.write(Paths.get(conf.outDir, "spans.jsonl"),
        all.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
  }
}
