package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.streaming.Streams
import org.apache.spark.TaskContext
import org.apache.spark.launcher.JavaModuleOptions
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved,
  SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Exactness probe: the graded write paths and the stateful streaming
  * sinks commit EXACTLY ONCE through four kinds of failure, and the board's
  * keys give the same rows under three kinds of stress. Every scenario
  * pins its output with a two-way `exceptAll` multiset diff against a run
  * without the fault; in the board modes a scenario is one key, compared
  * by [[boardDiff]].
  *
  *  - `retry`: task death. [[flaky]] throws after a few rows of every
  *    chosen partition's first attempt, so the torn attempt has already
  *    part-written its files, in the four write-path scenarios
  *    (dynamic-partition write, bulk load, two-hop compact rewrite, the
  *    streaming foreachBatch upsert sink). Runs on `local[cores,4]` (a
  *    task-failure budget) with speculative execution on, plus the
  *    speculation twin: a straggling first attempt races its speculative
  *    clone and only one may commit. The twin lands only if a clone
  *    started, which Spark never does in local mode, so there it reads
  *    `speculative=0 exact=MISMATCH` and the run exits 1.
  *  - `loss`: executor death. Under `local-cluster`, [[holdOpen]] holds the
  *    faulted stage open until a task has started, then one REAL executor
  *    JVM is `kill -9`ed. Same four scenarios plus `setop_intersect` with
  *    the kill in its reduce stage: the dead executor's map outputs are
  *    lost, so the lost-map-output / FetchFailed / stage-resubmit path
  *    runs. Every scenario needs an executor removal, the run a FetchFailed.
  *  - `crash`: driver death. Per streaming scenario three child JVMs run
  *    over one chunk replay: control (no fault), victim (`Runtime.halt(137)`
  *    at a poison event_id, or between the upsert sink's swap and its
  *    commit marker) and recovery from the victim's checkpoint. The death
  *    must be real (exit 137) and mid-batch: the offset WAL is written at
  *    batch start, so max(offsets) > max(commits), with ≥1 batch committed
  *    before it.
  *  - `topology`: a stateful checkpoint resumed on another topology. Phase
  *    A drains chunks 0-2 on `local[8]` at shuffle 8, phase B resumes the
  *    same sink and checkpoint on a `local-cluster` at shuffle 4, and a
  *    control drains every chunk on `local[8]`. Phase B must advance the
  *    batch counter, run multi-JVM (≥3 executor entries: driver + 2) and
  *    leave the offset log pinned to shuffle 8, the pinning that keeps
  *    state placement stable.
  *  - `spill`: a starved heap (run at -Xmx2g or 3g, as a 1-4 GB cluster
  *    core), where spill changes merge orders and combine passes. Each key
  *    is diffed against a big-heap Verify dump; the run needs disk spill.
  *  - `tenants`: many sessions on one context. Every key is dumped
  *    serially, then from `threads` FAIR tenant sessions (racing staging,
  *    function registration and the conf-scoped keys), and the two diffed.
  *    Under `local-cluster` two executors die mid-board; one kill must land.
  *  - `soak`: a long-lived driver. The board `rounds` ≥ 2 times in one JVM
  *    (heap ≤ 16g: a big heap hides debris); no key may degrade.
  *
  * Each scenario prints `<MODE>PROBE <name> rows= missing= extra=
  * <evidence...> exact=OK|MISMATCH`, where exact means an empty diff over a
  * non-empty result (tenants and soak: or an empty one) AND a fault that
  * landed (soak: a key not degraded); the board modes end with
  * `<MODE>PROBE totals ...`. Exit 1 if a scenario is not exact, 2 if a
  * run-level fault never landed (loss: no FetchFailed; spill: no disk
  * spill; tenants under local-cluster: no kill).
  *
  * usage: java <add-opens> -cp "target/scala-2.13/classes:/opt/spark/jars/＊"
  *   graft.FaultProbe retry|loss|crash|topology [srcDir]
  *   graft.FaultProbe spill <srcDir> <refDir> [key,key...]
  *   graft.FaultProbe tenants [srcDir] [threads=8]
  *   graft.FaultProbe soak [srcDir] [rounds=4]
  * (default srcDir /root/testdata/sf0.01; the ＊ is a literal star, spelled
  * fullwidth so a star-slash cannot close this comment). spill's `refDir`
  * is `graft.Verify <srcDir> <refDir> <keys>` run with a big heap. `loss`
  * and `topology` launch executor JVMs, so SPARK_HOME must point at a Spark
  * dist; SPARK_GRAFT_MASTER overrides their local-cluster master (loss
  * `local-cluster[2,8,6144]`, topology phase B `local-cluster[2,4,3072]`)
  * and re-masters `tenants` (default `local[cores]`), and
  * SPARK_GRAFT_EXEC_MEM sets their executor heap. `crash` and `topology`
  * spawn `graft.FaultProbe child <scenario> <chunkDir> <sinkDir> <ckptDir>
  * <haltAt> <master> <shuffle>` with this JVM's classpath.
  */
object FaultProbe {

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val code = args.headOption match {
      case Some("retry") => retryMode(srcDir)
      case Some("loss") => lossMode(srcDir)
      case Some("crash") => crashMode(srcDir)
      case Some("topology") => topologyMode(srcDir)
      case Some("spill") if args.length >= 3 =>
        spillMode(srcDir, args(2), args.lift(3).fold(spillKeys)(_.split(",").toSeq))
      case Some("tenants") => tenantsMode(srcDir, args.lift(2).fold(8)(_.toInt))
      case Some("soak") => soakMode(srcDir, args.lift(2).fold(4)(_.toInt))
      case Some("child") => child(args.toSeq.tail); 0
      case other => throw new IllegalArgumentException(
        "usage: FaultProbe retry|loss|crash|topology [srcDir] | spill <srcDir> <refDir> [keys] | " +
          s"tenants [srcDir] [threads] | soak [srcDir] [rounds] (got ${other.getOrElse("nothing")})")
    }
    if (code != 0) sys.exit(code)
  }

  // ---- verdicts ----

  /** One scenario's verdict (a board mode's scenario is one key).
    * `evidence` shows the fault landed, or what else the mode measured, in
    * print order; `landed` is its gate. A result with no rows proves
    * nothing unless `emptyOk`: a board key whose reference is empty
    * (setop_except at sf0.01). */
  final case class ScenarioResult(name: String, rows: Long, missing: Long,
                                  extra: Long, evidence: Seq[(String, Any)],
                                  landed: Boolean, emptyOk: Boolean = false) {
    def exact: Boolean = missing == 0 && extra == 0 && (rows > 0 || emptyOk) && landed
    def line(tag: String): String =
      (Seq(tag, name, s"rows=$rows", s"missing=$missing", s"extra=$extra") ++
        evidence.map { case (k, v) => s"$k=$v" } :+
        s"exact=${if (exact) "OK" else "MISMATCH"}").mkString(" ")
  }

  /** Two-way multiset diff: (rows of `want` missing from `got`, rows of
    * `got` not in `want`). Both zero ⇔ the same multiset; a set diff would
    * miss a row committed twice. */
  def diffCounts(want: DataFrame, got: DataFrame): (Long, Long) =
    (want.exceptAll(got).count(), got.exceptAll(want).count())

  private def compare(name: String, want: DataFrame, got: DataFrame,
                      evidence: (Seq[(String, Any)], Boolean)): ScenarioResult = {
    val (m, e) = diffCounts(want, got)
    ScenarioResult(name, want.count(), m, e, evidence._1, evidence._2)
  }

  /** One key's two results as a two-way multiset diff of canonical JSON
    * rows: set operations reject map-typed columns, and both results come
    * from the same plan, so their columns are in the same order. */
  def boardDiff(want: DataFrame, got: DataFrame): (Long, Long) = {
    def rows(df: DataFrame) = df.selectExpr("to_json(struct(*)) AS js")
    diffCounts(rows(want), rows(got))
  }

  /** Print every scenario's line under `tag`, then `<tag> totals k=v ...`
    * if there are run totals; the exit code. `vacuous` names a run-level
    * fault that never landed. */
  private[graft] def verdict(tag: String, results: Seq[ScenarioResult],
                             vacuous: Option[String] = None,
                             totals: Seq[(String, Any)] = Nil): Int = {
    results.foreach(r => println(r.line(tag)))
    if (totals.nonEmpty)
      println((Seq(tag, "totals") ++ totals.map { case (k, v) => s"$k=$v" }).mkString(" "))
    if (!results.forall(_.exact)) {
      System.err.println(s"$tag: a scenario diverged or its fault did not land")
      1
    } else vacuous.fold(0) { why => System.err.println(s"$tag vacuous: $why"); 2 }
  }

  // ---- the write-path scenarios ----

  /** How the write-path scenarios are attacked. `write` wraps the frame of
    * each faulted write, `batch` each upsert micro-batch. A single-hop
    * faulted write is spread over `spread` partitions first, the compact
    * hop over `compactWidth`, and the fragment hop is faulted only if
    * `bothHops`. `land` runs the faulted work and returns the evidence
    * that the fault landed and whether it did. */
  final case class Fault(write: DataFrame => DataFrame,
                         batch: DataFrame => DataFrame,
                         spread: Option[Int], compactWidth: Int,
                         bothHops: Boolean,
                         land: (=> Unit) => (Seq[(String, Any)], Boolean))

  /** Injected failures and slowed rows. Local mode only: the executor is
    * this JVM, so the count is visible here. */
  val injected = new AtomicInteger(0)

  /** Task retry: first-attempt failures in every hop, counted. */
  val retry: Fault = Fault(flaky(_), flaky(_, modulus = 1, afterRows = 3),
    spread = None, compactWidth = 4, bothHops = true, land = body => {
      injected.set(0)
      body
      (Seq("injected" -> injected.get()), injected.get() > 0)
    })

  /** Executor loss: hold the faulted stage open, kill one executor. Spread
    * over 16 (compact: 8) partitions so both executors get tasks. One per
    * scenario: the hold's flag directory collects that scenario's markers. */
  private def loss(s: SparkSession, watch: ExecutorWatch): Fault = {
    val flagDir = T.tempDir("graft_loss_flag_")
    Fault(holdOpen(_, flagDir), holdOpen(_, flagDir, holdMs = 15000),
      spread = Some(16), compactWidth = 8, bothHops = false, land = body => {
        val ff0 = watch.fetchFailed.get()
        val killed = withExecutorKill(s, watch, flagDir)(body)
        (Seq("executorsKilled" -> killed,
          "fetchFailed" -> (watch.fetchFailed.get() - ff0)), killed >= 1)
      })
  }

  /** First attempt of every `modulus`-th partition throws after
    * `afterRows` rows (its partial output already emitted: the torn-task
    * case); retried attempts pass the data through untouched, so the
    * committed result must equal the clean run. */
  def flaky(df: DataFrame, modulus: Int = 3, afterRows: Int = 7): DataFrame = {
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(df.schema)
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc == null || tc.attemptNumber() > 0 ||
          tc.partitionId() % modulus != 0) it
      else new Iterator[Row] {
        private var n = 0
        def hasNext: Boolean = {
          if (n >= afterRows && it.hasNext) {
            injected.incrementAndGet()
            throw new RuntimeException(
              s"injected first-attempt failure (partition ${tc.partitionId()})")
          }
          it.hasNext
        }
        def next(): Row = { n += 1; it.next() }
      }
    }
  }

  /** The speculation twin: [[slow]] over 4 partitions, so the others
    * finish and partition 0's first attempt is the straggler Spark may
    * clone; exactly one attempt's output may commit. It lands only if a
    * speculative attempt started (`TaskInfo.speculative`): a straggler
    * nobody raced proves nothing about duplicate commits. Spark schedules
    * no speculation check in local mode and never starts a clone on the
    * host of the running attempt, so on one machine it does not land. */
  private def speculation(s: SparkSession): Fault = retry.copy(write = slow(_), spread = Some(4),
    land = body => {
      val starts = new AtomicInteger(0)
      val l = new SparkListener {
        override def onTaskStart(t: SparkListenerTaskStart): Unit =
          if (t.taskInfo.speculative) starts.incrementAndGet()
      }
      injected.set(0)
      s.sparkContext.addSparkListener(l)
      try { body; T.settle(5000L)(starts.get) }
      finally s.sparkContext.removeSparkListener(l)
      (Seq("injected" -> injected.get(), "speculative" -> starts.get()), starts.get() >= 1)
    })

  /** The speculation twin's straggler: the first attempt of partition 0
    * sleeps per row, so a speculative duplicate can race it. */
  def slow(df: DataFrame, perRowMs: Long = 20): DataFrame = {
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(df.schema)
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc == null || tc.partitionId() != 0 || tc.attemptNumber() > 0) it
      else it.map { r => injected.incrementAndGet(); Thread.sleep(perRowMs); r }
    }
  }

  /** Hold the wrapped stage open: each task's first row drops a marker and
    * then sleeps while `$flagDir/go` exists (bounded by holdMs). Runs on
    * executors, so flagDir must be on a shared FS (one host here). */
  def holdOpen(df: DataFrame, flagDir: String, holdMs: Long = 30000): DataFrame = {
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(df.schema)
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      new Iterator[Row] {
        private var first = true
        def hasNext: Boolean = it.hasNext
        def next(): Row = {
          if (first) {
            first = false
            val go = new java.io.File(flagDir, "go")
            if (go.exists()) {
              new java.io.File(flagDir,
                s"started_${tc.stageId()}_${tc.partitionId()}").createNewFile()
              val deadline = System.currentTimeMillis() + holdMs
              while (go.exists() && System.currentTimeMillis() < deadline)
                Thread.sleep(100)
            }
          }
          it.next()
        }
      }
    }
  }

  /** sink_partitioned_write's shape: dynamic-partition parquet write. */
  def partitionedWrite(s: SparkSession, srcDir: String, base: String,
                       fault: Fault): ScenarioResult =
    partitioned(s, "partitioned_write", T.t(s, srcDir, "orders"),
      "o_orderstatus", base, fault)

  /** bulk_load_pipeline's shape: filter → derive → partitioned write. */
  def bulkLoad(s: SparkSession, srcDir: String, base: String,
               fault: Fault): ScenarioResult =
    partitioned(s, "bulk_load", T.t(s, srcDir, "lineitem")
      .filter(col("l_quantity") > 0)
      .withColumn("l_year", year(col("l_shipdate"))), "l_year", base, fault)

  private def partitioned(s: SparkSession, name: String, src: DataFrame,
                          by: String, base: String, fault: Fault): ScenarioResult = {
    val ev = fault.land {
      fault.write(fault.spread.fold(src)(n => src.repartition(n)))
        .write.mode("overwrite").partitionBy(by).parquet(s"$base/faulted")
    }
    src.write.mode("overwrite").partitionBy(by).parquet(s"$base/clean")
    compare(name, s.read.parquet(s"$base/clean"),
      s.read.parquet(s"$base/faulted"), ev)
  }

  /** etl_compact_small_files' shape: a 64-way fragment write, then the
    * compact rewrite whose INPUT is the fragment parquet (re-executed tasks
    * must re-read, not double-append). */
  def compactRewrite(s: SparkSession, srcDir: String, base: String,
                     fault: Fault): ScenarioResult = {
    val src = T.t(s, srcDir, "orders")
    val frag = src.repartition(64)
    val ev = fault.land {
      (if (fault.bothHops) fault.write(frag) else frag)
        .write.mode("overwrite").parquet(s"$base/frag")
      fault.write(s.read.parquet(s"$base/frag").repartition(fault.compactWidth))
        .write.mode("overwrite").parquet(s"$base/compact")
    }
    compare("compact_rewrite", src, s.read.parquet(s"$base/compact"), ev)
  }

  /** The streaming foreachBatch upsert sink (`Streams.upsertBatch`) with
    * the fault inside every micro-batch's merge: the stage-dir +
    * atomic-swap + commit-marker protocol must commit each batch exactly
    * once. The oracle is each user's latest event over all chunks. */
  def upsertSink(s: SparkSession, srcDir: String, base: String,
                 fault: Fault): ScenarioResult = {
    val chunks = s"$base/chunks"
    Streams.writeChunks(s, srcDir, chunks, 4)
    val ev = fault.land {
      Streams.readReplay(s, chunks).writeStream
        .foreachBatch((b: Dataset[Row], id: java.lang.Long) =>
          Streams.upsertBatch(s"$base/target")(fault.batch(b.toDF()), id))
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    val latest = s.read.parquet(chunks)
      .withColumn("_rn", row_number().over(Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("_rn") === 1)
      .select("user_id", "ts", "event_id", "value")
    compare("upsert_sink", latest, s.read.parquet(s"$base/target/data"), ev)
  }

  /** A shuffle-heavy graded key with the fault on top of its final
    * aggregation: by the time the hold's markers appear the map stage has
    * completed, so a kill loses map output and the scheduler re-runs it. */
  def shuffleHeavyKey(s: SparkSession, srcDir: String, base: String,
                      fault: Fault): ScenarioResult = {
    val fn = SparkEntry.queries("setop_intersect")
    val ev = fault.land {
      fault.write(fn(s, srcDir)).write.mode("overwrite").parquet(s"$base/faulted")
    }
    fn(s, srcDir).write.mode("overwrite").parquet(s"$base/clean")
    compare("shuffle_heavy_setop_intersect", s.read.parquet(s"$base/clean"),
      s.read.parquet(s"$base/faulted"), ev)
  }

  private def writePaths(s: SparkSession, srcDir: String,
                         fault: () => Fault): Seq[ScenarioResult] =
    Seq[(SparkSession, String, String, Fault) => ScenarioResult](
      partitionedWrite, bulkLoad, compactRewrite, upsertSink)
      .map(run => run(s, srcDir, T.tempDir("graft_fault_"), fault()))

  private def retryMode(srcDir: String): Int = {
    val cpus = Graft.defaultCores
    // speculation on for the whole run: the throw scenarios must stay exact
    // with speculative duplicates enabled, and the twin needs the clones
    val s = Graft.session("retryprobe", cpus, Some(s"local[$cpus,4]"),
      Map("spark.speculation" -> "true",
        "spark.speculation.multiplier" -> "1.5",
        "spark.speculation.quantile" -> "0.3"))
    s.sparkContext.setLogLevel("WARN")
    try verdict("RETRYPROBE", writePaths(s, srcDir, () => retry) :+
      partitionedWrite(s, srcDir, T.tempDir("graft_fault_"),
        speculation(s)).copy(name = "speculative_write"))
    finally s.stop()
  }

  private def lossMode(srcDir: String): Int = {
    require(sys.env.contains("SPARK_HOME"),
      "SPARK_HOME must point at a Spark dist (the worker launches executor JVMs)")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,8,6144]")
    require(master.startsWith("local-cluster"),
      s"loss needs separate executor processes, got master=$master")
    val s = Graft.session("lossprobe", 8, Some(master),
      Map("spark.executor.memory" -> "4g"))
    s.sparkContext.setLogLevel("WARN")
    val watch = new ExecutorWatch
    s.sparkContext.addSparkListener(watch)
    try {
      val results = writePaths(s, srcDir, () => loss(s, watch)) :+
        shuffleHeavyKey(s, srcDir, T.tempDir("graft_fault_"), loss(s, watch))
      // a kill that never cost a map output leaves the FetchFailed →
      // stage re-execution path unproven
      verdict("LOSSPROBE", results,
        if (watch.fetchFailed.get() > 0) None
        else Some("no FetchFailed observed: the kill never cost a map output"))
    } finally s.stop()
  }

  // ---- executor kill ----

  /** Counts executor removals and FetchFailed task ends. */
  final class ExecutorWatch extends SparkListener {
    val removed, fetchFailed = new AtomicInteger(0)
    override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
      removed.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.reason != null && t.reason.getClass.getSimpleName.startsWith("FetchFailed"))
        fetchFailed.incrementAndGet()
  }

  /** `kill -9` one executor JVM of app `appId`, matched on its
    * CoarseGrainedExecutorBackend command line; its pid if the kill was
    * delivered. */
  def killOneExecutor(appId: String): Option[Int] = {
    import scala.sys.process._
    Seq("ps", "-eo", "pid,args").!!.linesIterator
      .filter(l => l.contains("CoarseGrainedExecutorBackend") && l.contains(appId))
      .map(_.trim.split("\\s+")(0).toInt).toSeq.sorted.headOption
      .filter(pid => Seq("kill", "-9", pid.toString).! == 0)
  }

  /** Run `work` (a holdOpen-wrapped job against `flagDir`) while a killer
    * thread waits for the first task marker, kills one executor, then
    * releases the hold; the executor removals seen meanwhile. The
    * standalone master relaunches a replacement after each kill, so this
    * first waits for two executors. */
  private def withExecutorKill(s: SparkSession, watch: ExecutorWatch,
                               flagDir: String)(work: => Unit): Int = {
    val sc = s.sparkContext
    val deadline = System.currentTimeMillis() + 60000
    def executors = sc.statusTracker.getExecutorInfos.length - 1
    while (executors < 2 && System.currentTimeMillis() < deadline) Thread.sleep(200)
    require(executors >= 2, s"only $executors executors registered after 60000ms")
    val before = watch.removed.get()
    val go = new java.io.File(flagDir, "go")
    go.createNewFile()
    val killer = new Thread(() => {
      val until = System.currentTimeMillis() + 120000
      while (!new java.io.File(flagDir).listFiles().exists(_.getName.startsWith("started_")) &&
             System.currentTimeMillis() < until)
        Thread.sleep(100)
      killOneExecutor(sc.applicationId)
        .foreach(pid => System.err.println(s"[faultprobe] killed executor pid=$pid"))
      Thread.sleep(500) // let the worker notice the corpse
      go.delete()
    })
    killer.setDaemon(true)
    killer.start()
    work
    killer.join(130000)
    // the listener bus is asynchronous: let both counters settle
    if (!T.settle(10000L, pollMs = 100L)((watch.removed.get(), watch.fetchFailed.get())))
      System.err.println("[faultprobe] drain=timeout: removal count may be short")
    watch.removed.get() - before
  }

  // ---- board modes: spill, tenants and soak ----

  /** Spill's default keys, the board's spill-prone shapes: hash agg, sorts,
    * multiway SMJ, the staged pair/adjacency and shingle-index builds,
    * connected components, TF-IDF, an equi-depth histogram. */
  val spillKeys: Seq[String] = Seq(
    "agg_groupby_hash", "sort_multikey", "window_rolling_median",
    "join_multiway_star", "graph_triangle_count", "graph_clustering_coeff",
    "dedup_ngram_jaccard", "dedup_cluster_components",
    "text_tfidf_top_terms", "agg_histogram_equidepth", "etl_scd2_intervals",
    "agg_distinct_rows")

  private def mb(bytes: Long): Long = bytes / 1048576

  /** Each key recomputed, its JVM-local staging included, against its
    * dump under `refDir`. All of a key's jobs, the diff's too, run in its
    * Bench job group, so the spill bytes are its own. */
  private def spillMode(sfDir: String, refDir: String, keys: Seq[String]): Int = {
    val s = Graft.session("spillprobe")
    s.sparkContext.setLogLevel("WARN")
    val col = new Bench.Collector
    s.sparkContext.addSparkListener(col)
    try {
      val queries = SparkEntry.queries
      val results = keys.map { k =>
        col.begin(k)
        val t0 = System.nanoTime()
        val (rows, (missing, extra)) = Bench.inGroup(s.sparkContext, Bench.Prefix + k) {
          val ref = s.read.parquet(s"$refDir/$k")
          (ref.count(), boardDiff(ref, queries(k)(s, sfDir)))
        }
        val sec = (System.nanoTime() - t0) / 1e9
        col.finish(expectPlan = false)
        if (!col.drained) System.err.println(s"SPILLPROBE $k drain=timeout")
        val m = col.sums(k)
        ScenarioResult(k, rows, missing, extra, Seq("diskSpillMb" -> mb(m.spillD.get),
          "memSpillMb" -> mb(m.spillM.get), "shuffleWriteMb" -> mb(m.shufW.get),
          "sec" -> T.num(sec, 2)), landed = true)
      }
      val disk = keys.map(col.sums(_).spillD.get).sum
      verdict("SPILLPROBE", results,
        if (disk > 0) None else Some("zero bytes spilled: the heap was not tight enough"),
        Seq("heapMb" -> mb(Runtime.getRuntime.maxMemory()), "diskSpillMb" -> mb(disk),
          "memSpillMb" -> mb(keys.map(col.sums(_).spillM.get).sum)))
    } finally s.stop()
  }

  /** The tenant board: `keys` dumped through `root`, then again from
    * `threads` tenant sessions at once (both by `Verify.dump`, under
    * `base`), with `land` around the concurrent phase. One result per key:
    * the board diff of its two dumps, or the error text of a phase that
    * threw. Also the run totals and whether `land`'s fault landed. */
  def tenants(root: SparkSession, sfDir: String, keys: Seq[String], threads: Int,
              base: String, land: (=> Unit) => (Seq[(String, Any)], Boolean) =
                body => { body; (Nil, true) }): (Seq[ScenarioResult], Seq[(String, Any)], Boolean) = {
    val t0 = System.nanoTime()
    val serialErr = Verify.dump(root, sfDir, s"$base/serial", keys).toMap
    val t1 = System.nanoTime()
    var (concErr, t2) = (Map.empty[String, String], t1)
    val (evidence, landed) = land {
      concErr = Verify.dump(root, sfDir, s"$base/conc", keys, threads).toMap
      t2 = System.nanoTime()
    }
    val results = keys.map { k =>
      serialErr.get(k).map("serial " + _).orElse(concErr.get(k)) match {
        case Some(e) => // nothing compared: never exact
          ScenarioResult(k, 0, 0, 0, Seq("error" -> e.replaceAll("\\s+", " ")), landed = true)
        case None =>
          val want = root.read.parquet(s"$base/serial/$k")
          val (missing, extra) = boardDiff(want, root.read.parquet(s"$base/conc/$k"))
          ScenarioResult(k, want.count(), missing, extra, Nil, landed = true, emptyOk = true)
      }
    }
    (results, Seq("threads" -> threads, "serialSec" -> T.num((t1 - t0) / 1e9, 1),
      "concurrentSec" -> T.num((t2 - t1) / 1e9, 1)) ++ evidence, landed)
  }

  /** Spot reclaim during multi-tenant serving: `kill -9` one executor JVM
    * once ≥40 key dirs under `concDir` have committed, and again at ≥250
    * (each wait bounded at 180 s). The killer is stopped when the board
    * drains and joined before its count is read. */
  private def tenantKills(root: SparkSession, concDir: String)
                         (body: => Unit): (Seq[(String, Any)], Boolean) = {
    val watch = new ExecutorWatch
    root.sparkContext.addSparkListener(watch)
    val kills = new AtomicInteger(0)
    def dumped: Int = Option(new java.io.File(concDir).listFiles())
      .map(_.count(d => new java.io.File(d, "_SUCCESS").exists())).getOrElse(0)
    val killer = new Thread(() =>
      try for (threshold <- Seq(40, 250)) {
        val deadline = System.currentTimeMillis() + 180000
        while (dumped < threshold && System.currentTimeMillis() < deadline) Thread.sleep(200)
        if (!Thread.currentThread.isInterrupted)
          killOneExecutor(root.sparkContext.applicationId).foreach { pid =>
            kills.incrementAndGet()
            System.err.println(s"[tenantsprobe] killed executor pid=$pid at $dumped dumps")
          }
        Thread.sleep(3000) // let the master relaunch before the next wait
      } catch { case _: InterruptedException => })
    killer.setDaemon(true)
    killer.start()
    try body finally { killer.interrupt(); killer.join(60000) }
    require(!killer.isAlive, "the executor killer did not stop within 60000ms")
    // the listener bus is asynchronous: let the removal count settle
    T.settle(10000L, pollMs = 100L)(watch.removed.get())
    (Seq("kills" -> kills.get(), "executorsRemoved" -> watch.removed.get()),
      kills.get() >= 1 && watch.removed.get() >= 1)
  }

  /** Every key on the tenant board; SPARK_GRAFT_MASTER may re-master it
    * onto executor JVMs, and then [[tenantKills]] runs. */
  private def tenantsMode(sfDir: String, threads: Int): Int = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[${Graft.defaultCores}]")
    val root = Graft.session("tenantsprobe", master = Some(master),
      conf = Map("spark.scheduler.mode" -> "FAIR", "spark.executor.memory" -> "8g"))
    root.sparkContext.setLogLevel("WARN")
    try {
      val base = T.tempDir("graft_tenants_")
      val keys = SparkEntry.queries.keys.toSeq.sorted
      val (results, totals, landed) =
        if (master.startsWith("local-cluster"))
          tenants(root, sfDir, keys, threads, base, tenantKills(root, s"$base/conc"))
        else tenants(root, sfDir, keys, threads, base)
      verdict("TENANTSPROBE", results, Option.when(!landed)("no executor kill landed"), totals)
    } finally root.stop()
  }

  /** A count() per key per round; pinned RDDs and storage MB after each
    * round (a climb is a leak before walls move). A key is degraded when
    * its last round is ≥ 2× and ≥ 0.5 s over round 2 (round 1 warms up;
    * tiny keys jitter). */
  private def soakMode(sfDir: String, rounds: Int): Int = {
    require(rounds >= 2, s"rounds must be at least 2, got $rounds")
    val s = Graft.session("soakprobe")
    s.sparkContext.setLogLevel("WARN")
    try {
      val queries = SparkEntry.queries
      val keys = queries.keys.toSeq.sorted
      val rows = scala.collection.mutable.Map[String, Long]()
      val wall = Array.fill(rounds)(scala.collection.mutable.Map[String, Double]())
      (0 until rounds).foreach { r =>
        keys.foreach { k =>
          val t0 = System.nanoTime()
          rows(k) = queries(k)(s, sfDir).count()
          wall(r)(k) = (System.nanoTime() - t0) / 1e9
        }
        val storage = s.sparkContext.getExecutorMemoryStatus.values
          .map { case (max, free) => max - free }.sum
        println(s"SOAKPROBE round=${r + 1} total=${T.num(wall(r).values.sum, 1)} " +
          s"pinnedRdds=${s.sparkContext.getPersistentRDDs.size} storageUsed=${mb(storage)}MB")
      }
      val (round2, last) = (wall(1), wall(rounds - 1))
      val results = keys.map { k =>
        val (b, l) = (round2(k), last(k))
        ScenarioResult(k, rows(k), 0, 0,
          Seq("round2" -> T.num(b, 2), "last" -> T.num(l, 2)),
          landed = !(l >= 2 * b && l - b >= 0.5), emptyOk = true)
      }
      verdict("SOAKPROBE", results, totals = Seq("rounds" -> rounds,
        "degraded" -> results.count(!_.landed),
        "totalRound2" -> T.num(round2.values.sum, 1), "totalLast" -> T.num(last.values.sum, 1)))
    } finally s.stop()
  }

  // ---- streaming children: crash and topology ----

  /** Where a child runs: its log name, and the master and shuffle width it
    * is given in its argv. Never through the environment, so an exported
    * SPARK_GRAFT_MASTER cannot re-master a single-JVM phase. */
  final case class Phase(name: String, master: String = "local[8]", shuffle: Int = 8)

  /** Topology's children: phase A and control single-JVM at shuffle 8,
    * phase B on `cluster` at shuffle 4. */
  def topologyPhases(cluster: String): (Phase, Phase, Phase) =
    (Phase("phaseA"), Phase("phaseB", cluster, 4), Phase("control"))

  /** The command line of one child run over `chunkDir`. */
  def childCommand(scenario: String, chunkDir: String, sinkDir: String,
                   ckptDir: String, haltAt: Long, phase: Phase): Seq[String] = {
    val javaBin = new java.io.File(new java.io.File(sys.props("java.home"), "bin"), "java")
    Seq(javaBin.getPath) ++
      JavaModuleOptions.defaultModuleOptions().split("\\s+").filter(_.nonEmpty) ++
      Seq("-Xmx4g", "-cp", T.absClassPath, "graft.FaultProbe", "child", scenario,
        chunkDir, sinkDir, ckptDir, haltAt.toString, phase.master, phase.shuffle.toString)
  }

  /** Run one child, its output appended to `$logDir/<scenario>_<phase>.log`;
    * its exit code. A child without a poison (`haltAt < 0`) must exit 0. */
  private[graft] def runChild(scenario: String, phase: Phase, chunkDir: String,
                              sinkDir: String, ckptDir: String, logDir: String,
                              haltAt: Long = -1L): Int = {
    val log = new java.io.File(logDir, s"${scenario}_${phase.name}.log")
    val pb = new ProcessBuilder(
      childCommand(scenario, chunkDir, sinkDir, ckptDir, haltAt, phase): _*)
      .redirectErrorStream(true)
      .redirectOutput(ProcessBuilder.Redirect.appendTo(log))
    // a local-cluster child's worker needs it to launch executors
    pb.environment().putIfAbsent("SPARK_SCALA_VERSION", "2.13")
    val p = pb.start()
    if (!p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) {
      p.destroyForcibly()
      throw new IllegalStateException(childFailure(scenario, phase, "hung", log))
    }
    require(haltAt >= 0 || p.exitValue() == 0,
      childFailure(scenario, phase, s"exited ${p.exitValue()}", log))
    p.exitValue()
  }

  /** The error for a failed child, carrying the last 40 lines of its log:
    * the log lives in a `T.tempDir` that is deleted when this JVM exits. */
  private[graft] def childFailure(scenario: String, phase: Phase, what: String,
                                  log: java.io.File): String = {
    val tail = if (!log.isFile) Seq(s"(no log at $log)") else
      new String(java.nio.file.Files.readAllBytes(log.toPath),
        java.nio.charset.StandardCharsets.UTF_8).split("\n").toSeq.takeRight(40)
    s"$scenario/${phase.name} child $what; last lines of $log:\n${tail.mkString("\n")}"
  }

  /** Max batch id in a checkpoint sub-log (`offsets` or `commits`), -1 if
    * none. Compaction never runs at probe scale, so plain filenames. */
  private[graft] def maxBatch(ckpt: String, sub: String): Long = {
    val ids = Option(new java.io.File(ckpt, sub).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
    if (ids.isEmpty) -1L else ids.max
  }

  /** The batch a dead run left torn (its offsets logged, never committed),
    * or -1 if the checkpoint is clean. */
  private[graft] def tornBatch(ckpt: String): Long = {
    val off = maxBatch(ckpt, "offsets")
    if (off > maxBatch(ckpt, "commits")) off else -1L
  }

  /** Whether the latest offsets entry still carries shuffle width
    * `expect`: every entry embeds a conf snapshot, and a stateful resume
    * places state by the CHECKPOINTED value, not the new session's. */
  private[graft] def offsetsPinShuffle(ckpt: String, expect: Int): Boolean = {
    val latest = maxBatch(ckpt, "offsets")
    latest >= 0 && java.nio.file.Files.readString(
      java.nio.file.Paths.get(ckpt, "offsets", latest.toString))
      .contains(s""""spark.sql.shuffle.partitions":"$expect"""")
  }

  private def sink(s: SparkSession, scenario: String, dir: String): DataFrame =
    s.read.parquet(if (scenario == "upsert_torn_marker") s"$dir/data" else dir)

  /** The chunked replays: plain for dedup/upsert, flushTail for sessions
    * (its sentinel chunk drives the watermark past every real event so
    * closed sessions emit before AvailableNow drains). */
  private def replays(s: SparkSession, srcDir: String): (String, String) = {
    val plain = T.tempDir("graft_fault_chunks_")
    Streams.writeChunks(s, srcDir, plain, n = 6)
    val flush = T.tempDir("graft_fault_chunksf_")
    Streams.writeChunks(s, srcDir, flush, n = 6, flushTail = true)
    (plain, flush)
  }

  /** Control, victim (halted at `poison`) and recovery from the victim's
    * checkpoint; recovery's sink must equal control's. */
  private def crashScenario(s: SparkSession, name: String, chunks: String,
                            poison: Long): ScenarioResult = {
    val base = T.tempDir("graft_crash_")
    val (vSink, vCkpt) = (s"$base/v_sink", s"$base/v_ckpt")
    runChild(name, Phase("control"), chunks, s"$base/ctl_sink", s"$base/ctl_ckpt", base)
    val victimExit = runChild(name, Phase("victim"), chunks, vSink, vCkpt, base, poison)
    val torn = tornBatch(vCkpt)
    val committed = maxBatch(vCkpt, "commits")
    runChild(name, Phase("recovery"), chunks, vSink, vCkpt, base)
    compare(name, sink(s, name, s"$base/ctl_sink"), sink(s, name, vSink),
      (Seq("victimExit" -> victimExit, "tornBatch" -> torn, "committedBefore" -> committed),
        victimExit != 0 && torn >= 0 && committed >= 1))
  }

  private def crashMode(srcDir: String): Int = {
    val s = Graft.session("graft-crashprobe", 8)
    s.sparkContext.setLogLevel("WARN")
    try {
      val (plain, flush) = replays(s, srcDir)
      // the first event_id of chunk 3: batches 0-2 commit clean and the
      // death lands while batch 3 is in flight (its offsets already logged)
      def poisonOf(dir: String): Long =
        s.read.parquet(s"$dir/chunk_003.parquet")
          .orderBy("event_id").select("event_id").head().getLong(0)
      verdict("CRASHPROBE", Seq(
        crashScenario(s, "filesink_dedup", plain, poisonOf(plain)),
        // halts between the swap and the marker of batch 2
        crashScenario(s, "upsert_torn_marker", plain, 2L),
        crashScenario(s, "session_rocksdb", flush, poisonOf(flush))))
    } finally s.stop()
  }

  /** Copy chunk files [from, until) of `allDir` into `replayDir`,
    * mtime-spaced so the file source sees them in chunk order. */
  private def copyChunks(allDir: String, replayDir: String, from: Int, until: Int): Unit =
    new java.io.File(allDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .slice(from, until).foreach { f =>
        java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(replayDir, f.getName),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Thread.sleep(15)
      }

  private def lastExecutorCount(log: java.io.File): Int = {
    val lines = scala.io.Source.fromFile(log)
    try lines.getLines().toSeq.reverse
      .collectFirst { case l if l.startsWith("CHILD executors=") =>
        l.stripPrefix("CHILD executors=").trim.toInt }
      .getOrElse(-1)
    finally lines.close()
  }

  /** Phase A, phase B (the same checkpoint resumed on `cluster` with the
    * rest of the replay staged: with flushTail the chunk dir holds n+1
    * files) and control; the resumed sink must equal control's. */
  private def topologyScenario(s: SparkSession, name: String, allChunks: String,
                               cluster: String): ScenarioResult = {
    val (phaseA, phaseB, control) = topologyPhases(cluster)
    val base = T.tempDir("graft_topo_")
    val (resumed, ckpt) = (s"$base/sink", s"$base/ckpt")
    val Seq(replay, ctlReplay) = Seq("replay", "ctl_replay").map { d =>
      new java.io.File(base, d).mkdirs(); s"$base/$d"
    }
    copyChunks(allChunks, replay, 0, 3)
    runChild(name, phaseA, replay, resumed, ckpt, base)
    val batchesA = maxBatch(ckpt, "commits")
    copyChunks(allChunks, replay, 3, Int.MaxValue)
    runChild(name, phaseB, replay, resumed, ckpt, base)
    val batchesB = maxBatch(ckpt, "commits")
    val executorsB = lastExecutorCount(new java.io.File(base, s"${name}_${phaseB.name}.log"))
    val pinned = offsetsPinShuffle(ckpt, phaseA.shuffle)
    copyChunks(allChunks, ctlReplay, 0, Int.MaxValue)
    runChild(name, control, ctlReplay, s"$base/ctl_sink", s"$base/ctl_ckpt", base)
    compare(name, sink(s, name, s"$base/ctl_sink"), sink(s, name, resumed),
      (Seq("batchesA" -> batchesA, "batchesB" -> batchesB,
        "executorsB" -> executorsB, "pinnedShuffle" -> pinned),
        batchesA >= 1 && batchesB > batchesA && executorsB >= 3 && pinned))
  }

  private def topologyMode(srcDir: String): Int = {
    require(sys.env.contains("SPARK_HOME"),
      "SPARK_HOME must point at a Spark dist (phase B launches executor JVMs)")
    val cluster = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,4,3072]")
    val s = Graft.session("graft-topologyprobe", 8)
    s.sparkContext.setLogLevel("WARN")
    try {
      val (plain, flush) = replays(s, srcDir)
      verdict("TOPOLOGYPROBE", Seq(
        topologyScenario(s, "filesink_dedup", plain, cluster),
        topologyScenario(s, "session_rocksdb", flush, cluster)))
    } finally s.stop()
  }

  /** Poison-row pass-through: halts the WHOLE JVM (driver and in-process
    * executors, so under local mode a full process death) the moment
    * `haltAt`'s event_id streams past. No-op when haltAt < 0. */
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

  /** One child run: ONE streaming scenario over a staged chunk replay,
    * exiting 0 once the AvailableNow drain completes, or dying through
    * `Runtime.halt(137)` at the scenario's fault point when haltAt >= 0.
    * RocksDB state store, the provider a large deployment runs, so
    * recovery also exercises the changelog/snapshot rebuild. */
  private def child(args: Seq[String]): Unit = {
    val Seq(scenario, chunkDir, sinkDir, ckptDir, haltAtArg, master, shuffle) = args
    val haltAt = haltAtArg.toLong
    // executor memory is inert under local[n]; under local-cluster the
    // factory wires the executor JVMs and SPARK_GRAFT_EXEC_MEM overrides it
    val s = Graft.session(s"graft-crash-child-$scenario", shuffle.toInt,
      Some(master), Map("spark.executor.memory" -> "3g",
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    s.sparkContext.setLogLevel("WARN")
    val src = Streams.readReplay(s, chunkDir)
    val q = scenario match {
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
          .foreachBatch((b: Dataset[Row], id: java.lang.Long) =>
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
    // topology reads this to prove phase B ran multi-JVM (driver + n
    // executor entries under local-cluster; 1 under local[n])
    println(s"CHILD executors=${s.sparkContext.statusTracker.getExecutorInfos.length}")
    s.stop()
  }
}
