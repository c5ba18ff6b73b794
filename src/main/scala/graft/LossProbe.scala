package graft

import graft.streaming.Streams
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

/** Executor-LOSS exactness probe (VERDICT r15 Next #2) — extends RetryProbe
  * from task death to PROCESS death. At 100 TB an executor JVM dying
  * mid-job (spot reclaim, OOM-kill, hardware) is the steady state, and it
  * exercises a failure path task retries cannot reach: the dead executor's
  * SHUFFLE MAP OUTPUTS are gone, so downstream reducers hit FetchFailed
  * and the scheduler must re-execute the finished map stage, not just a
  * task. This probe runs under `local-cluster` (real executor processes),
  * `kill -9`s one executor JVM mid-flight, and pins every committed output
  * bit-equal (multiset diff == 0) to a no-failure run:
  *
  *   - the four graded write-path shapes from RetryProbe
  *     (dynamic-partition write, bulk load, two-hop compact rewrite, the
  *     streaming foreachBatch upsert sink) with the kill landing inside
  *     the write job;
  *   - one shuffle-heavy graded key (`setop_intersect`) with the kill
  *     landing in the REDUCE stage, after the map stage completed — the
  *     lost-map-output / FetchFailed / stage-resubmit path.
  *
  * Mid-flight choreography uses a shared-FS flag protocol instead of
  * attempt numbers (which stage re-execution resets): every task of the
  * wrapped stage drops a `started_*` marker on its first row and then
  * holds while `go` exists; the killer thread waits for a marker, kills
  * one executor process, and deletes `go` so retried/rescheduled work
  * runs at full speed. Each scenario asserts ≥1 REAL executor removal
  * (SparkListenerExecutorRemoved) — a run with zero kills proves nothing
  * and exits non-zero.
  *
  * usage (SPARK_HOME and SPARK_SCALA_VERSION required for the worker to
  * launch executor JVMs; Graft.session forwards this JVM's classpath to
  * them):
  *
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   java <add-opens> -cp "target/scala-2.13/classes:/opt/spark/jars/＊" \
  *     graft.LossProbe [srcDir]          (default /root/testdata/sf0.01;
  *     the ＊ stands for a literal shell glob star — spelled fullwidth
  *     here only because a star-slash would close this comment)
  */
object LossProbe {
  final case class ScenarioResult(name: String, rows: Long, missing: Long,
                                  extra: Long, executorsKilled: Int,
                                  fetchFailed: Int) {
    def exact: Boolean = missing == 0 && extra == 0 && rows > 0 &&
      executorsKilled >= 1
  }

  private val removedExec = new java.util.concurrent.atomic.AtomicInteger(0)
  private val fetchFails = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Hold the wrapped stage open: each task's first row drops a marker and
    * then sleeps while `$flagDir/go` exists (bounded by holdMs). Executed
    * on executors — flagDir must be shared FS (single host here). */
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

  /** `kill -9` one executor JVM of this app (matched by app id on the
    * CoarseGrainedExecutorBackend command line). Returns the pid. */
  def killOneExecutor(appId: String): Option[Int] = {
    import scala.sys.process._
    val psOut = Seq("bash", "-c", "ps -eo pid,args").!!
    val pids = psOut.linesIterator
      .filter(l => l.contains("CoarseGrainedExecutorBackend") && l.contains(appId))
      .map(_.trim.split("\\s+")(0).toInt).toSeq.sorted
    pids.headOption.map { pid =>
      Seq("kill", "-9", pid.toString).!
      pid
    }
  }

  /** Block until `n` executor processes are registered (the standalone
    * master relaunches a replacement after each kill; scenarios must not
    * start while the fleet is down to one). */
  def waitForExecutors(s: SparkSession, n: Int, timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (s.sparkContext.statusTracker.getExecutorInfos.length - 1 < n &&
           System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    val have = s.sparkContext.statusTracker.getExecutorInfos.length - 1
    require(have >= n, s"only $have executors registered after ${timeoutMs}ms")
  }

  /** Run `work` (which must evaluate a holdOpen-wrapped job against
    * `flagDir`) while a killer thread waits for the first task marker,
    * kills one executor process, then releases the hold. Returns the
    * number of executor-removed events observed during the scenario. */
  def withExecutorKill[A](s: SparkSession, flagDir: String)(work: => A): (A, Int) = {
    waitForExecutors(s, 2)
    val before = removedExec.get()
    new java.io.File(flagDir, "go").createNewFile()
    val killer = new Thread(() => {
      val dir = new java.io.File(flagDir)
      val deadline = System.currentTimeMillis() + 120000
      while (!dir.listFiles().exists(_.getName.startsWith("started_")) &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      killOneExecutor(s.sparkContext.applicationId)
        .foreach(pid => System.err.println(s"[lossprobe] killed executor pid=$pid"))
      Thread.sleep(500) // let the worker notice the corpse
      new java.io.File(flagDir, "go").delete()
    })
    killer.setDaemon(true)
    killer.start()
    val res = work
    killer.join(130000)
    // drain the async listener bus before reading the removal counter
    if (!T.settle(10000L, pollMs = 100L)(removedExec.get()))
      System.err.println("[lossprobe] drain=timeout: removal count may be short")
    (res, removedExec.get() - before)
  }

  private def diff(clean: DataFrame, lossy: DataFrame): (Long, Long) =
    (clean.exceptAll(lossy).count(), lossy.exceptAll(clean).count())

  /** Dynamic-partition parquet write with the executor dying mid-write. */
  def partitionedWrite(s: SparkSession, srcDir: String, base: String): ScenarioResult = {
    val src = T.t(s, srcDir, "orders")
    val flagDir = T.tempDir("graft_loss_pw_")
    val ff0 = fetchFails.get()
    val (_, killed) = withExecutorKill(s, flagDir) {
      holdOpen(src.repartition(16), flagDir).write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(s"$base/lossy")
    }
    src.write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(s"$base/clean")
    val (m, e) = diff(s.read.parquet(s"$base/clean"), s.read.parquet(s"$base/lossy"))
    ScenarioResult("partitioned_write", src.count(), m, e, killed,
      fetchFails.get() - ff0)
  }

  /** bulk_load_pipeline's shape: filter → derive → partitioned write. */
  def bulkLoad(s: SparkSession, srcDir: String, base: String): ScenarioResult = {
    val src = T.t(s, srcDir, "lineitem")
      .filter(col("l_quantity") > 0)
      .withColumn("l_year", year(col("l_shipdate")))
    val flagDir = T.tempDir("graft_loss_bl_")
    val ff0 = fetchFails.get()
    val (_, killed) = withExecutorKill(s, flagDir) {
      holdOpen(src.repartition(16), flagDir).write.mode("overwrite")
        .partitionBy("l_year").parquet(s"$base/lossy")
    }
    src.write.mode("overwrite").partitionBy("l_year").parquet(s"$base/clean")
    val (m, e) = diff(s.read.parquet(s"$base/clean"), s.read.parquet(s"$base/lossy"))
    ScenarioResult("bulk_load", src.count(), m, e, killed, fetchFails.get() - ff0)
  }

  /** Two-hop fragment → compact rewrite; the kill lands in the compact
    * hop, whose INPUT is the fragment parquet — re-executed tasks must
    * re-read, not double-append. */
  def compactRewrite(s: SparkSession, srcDir: String, base: String): ScenarioResult = {
    val src = T.t(s, srcDir, "orders")
    src.repartition(64).write.mode("overwrite").parquet(s"$base/frag")
    val flagDir = T.tempDir("graft_loss_cr_")
    val ff0 = fetchFails.get()
    val (_, killed) = withExecutorKill(s, flagDir) {
      holdOpen(s.read.parquet(s"$base/frag").repartition(8), flagDir)
        .write.mode("overwrite").parquet(s"$base/compact")
    }
    val (m, e) = diff(src, s.read.parquet(s"$base/compact"))
    ScenarioResult("compact_rewrite", src.count(), m, e, killed,
      fetchFails.get() - ff0)
  }

  /** The streaming foreachBatch upsert sink with an executor dying inside
    * a micro-batch's merge: the stage-dir + atomic-swap + marker protocol
    * must commit each batch exactly once through the process loss. */
  def upsertSink(s: SparkSession, srcDir: String, base: String): ScenarioResult = {
    val chunks = s"$base/chunks"
    Streams.writeChunks(s, srcDir, chunks, 4)
    val flagDir = T.tempDir("graft_loss_us_")
    val ff0 = fetchFails.get()
    val (_, killed) = withExecutorKill(s, flagDir) {
      val q = Streams.readReplay(s, chunks)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[Row], id: java.lang.Long) =>
          Streams.upsertBatch(s"$base/target")(
            holdOpen(b.toDF(), flagDir, holdMs = 15000), id))
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val got = s.read.parquet(s"$base/target/data")
    val want = s.read.parquet(chunks)
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("_rn") === 1)
      .select("user_id", "ts", "event_id", "value")
    val (m, e) = diff(want, got)
    ScenarioResult("upsert_sink", want.count(), m, e, killed,
      fetchFails.get() - ff0)
  }

  /** Shuffle-heavy graded key with the kill landing in the REDUCE stage:
    * holdOpen sits above the final aggregation, so by the time markers
    * appear the map stage has COMPLETED and its outputs live on both
    * executors — killing one loses half the map output, surviving
    * reducers FetchFail, and the scheduler re-runs the map stage. The
    * committed result must still equal the clean run of the same graded
    * key. */
  def shuffleHeavyKey(s: SparkSession, srcDir: String, base: String): ScenarioResult = {
    val fn = SparkEntry.queries("setop_intersect")
    val flagDir = T.tempDir("graft_loss_sh_")
    val ff0 = fetchFails.get()
    val (_, killed) = withExecutorKill(s, flagDir) {
      holdOpen(fn(s, srcDir), flagDir).write.mode("overwrite")
        .parquet(s"$base/lossy")
    }
    fn(s, srcDir).write.mode("overwrite").parquet(s"$base/clean")
    val clean = s.read.parquet(s"$base/clean")
    val (m, e) = diff(clean, s.read.parquet(s"$base/lossy"))
    ScenarioResult("shuffle_heavy_setop_intersect", clean.count(), m, e,
      killed, fetchFails.get() - ff0)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    require(sys.env.contains("SPARK_HOME"),
      "SPARK_HOME must point at a Spark dist (worker launches executor JVMs)")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,8,6144]")
    require(master.startsWith("local-cluster"),
      s"LossProbe needs separate executor processes, got master=$master")
    val spark = Graft.session("lossprobe", 8, Some(master),
      Map("spark.executor.memory" -> "4g"))
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        removedExec.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.reason != null &&
            t.reason.getClass.getSimpleName.startsWith("FetchFailed"))
          fetchFails.incrementAndGet()
    })
    val results = Seq(
      partitionedWrite(spark, srcDir, T.tempDir("graft_loss_b1_")),
      bulkLoad(spark, srcDir, T.tempDir("graft_loss_b2_")),
      compactRewrite(spark, srcDir, T.tempDir("graft_loss_b3_")),
      upsertSink(spark, srcDir, T.tempDir("graft_loss_b4_")),
      shuffleHeavyKey(spark, srcDir, T.tempDir("graft_loss_b5_")))
    results.foreach { r =>
      println(s"LOSSPROBE ${r.name} rows=${r.rows} missing=${r.missing} " +
        s"extra=${r.extra} executorsKilled=${r.executorsKilled} " +
        s"fetchFailed=${r.fetchFailed} " +
        s"exact=${if (r.exact) "OK" else "MISMATCH"}")
    }
    val shuffleScenario = results.last
    spark.stop()
    if (!results.forall(_.exact)) {
      System.err.println("LOSSPROBE: a scenario diverged or killed no executor")
      sys.exit(1)
    }
    // the lost-map-output path must have actually fired somewhere in the
    // run, or the headline claim (FetchFailed → stage re-execution) is
    // unproven; the reduce-stage kill scenario is built to force it
    if (shuffleScenario.fetchFailed == 0 && fetchFails.get() == 0) {
      System.err.println("LOSSPROBE vacuous: no FetchFailed observed — " +
        "the kill never cost a map output")
      sys.exit(2)
    }
  }
}
