package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** The board runner: times every registered key and leaves one record per
  * key, so a regression, a load burst or a plan change can be localized
  * after the fact without a re-run.
  *
  * Per key, in this order:
  *  1. the count leg, `fn(...).count()` — the legacy metric (`count_s`),
  *     bit-comparable with BENCH_r01–r16;
  *  2. `reps` noop-sink legs (`noop_s`, one entry per rep): every column of
  *     every row is written to the `noop` sink, because `count()` lets
  *     Catalyst prune expression-shaped work (an exact percentile, a
  *     sort_array) — the headline metric;
  *  3. the first noop leg is the measured one: its write runs under job
  *     group `bench:<key>`, and the [[Bench.Collector]] attributes jobs,
  *     task metrics and the write's executed plan to the key. Its drain
  *     (bounded by `T.settle`) runs after the timed region;
  *  4. [[PlanAudit]] reads that finalized plan, whose SQL metrics the write
  *     filled in, and the record gets its 100 TB red `flags` (and the
  *     measured `nested_rows`/`win_rows` of its allowlisted shapes) — no
  *     extra execution.
  *
  * Every leg's time excludes the `T.staged` builds it paid; those are the
  * key's `staging_s` (the first consumer of a shared index otherwise reads
  * as a regression — VERDICT r15). A key that throws gets an `error` and no
  * timing, and the run exits 1 (VERDICT r9: failures must be loud).
  *
  * Outputs in `outDir`: `keys.jsonl` (one record per key), `plans/<key>.txt`
  * (the executed plan of the measured write) and `run.json` (the final
  * stdout line plus `cpus`, `reps`, `date`, `load_avg_start`). The final
  * stdout line is the bench contract: `value` = query + staging seconds,
  * the 40 slowest keys, and aggregates — kept well under 2000 chars, the
  * output tail that consumers of the contract read.
  *
  * usage: runMain graft.Bench [outDir=/tmp/graft_bench] [reps=1] [key,key...]
  * env:   SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default:
  *        every processor)
  */
object Bench {
  type Board = Seq[(String, (SparkSession, String) => DataFrame)]

  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "/tmp/graft_bench"
    val reps = if (args.length > 1) args(1).toInt else 1
    val only = args.lift(2).map(_.split(",").toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val board = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val spark = Graft.session("bench")
    spark.sparkContext.setLogLevel("WARN")
    val errors = run(spark, sfDir, board, reps, outDir)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Run `board` as described above, print the final JSON line and return
    * the keys that failed. */
  def run(spark: SparkSession, sfDir: String, board: Board, reps: Int,
          outDir: String): Seq[String] = {
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val t0 = System.nanoTime()
    val stagingAtStart = T.stagingNanos.get()
    val loadStart = loadAvg
    val plansDir = java.nio.file.Paths.get(outDir, "plans")
    java.nio.file.Files.createDirectories(plansDir)
    // untimed warmup: JIT, whole-stage codegen and the parquet reader
    // initialize here instead of inside the first measured key
    try {
      val li = T.t(spark, sfDir, "lineitem")
      li.groupBy("l_returnflag").count().count()
      li.limit(1000).orderBy("l_orderkey").count()
    } catch { case _: Throwable => }
    // the decimal-fanout threshold's base: read once, between keys, and
    // only if some key's plan has decimal math above a row multiplier
    lazy val maxBase = Graft.tables.map(T.t(spark, sfDir, _).count()).max
    val sc = spark.sparkContext
    val col = new Collector
    sc.addSparkListener(col)
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    val noopS = scala.collection.mutable.LinkedHashMap[String, Double]()
    var countSec = 0.0
    val staging = scala.collection.mutable.LinkedHashMap[String, Double]()
    val keys = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(
      java.nio.file.Paths.get(outDir, "keys.jsonl")))
    try board.foreach { case (name, fn) =>
      val start = secs(System.nanoTime() - t0)
      val s0 = T.stagingNanos.get()
      val fields: Seq[(String, Any)] = try {
        val count = timed(inGroup(sc, Idle)(fn(spark, sfDir).count()))
        col.begin(name)
        var session: SparkSession = null
        val first = try timed {
          val df = fn(spark, sfDir)
          session = df.sparkSession
          // a child session (s.newSession()) has its own listener manager
          session.listenerManager.register(col)
          inGroup(sc, Prefix + name)(noop(df))
        } finally {
          col.finish(expectPlan = session != null)
          if (session != null) session.listenerManager.unregister(col)
        }
        val rest = (2 to reps).map(_ => timed(inGroup(sc, Idle)(noop(fn(spark, sfDir)))))
        val st = secs(T.stagingNanos.get() - s0)
        countSec += count
        noopS(name) = first
        if (st > 0.05) staging(name) = st
        val m = col.sums(name)
        Seq("count_s" -> count, "noop_s" -> (first +: rest), "staging_s" -> st,
          "jobs" -> m.jobs.get) ++ col.plan.toSeq.flatMap { p =>
          val text = p.toString
          java.nio.file.Files.writeString(plansDir.resolve(s"$name.txt"), text)
          val (ex, reex, bex) = exchanges(p)
          val audit = PlanAudit.audit(name, p, maxBase)
          Seq("ex" -> ex, "reex" -> reex, "bex" -> bex) ++
            operators.map { case (k, re) => k -> re.r.findAllIn(text).length } ++
            Seq("flags" -> audit.flags) ++ audit.nestedRows.map("nested_rows" -> _) ++
            audit.windowRows.map("win_rows" -> _)
        } ++ Seq("shuf_w" -> m.shufW.get, "shuf_r" -> m.shufR.get,
          "spill_d" -> m.spillD.get, "spill_m" -> m.spillM.get,
          "input" -> m.input.get, "cpu_ms" -> m.cpuNs.get / 1000000,
          "tasks" -> m.tasks.get, "peak_task_mem" -> m.peak.get,
          "drain_timeout" -> !col.drained)
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        errors += name
        System.err.println(s"[bench] $name FAILED: $msg")
        Seq("error" -> msg)
      }
      keys.println(obj(Seq("key" -> name, "start_s" -> start) ++ fields :+
        ("load_avg" -> loadAvg)))
      keys.flush()
    } finally {
      keys.close()
      sc.removeSparkListener(col)
    }
    // the final line: the 40 slowest keys by name, the rest aggregated;
    // errors as a full count plus the first 10 names; staging as a total
    // plus the 8 biggest per-key shares
    val top = noopS.toSeq.sortBy(-_._2).take(40)
    val total = noopS.values.sum
    val stagingTotal = secs(T.stagingNanos.get() - stagingAtStart)
    val line = obj(Seq("metric" -> "total", "value" -> (total + stagingTotal),
      "unit" -> "sec", "queries" -> ListMap(top: _*), "n_queries" -> noopS.size,
      "n_errors" -> errors.size, "errors" -> errors.take(10).toSeq,
      "n_omitted" -> (noopS.size - top.size),
      "other_sec" -> (total - top.map(_._2).sum),
      "staging_sec" -> stagingTotal,
      "staging" -> ListMap(staging.toSeq.sortBy(-_._2).take(8): _*),
      "query_sec" -> total, "count_sec" -> countSec,
      "load_avg" -> loadAvg, "sf" -> sfDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, "run.json"),
      line.dropRight(1) + "," + obj(Seq("cpus" -> sc.defaultParallelism,
        "reps" -> reps, "date" -> java.time.LocalDate.now.toString,
        "load_avg_start" -> loadStart)).drop(1) + "\n")
    println(line)
    errors.toSeq
  }

  /** Job group of a key's measured write. Legs that are not measured run
    * under `Idle`, whose tasks the collector drops, so their late task
    * events cannot fall back to the key measured next. */
  val Prefix = "bench:"
  private val Idle = "bench"

  /** Run `body` with `group` as the calling thread's job group. */
  def inGroup[A](sc: SparkContext, group: String)(body: => A): A = {
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  /** Task-metric totals of one key's measured leg. */
  final class Sums {
    val shufW, shufR, spillD, spillM, input, cpuNs, tasks, jobs, peak = new AtomicLong
    def snap: Seq[Long] = Seq(shufW, shufR, spillD, spillM, input, cpuNs, tasks, jobs, peak).map(_.get)
  }

  /** The one per-key collector. As a SparkListener it counts the jobs of
    * group `bench:<key>` and attributes task metrics by stage → job group,
    * so a key's late task events cannot land on the next key; tasks of
    * jobs in another group (streaming micro-batches set their own) or in
    * none fall back to the key being measured, and tasks of `Idle` legs
    * are dropped. As a QueryExecutionListener it keeps the executed plan of
    * the measured noop write. */
  final class Collector extends SparkListener with QueryExecutionListener {
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val perKey = new ConcurrentHashMap[String, Sums]()
    @volatile private var current: String = null
    @volatile private var written: SparkPlan = null
    @volatile var drained = true

    def sums(key: String): Sums = perKey.computeIfAbsent(key, _ => new Sums)
    def plan: Option[SparkPlan] = Option(written)

    /** Attribute from now on to `key`, starting from zero. */
    def begin(key: String): Unit = {
      perKey.put(key, new Sums)
      written = null
      current = key
    }

    /** Wait, at most 5 s, until the current key's counters have settled —
      * and, if `expectPlan`, its write's plan has landed — then stop
      * attributing. Sets `drained`; at the deadline it gives up. */
    def finish(expectPlan: Boolean): Unit = {
      val m = sums(current)
      // the clock keeps the read moving until the plan is in
      drained = T.settle(5000L)(
        if (expectPlan && written == null) System.nanoTime() else m.snap)
      current = null
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        j.stageIds.foreach(stageGroup.put(_, g))
        if (g.startsWith(Prefix)) sums(g.substring(Prefix.length)).jobs.incrementAndGet()
      }
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(t.stageId)
      val key = if (g == Idle) null
        else if (g != null && g.startsWith(Prefix)) g.substring(Prefix.length)
        else current
      val tm = t.taskMetrics
      if (key != null && tm != null) {
        val m = sums(key)
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

    private def capture(qe: QueryExecution): Unit =
      if (current != null) scala.util.Try(qe.executedPlan).foreach {
        case w: V2TableWriteExec => written = w
        case _ =>
      }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      capture(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      capture(qe)
  }

  /** (shuffle, reused, broadcast) exchange nodes of an executed plan, by
    * [[PlanAudit.walk]]: a ReusedExchangeExec is a leaf, so the exchange it
    * reuses counts once, where it ran. In the plan text a ReusedExchange
    * line embeds its source exchange's text, so substring arithmetic
    * over-counts real shuffles (17 vs 15 in dedup_near_minhash's r17 plan,
    * `git show e9a77c2:plans/r17/dedup_near_minhash_after.txt`). */
  def exchanges(plan: SparkPlan): (Int, Int, Int) = {
    var (ex, reex, bex) = (0, 0, 0)
    PlanAudit.walk(plan) {
      case _: ReusedExchangeExec => reex += 1
      case _: ShuffleExchangeLike => ex += 1
      case _: BroadcastExchangeLike => bex += 1
      case _ =>
    }
    (ex, reex, bex)
  }

  /** Operators counted in the executed plan text: the optimization audit's
    * straggler shapes (VERDICT r16 #4). */
  private val operators = Seq("smj" -> "SortMergeJoin", "cart" -> "CartesianProduct",
    "bnlj" -> "BroadcastNestedLoopJoin", "oha" -> "ObjectHashAggregate",
    "gen" -> "Generate", "sort" -> "\\bSort\\b", "win" -> "Window",
    "bhj" -> "BroadcastHashJoin")

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def secs(nanos: Long): Double = nanos / 1e9

  /** Wall seconds of `body`, less the `T.staged` builds it paid. */
  private def timed(body: => Unit): Double = {
    val s0 = T.stagingNanos.get()
    val t0 = System.nanoTime()
    body
    math.max(0.0, secs(System.nanoTime() - t0 - (T.stagingNanos.get() - s0)))
  }

  /** 1-minute load average: this box carries external load, so the context
    * is part of the measurement. */
  private def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** One JSON object; seconds and load averages with 3 decimals. */
  private[graft] def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + json(v) }.mkString("{", ",", "}")

  private def json(v: Any): String = v match {
    case d: Double => T.num(d, 3)
    case s: String => str(s)
    case m: ListMap[String, Any] @unchecked => obj(m.toSeq)
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other => other.toString
  }

  private def str(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
}
