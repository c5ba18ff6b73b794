package graft

import graft.streaming.Streams
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

/** Task-retry exactness probe (VERDICT r14 #4) — the write-path sibling of
  * StateSweep/StateRestore's state economics: at 100 TB task retries are
  * ROUTINE (preemption, spot loss, stragglers), and nothing on the board
  * proved the graded write paths commit EXACTLY ONCE under them. This
  * probe injects deterministic first-attempt task failures (a
  * mapPartitions wrapper that throws after a few rows of every chosen
  * partition's attempt 0 — so a torn attempt has already opened and
  * part-written its output files when it dies) into the four graded
  * write-path shapes and pins the committed result bit-equal to the
  * no-failure run:
  *
  *   - `sink_partitioned_write` / `bulk_load_pipeline`: dynamic-partition
  *     parquet writes — the FileOutputCommitter attempt-dir protocol must
  *     discard the torn attempt's files;
  *   - `etl_compact_small_files`: the two-hop fragment → compact rewrite,
  *     failures injected in BOTH hops;
  *   - the streaming foreachBatch upsert sink (`Streams.upsertBatch`, the
  *     engine behind stream_upsert_sink's streaming twin): failures
  *     injected inside every micro-batch's merge — the stage-dir +
  *     atomic-swap + commit-marker protocol must stay idempotent when the
  *     merge JOB retries tasks mid-batch.
  *
  * The spec (RetrySpec) drives the same scenario functions in the shared
  * test session (master local[4,4] — task retries enabled); this main runs
  * them at a chosen scale on local[32,4] WITH SPECULATIVE EXECUTION ON and
  * adds the speculation twin: a straggler-injected write where a
  * speculative duplicate attempt races the original and only one may
  * commit.
  *
  * Injection counting relies on the executor living in the driver JVM
  * (local mode) — exactly the environment the board's measurements run in.
  *
  * usage: runMain graft.RetryProbe [srcDir]   (default /root/testdata/sf0.01)
  */
object RetryProbe {
  /** Injected-failure / straggler counters (local mode: executor == driver
    * JVM, so these are visible to the caller). Reset per scenario. */
  val injected = new java.util.concurrent.atomic.AtomicInteger(0)
  val slowed = new java.util.concurrent.atomic.AtomicInteger(0)

  final case class ScenarioResult(name: String, rows: Long, missing: Long,
                                  extra: Long, nInjected: Int) {
    def exact: Boolean = missing == 0 && extra == 0 && rows > 0
  }

  /** First attempt of every `modulus`-th partition throws after
    * `afterRows` rows (partial output already emitted — the torn-task
    * case); retried attempts (attemptNumber ≥ 1) pass the data through
    * untouched, so the job's COMMITTED result must equal the clean run. */
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

  /** Straggler injection for the speculation twin: the first attempt of
    * partition 0 sleeps per row; a speculative duplicate (or the original)
    * finishes first and exactly one attempt's output may commit. */
  def slow(df: DataFrame, perRowMs: Long = 20): DataFrame = {
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(df.schema)
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc == null || tc.partitionId() != 0 || tc.attemptNumber() > 0) it
      else it.map { r => slowed.incrementAndGet(); Thread.sleep(perRowMs); r }
    }
  }

  /** Multiset diff of the committed flaky-run output vs the clean run:
    * (missing, extra) must both be zero for bit-exactness. */
  private def diff(clean: DataFrame, flakyOut: DataFrame): (Long, Long) =
    (clean.exceptAll(flakyOut).count(), flakyOut.exceptAll(clean).count())

  /** sink_partitioned_write's shape: dynamic-partition parquet write. */
  def partitionedWrite(s: SparkSession, srcDir: String, base: String,
                       inject: DataFrame => DataFrame): ScenarioResult = {
    injected.set(0)
    val src = T.t(s, srcDir, "orders")
    inject(src).write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(s"$base/flaky")
    src.write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(s"$base/clean")
    val (m, e) = diff(s.read.parquet(s"$base/clean"),
      s.read.parquet(s"$base/flaky"))
    ScenarioResult("partitioned_write", src.count(), m, e, injected.get())
  }

  /** bulk_load_pipeline's shape: filter → derive → partitioned write. */
  def bulkLoad(s: SparkSession, srcDir: String, base: String): ScenarioResult = {
    injected.set(0)
    val src = T.t(s, srcDir, "lineitem")
      .filter(col("l_quantity") > 0)
      .withColumn("l_year", year(col("l_shipdate")))
    flaky(src).write.mode("overwrite").partitionBy("l_year")
      .parquet(s"$base/flaky")
    src.write.mode("overwrite").partitionBy("l_year").parquet(s"$base/clean")
    val (m, e) = diff(s.read.parquet(s"$base/clean"),
      s.read.parquet(s"$base/flaky"))
    ScenarioResult("bulk_load", src.count(), m, e, injected.get())
  }

  /** etl_compact_small_files' shape: fragment (64-way) then compact
    * (4-way) rewrite, failures injected in BOTH write jobs. */
  def compactRewrite(s: SparkSession, srcDir: String, base: String): ScenarioResult = {
    injected.set(0)
    val src = T.t(s, srcDir, "orders")
    flaky(src.repartition(64)).write.mode("overwrite")
      .parquet(s"$base/frag")
    flaky(s.read.parquet(s"$base/frag").repartition(4), modulus = 2)
      .write.mode("overwrite").parquet(s"$base/compact")
    val (m, e) = diff(src, s.read.parquet(s"$base/compact"))
    ScenarioResult("compact_rewrite", src.count(), m, e, injected.get())
  }

  /** The streaming foreachBatch upsert sink under mid-batch task retries:
    * every micro-batch's merge input fails its first attempt per chosen
    * partition; the committed target must equal the batch latest-per-key
    * recompute over all chunks. */
  def upsertSink(s: SparkSession, srcDir: String, base: String): ScenarioResult = {
    injected.set(0)
    val chunks = s"$base/chunks"
    Streams.writeChunks(s, srcDir, chunks, 4)
    val q = Streams.readReplay(s, chunks)
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[Row], id: java.lang.Long) =>
        Streams.upsertBatch(s"$base/target")(
          flaky(b.toDF(), modulus = 1, afterRows = 3), id))
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = s.read.parquet(s"$base/target/data")
    val want = s.read.parquet(chunks)
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("_rn") === 1)
      .select("user_id", "ts", "event_id", "value")
    val (m, e) = diff(want, got)
    ScenarioResult("upsert_sink", want.count(), m, e, injected.get())
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val cpus = Graft.defaultCores
    // local[cpus,4]: 4 task-failure budget, so retries are allowed.
    // Speculation ON for the whole run: the throw-based scenarios must
    // stay exact WITH speculative duplicates enabled too, and the
    // straggler twin below needs it to actually clone attempts
    val spark = Graft.session("retryprobe", cpus, Some(s"local[$cpus,4]"),
      Map("spark.speculation" -> "true",
        "spark.speculation.multiplier" -> "1.5",
        "spark.speculation.quantile" -> "0.3"))
    spark.sparkContext.setLogLevel("WARN")
    val results = Seq(
      partitionedWrite(spark, srcDir, T.tempDir("graft_retry_pw_"), flaky(_)),
      bulkLoad(spark, srcDir, T.tempDir("graft_retry_bl_")),
      compactRewrite(spark, srcDir, T.tempDir("graft_retry_cr_")),
      upsertSink(spark, srcDir, T.tempDir("graft_retry_us_")),
      { // speculation twin: straggler-injected partitioned write
        slowed.set(0)
        val r = partitionedWrite(spark, srcDir, T.tempDir("graft_retry_sp_"),
          slow(_))
        r.copy(name = "speculative_write", nInjected = slowed.get())
      })
    results.foreach { r =>
      println(s"RETRYPROBE ${r.name} rows=${r.rows} missing=${r.missing} " +
        s"extra=${r.extra} injected=${r.nInjected} " +
        s"exact=${if (r.exact) "OK" else "MISMATCH"}")
    }
    spark.stop()
    if (!results.forall(_.exact)) sys.exit(1)
    // the throw scenarios must have actually injected failures, or the
    // probe proved nothing
    if (results.take(4).exists(_.nInjected == 0)) {
      System.err.println("RETRYPROBE vacuous: a scenario injected 0 failures")
      sys.exit(1)
    }
  }
}
