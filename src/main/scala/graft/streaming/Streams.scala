package graft.streaming

import graft.T
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** SURVEY.md §2-K — the real Structured Streaming implementations.
  *
  * The driver's correctness harness is batch, so GroupStream declares
  * batch-equivalent forms; these are the streaming twins, proven equal by
  * StreamingSpec over a chunked file-source replay of `events` processed
  * with Trigger.AvailableNow (maxFilesPerTrigger=1 ⇒ one micro-batch per
  * chunk, so watermarks genuinely advance between batches).
  */
object Streams {

  /** Schema of the replay chunks (events after T.t's nanos→micros fix). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Sentinel ids of the watermark-flush events (see `flushTail`). */
  val FlushPurchaseId = 99999998L
  val FlushClickId = 99999999L

  /** Split `events` into `n` time-ordered chunk files under `outDir`
    * (one micro-batch each). If `lateTail` is set, the events of the
    * FIRST time-range chunk are instead appended as the LAST file — they
    * arrive after the watermark has advanced past them. If `flushTail` is
    * set, a final chunk with two sentinel events (user_id = -1, ts = max+3h,
    * one per join side) is appended: it drives both input watermarks past
    * every real event so OUTER stream-stream joins can prove all join
    * windows closed and emit their null-padded rows before the replay ends. */
  def writeChunks(s: SparkSession, sfDir: String, outDir: String, n: Int,
                  lateTail: Boolean = false, flushTail: Boolean = false,
                  flushHours: Int = 3): Unit = {
    // TEST-HARNESS fixture staging, not a query path: the collect() is fine
    // at fixture scale (and needed for the precise chunk/tail surgery); at
    // real scale chunking would be a repartitionByRange(ts).write job.
    val ev = T.t(s, sfDir, "events").orderBy("ts", "event_id").collect()
    val per = math.ceil(ev.length.toDouble / n).toInt
    val chunks = ev.grouped(per).toSeq
    val reordered = if (lateTail) chunks.tail :+ chunks.head else chunks
    val ordered = if (!flushTail) reordered else {
      // flushHours sizes the final watermark (= maxTs + flushHours − delay):
      // timer tests needing the watermark STRICTLY past maxTs+2h pass 4
      val t = ev.last.getAs[java.time.LocalDateTime]("ts").plusHours(flushHours.toLong)
      reordered :+ Array[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(FlushPurchaseId, t, -1L, "purchase", 0.0, "{}"),
        org.apache.spark.sql.Row(FlushClickId, t, -1L, "click", 0.0, "{}"))
    }
    ordered.zipWithIndex.foreach { case (rows, i) => writeChunkFile(s, rows, outDir, i) }
  }

  /** Flatten one chunk to a single parquet file `chunk_<idx>.parquet`: the
    * file source processes files in mtime order, so chunk_i IS micro-batch
    * i (maxFilesPerTrigger=1). */
  private def writeChunkFile(s: SparkSession, rows: Array[org.apache.spark.sql.Row],
                             outDir: String, idx: Int): Unit = {
    val df = s.createDataFrame(
      s.sparkContext.parallelize(rows.toIndexedSeq, 1), eventsSchema)
    val tmp = f"$outDir/_stage_$idx%03d"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(f"$outDir/chunk_$idx%03d.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    Thread.sleep(15) // distinct mtimes ⇒ deterministic file order
  }

  /** Progressive-arrival chunk writer: append `df`'s rows (time-ordered) as
    * `n` chunk files starting at `startIdx`. Lets a replay stage files in
    * WAVES — a later wave written after an earlier AvailableNow run has
    * drained (and, for the TTL replay, after a wall-clock gap) is picked up
    * by the next run from the same checkpoint. */
  def appendChunks(s: SparkSession, df: DataFrame, outDir: String,
                   n: Int, startIdx: Int = 0): Unit = {
    // test-harness fixture staging, same caveat as writeChunks
    val ev = df.orderBy("ts", "event_id").collect()
    val per = math.max(1, math.ceil(ev.length.toDouble / n).toInt)
    ev.grouped(per).toSeq.zipWithIndex.foreach { case (rows, i) =>
      writeChunkFile(s, rows, outDir, startIdx + i)
    }
  }

  /** File-source replay: one chunk per micro-batch. */
  def readReplay(s: SparkSession, chunkDir: String): DataFrame =
    s.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(chunkDir)

  /** Tumbling 1h window × event_type counts (streaming twin of
    * stream_tumbling_window). */
  def tumbling(stream: DataFrame): DataFrame =
    stream.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), T.dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("cnt"), col("sum_value"))

  /** Tumbling 1h counts with a 1h watermark — late chunks get dropped
    * (stream_watermark_late). */
  def tumblingWithWatermark(stream: DataFrame): DataFrame =
    stream.withColumn("ts", col("ts").cast(TimestampType)) // watermark needs LTZ
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("cnt"))

  /** Sliding 1h/15min windows (stream_sliding_window). */
  def sliding(stream: DataFrame): DataFrame =
    stream.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("cnt"))

  /** Per-user session windows with a 30-minute gap (stream_session_window). */
  def sessions(stream: DataFrame): DataFrame =
    stream.withColumn("ts", col("ts").cast(TimestampType)) // watermark needs LTZ
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("s_start"), col("n_events"))

  /** foreachBatch IDEMPOTENT upsert sink (VERDICT r8 #4): each micro-batch
    * merges its rows into a keyed parquet target keeping the latest
    * (max ts, then max event_id) row per user_id. Idempotence comes from
    * two guards, so exactly-once no longer rests on the file-sink offset
    * log alone:
    *   1. a per-batch COMMIT MARKER (`_committed_<batchId>`) written only
    *      after the swap — a re-delivered (batchId, data) pair (foreachBatch
    *      is at-least-once on retry) is skipped outright;
    *   2. the merge itself is a deterministic keyed LATEST-WINS rewrite
    *      (stage dir + atomic directory swap), so even a replay from a
    *      FRESH checkpoint converges to the same target state.
    * At 100 TB the same shape applies per partition-key directory
    * (rewrite only the partitions a batch touches), not the whole target. */
  def upsertBatch(target: String, beforeMarker: Long => Unit = _ => ())
                 (batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val root = new java.io.File(target); root.mkdirs()
    val committed = new java.io.File(root, s"_committed_$batchId")
    if (committed.exists()) return // retried batch: already applied
    val dataDir = new java.io.File(root, "data")
    val incoming = batch.select("user_id", "ts", "event_id", "value")
    val merged0 =
      if (dataDir.exists()) s.read.parquet(dataDir.toString).unionByName(incoming)
      else incoming
    val stage = new java.io.File(root, s"_stage_$batchId")
    merged0
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("_rn") === 1).drop("_rn")
      .write.mode("overwrite").parquet(stage.toString)
    // atomic swap: data -> _old, stage -> data; marker written LAST
    val old = new java.io.File(root, s"_old_$batchId")
    if (dataDir.exists()) dataDir.renameTo(old)
    require(stage.renameTo(dataDir), s"swap failed for batch $batchId")
    if (old.exists()) org.apache.commons.io.FileUtils.deleteDirectory(old)
    // crash-probe hook: a process death HERE (swap applied, marker absent)
    // is the adversarial point — on redelivery the merge must converge,
    // which the deterministic latest-wins rewrite guarantees (FaultProbe
    // crash scenario upsert_torn_marker; idempotence pinned in RetrySpec)
    beforeMarker(batchId)
    committed.createNewFile()
  }

  /** Drain `replayDir` through the idempotent upsert sink with
    * Trigger.AvailableNow (one micro-batch per chunk). */
  def runUpsertSink(s: SparkSession, replayDir: String, target: String,
                    checkpoint: String): Unit = {
    val q = readReplay(s, replayDir)
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: java.lang.Long) =>
        upsertBatch(target)(b.toDF(), id))
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Per-user running event counts under a REAL state TTL
    * (stream_state_ttl): the ValueState carries
    * TTLConfig(ttl) — processing-time expiry, the one state-lifecycle
    * surface every other processor leaves at TTLConfig.NONE. Each input
    * row also carries its PERIOD (ts before/after `splitTs`), and the
    * replay harness (runTtlReplay) delivers period 2 after a wall-clock
    * gap > ttl, so the TTL eviction IS the period reset: the emitted
    * running counts restart at period boundaries, and the final
    * per-(user, period) count equals the batch GROUP BY (user, period) —
    * deterministic BOTH ways because a period's batches run back-to-back
    * (≪ ttl apart: state provably retained) while the inter-period gap
    * exceeds ttl (state provably expired). Emits (user_id, period,
    * running_cnt) per (key, micro-batch). */
  def ttlCounts(stream: DataFrame, splitTs: String,
                ttl: java.time.Duration): Dataset[(Long, Int, Long)] = {
    val s = stream.sparkSession
    import s.implicits._
    stream
      .select(col("user_id"),
        when(col("ts") < lit(splitTs).cast(TimestampNTZType), 1).otherwise(2)
          .as("period"))
      .as[(Long, Int)]
      .groupByKey(_._1)
      .transformWithState(
        new StatefulProcessor[Long, (Long, Int), (Long, Int, Long)] {
          @transient private var cnt: ValueState[Long] = _
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
            cnt = getHandle.getValueState[Long]("cnt", TTLConfig(ttl))
          override def handleInputRows(
              key: Long, rows: Iterator[(Long, Int)],
              timerValues: TimerValues): Iterator[(Long, Int, Long)] = {
            if (key < 0) return Iterator.empty // watermark-flush sentinels
            val rs = rows.toSeq
            // all rows of a micro-batch share one period by replay
            // construction (chunks are period-aligned); max is the guard
            val period = rs.map(_._2).max
            val c = (if (cnt.exists()) cnt.get() else 0L) + rs.size
            cnt.update(c)
            Iterator((key, period, c))
          }
        },
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Drive the TTL replay in two AvailableNow waves against ONE checkpoint
    * and ONE parquet sink: drain the period-1 chunks, wait `gapMs` (must
    * exceed the ttl), stage the period-2 chunks via `addLater`, drain
    * again. The second wave's batch timestamp is > ttl past every
    * period-1 state update, so TTL eviction is certain before any
    * period-2 row is counted. Returns the state operator's numRowsTotal
    * after the FINAL wave drains — the measured TTL-eviction gate: with
    * eviction working it is bounded by the wave-2-active user domain, not
    * by everything the stream ever keyed (VERDICT r12 #4). */
  def runTtlReplay(s: SparkSession, chunkDir: String, out: String,
                   checkpoint: String, splitTs: String,
                   ttl: java.time.Duration, gapMs: Long,
                   wave1Rows: Long, wave2Rows: Long,
                   addLater: () => Unit): Seq[(String, Long)] = {
    // Spark 4.1 trap: transformWithState in TimeMode.ProcessingTime
    // reports shouldRunAnotherBatch=true UNCONDITIONALLY (TTL eviction
    // and processing-time timers need batches to keep running), so
    // Trigger.AvailableNow never self-terminates — it commits no-data
    // batches forever and the drain must stop the query itself. "A
    // no-data progress appeared" alone is NOT the drained signal: on a
    // loaded restart the run may FIRST replay an uncommitted no-data
    // batch from the offset log (numInputRows=0) before discovering the
    // newly staged file — stopping there loses the wave. Require BOTH
    // the wave's expected input rows consumed AND a trailing no-data
    // batch (which can only run once every staged file is consumed under
    // maxFilesPerTrigger=1; state is checkpointed per batch, so stopping
    // mid-no-data-loop is safe).
    def drain(minRows: Long): Seq[(String, Long)] = {
      val q = ttlCounts(readReplay(s, chunkDir), splitTs, ttl)
        .toDF("user_id", "period", "cnt")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // recentProgress is a RING BUFFER (spark.sql.streaming
      // .numRecentProgressUpdates, default 100 entries) and the
      // ProcessingTime no-data loop commits batches forever, so the data
      // batches can be EVICTED before a slow poll sums them — a plain
      // sum(numInputRows) >= minRows would then never satisfy (ADVICE
      // r13). Accumulate consumed rows ACROSS polls instead, counting
      // each batchId once (progress entries arrive in batchId order).
      var consumed = 0L
      var maxSeen = -1L
      def drained: Boolean = {
        val progs = q.recentProgress
        progs.iterator.filter(_.batchId > maxSeen).foreach { p =>
          consumed += p.numInputRows
          maxSeen = p.batchId
        }
        consumed >= minRows && progs.lastOption.exists(_.numInputRows == 0L)
      }
      while (q.isActive && !drained) Thread.sleep(100)
      q.exception.foreach(throw _)
      if (q.isActive) q.stop()
      q.awaitTermination()
      Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq)
        .map(o => (o.operatorName, o.numRowsTotal))
    }
    drain(wave1Rows)
    Thread.sleep(gapMs)
    addLater()
    drain(wave2Rows)
  }

  /** Stateful exactly-once-per-id dedup (stream_dedup_stateful). */
  def dedup(stream: DataFrame): DataFrame =
    stream.withColumn("ts", col("ts").cast(TimestampType)) // watermark needs LTZ
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Double → exact integer cents with the same rounding Spark's
    * `round(v*100, 0)` applies (BigDecimal HALF_UP away from zero), so the
    * stateful ops and the StreamingSpec batch oracle agree on negative
    * half-cent values too (ADVICE r2 — Math.round rounds -12.5 to -12,
    * HALF_UP to -13). */
  private def cents(v: Double): Long =
    BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Arbitrary-state per-user running total via mapGroupsWithState
    * (stream_stateful_running): emits the updated total each batch. */
  def runningTotals(stream: DataFrame): Dataset[(Long, Double)] = {
    val s = stream.sparkSession
    import s.implicits._
    stream.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[Double]) =>
          // integer cents: the merge is order-independent and exact
          val prev = state.getOption.getOrElse(0.0)
          val add = rows.map(r => cents(r._2)).sum
          val next = prev + add
          state.update(next)
          (user, next)
      }
  }

  /** Spark 4 state-API-v2 twin of runningTotals: a StatefulProcessor with a
    * RocksDB-backed ValueState (requires
    * spark.sql.streaming.stateStore.providerClass=RocksDBStateStoreProvider
    * on the session). */
  def runningTotalsTws(stream: DataFrame): Dataset[(Long, Double)] = {
    val s = stream.sparkSession
    import s.implicits._
    stream.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(
        new StatefulProcessor[Long, (Long, Double), (Long, Double)] {
          @transient private var total: ValueState[Double] = _
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
            total = getHandle.getValueState[Double]("total", TTLConfig.NONE)
          override def handleInputRows(
              key: Long, rows: Iterator[(Long, Double)],
              timerValues: TimerValues): Iterator[(Long, Double)] = {
            val prev = if (total.exists()) total.get() else 0.0
            val add = rows.map(r => cents(r._2)).sum
            val next = prev + add
            total.update(next)
            Iterator((key, next))
          }
        },
        TimeMode.None(), OutputMode.Update())
  }

  /** Spark 4 MapState demo (stream_distinct_state): per-user distinct
    * event-type count — the streaming distinct-state shape. The MapState
    * holds one entry per type ever seen (bounded by the type domain);
    * each batch emits the updated cardinality. */
  def distinctTypes(stream: DataFrame): Dataset[(Long, Int)] = {
    val s = stream.sparkSession
    import s.implicits._
    stream.select(col("user_id"), col("event_type")).as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(
        new StatefulProcessor[Long, (Long, String), (Long, Int)] {
          @transient private var seen: MapState[String, Boolean] = _
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
            seen = getHandle.getMapState[String, Boolean]("seen", TTLConfig.NONE)
          override def handleInputRows(
              key: Long, rows: Iterator[(Long, String)],
              timerValues: TimerValues): Iterator[(Long, Int)] = {
            rows.foreach { r =>
              if (!seen.containsKey(r._2)) seen.updateValue(r._2, true)
            }
            Iterator((key, seen.keys().length))
          }
        },
        TimeMode.None(), OutputMode.Update())
  }

  /** Stateful streaming funnel (view → later click → later purchase):
    * per-user stage machine in two ValueStates (current stage, reach time).
    * Rows are sorted by ts within each micro-batch; across batches the
    * replay is time-ordered, so stage advancement matches the batch funnel
    * (strictly-later semantics at micros resolution). */
  def funnel(stream: DataFrame): Dataset[(Long, Int)] = {
    val stages = Seq("view", "click", "purchase")
    val s = stream.sparkSession
    import s.implicits._
    stream.select(col("user_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new StatefulProcessor[Long, (Long, String, Long), (Long, Int)] {
          @transient private var stage: ValueState[Int] = _
          @transient private var reachUs: ValueState[Long] = _
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
            stage = getHandle.getValueState[Int]("stage", TTLConfig.NONE)
            reachUs = getHandle.getValueState[Long]("reachUs", TTLConfig.NONE)
          }
          override def handleInputRows(
              key: Long, rows: Iterator[(Long, String, Long)],
              timerValues: TimerValues): Iterator[(Long, Int)] = {
            var st = if (stage.exists()) stage.get() else 0
            var at = if (reachUs.exists()) reachUs.get() else Long.MinValue
            rows.toSeq.sortBy(_._3).foreach { case (_, tpe, us) =>
              if (st < stages.length && tpe == stages(st) &&
                  (st == 0 || us > at)) {
                st += 1; at = us
              }
            }
            stage.update(st); reachUs.update(at)
            Iterator((key, st))
          }
        },
        TimeMode.None(), OutputMode.Update())
  }

  /** Spark 4 ListState demo (stream_topk_state) — the third state-API-v2
    * primitive after ValueState (running totals) and MapState (distinct
    * types): a bounded per-user TOP-3 of event values held as a sorted
    * ListState of (value, event_id) pairs. Each batch merges its rows
    * into the list, truncates to 3 (state is O(k) per key, never the
    * event history), and emits the current top-3. Ties break on the
    * smaller event_id — identical to the batch rank window. */
  def topValuesPerUser(stream: DataFrame, k: Int = 3): Dataset[(Long, String)] = {
    val s = stream.sparkSession
    import s.implicits._
    stream.select(col("user_id"), col("value"), col("event_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new StatefulProcessor[Long, (Long, Double, Long), (Long, String)] {
          @transient private var top: org.apache.spark.sql.streaming.ListState[(Double, Long)] = _
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
            top = getHandle.getListState[(Double, Long)]("top", TTLConfig.NONE)
          override def handleInputRows(
              key: Long, rows: Iterator[(Long, Double, Long)],
              timerValues: TimerValues): Iterator[(Long, String)] = {
            // Sort with Spark SQL's descending semantics, NOT Scala's
            // Ordering[Double]: `sortBy(-v)` puts NaN last (excluded from
            // the top-k) and flips -0.0/0.0 tie order, while the batch
            // twin's ORDER BY value DESC treats NaN as the LARGEST value.
            // java.lang.Double.compare is exactly Spark's total order
            // (NaN greatest, -0.0 < 0.0); reverse it for DESC.
            val merged = (top.get().toSeq ++ rows.map(r => (r._2, r._3)))
              .sortWith { case ((v1, id1), (v2, id2)) =>
                val c = java.lang.Double.compare(v2, v1) // DESC, NaN first
                if (c != 0) c < 0 else id1 < id2
              }.take(k)
            top.put(merged.toArray)
            // one emission per batch: the whole current list in rank order.
            // The list is MONOTONE (merging only improves it pointwise),
            // so the final state is each user's pointwise-max emission.
            Iterator((key, merged.map(_._1.toString).mkString(",")))
          }
        },
        TimeMode.None(), OutputMode.Update())
  }

  /** Timer-based per-user sessionizer (stream_session_timers) — the
    * state-API-v2 primitive the other processors don't exercise:
    * EVENT-TIME TIMERS (`registerTimer`/`handleExpiredTimer`,
    * TimeMode.EventTime). A session closes through either of two paths:
    *   - gap path: the user's next event arrives ≥ 30 min after the last
    *     one — handleInputRows emits the finished session and starts a new
    *     one (same as any sessionizer);
    *   - timer path: NO next event arrives — the event-time timer
    *     registered at lastTs+30min fires once the watermark passes it and
    *     emits the session a gap path would never see. This is what lets a
    *     session close WITHOUT requiring a later event from the same user —
    *     the semantics `session_window` gets from the engine, rebuilt on
    *     raw timers.
    * The two paths agree by construction: a timer only fires when the
    * watermark has passed lastTs+30min, and (in an in-order replay) every
    * not-yet-seen event is beyond the watermark, so the ≥30 min gap it
    * would witness is already certain. Emits one row per CLOSED session
    * (user_id, start_us, n_events, dur_s); the flushTail sentinel chunk
    * drives the final watermark past every timer so the last session of
    * every user closes before the replay ends. Sentinel rows (user_id < 0)
    * are filtered out — they exist to advance the watermark, not to be
    * sessions. */
  def sessionsWithTimers(stream: DataFrame, gapMin: Int = 30): Dataset[(Long, Long, Long, Long)] = {
    val s = stream.sparkSession
    import s.implicits._
    val gapMs = gapMin * 60000L
    stream
      .withColumn("ts", col("ts").cast(TimestampType)) // watermark needs LTZ
      .withWatermark("ts", "1 hour")
      // NO DataFrame-level sentinel filter here: Catalyst pushes such a
      // predicate BELOW the EventTimeWatermark node, so the sentinel rows
      // would be dropped before ever advancing the watermark and terminal
      // timers would never fire (observed: the last users' sessions were
      // withheld). Sentinels are skipped inside the processor instead.
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new StatefulProcessor[Long, (Long, Long), (Long, Long, Long, Long)] {
          // (session start us, last event us, event count)
          @transient private var sess: ValueState[(Long, Long, Long)] = _
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
            sess = getHandle.getValueState[(Long, Long, Long)]("sess", TTLConfig.NONE)
          private def emit(st: (Long, Long, Long), user: Long) =
            (user, st._1, st._3, (st._2 - st._1) / 1000000L)
          override def handleInputRows(
              key: Long, rows: Iterator[(Long, Long)],
              timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
            if (key < 0) return Iterator.empty // watermark-flush sentinels
            val out = Seq.newBuilder[(Long, Long, Long, Long)]
            var st = if (sess.exists()) sess.get() else null
            rows.toSeq.map(_._2).sorted.foreach { us =>
              if (st == null) st = (us, us, 1L)
              else if ((us - st._2) / 1000L >= gapMs) { // half-open [ts, ts+gap)
                out += emit(st, key); st = (us, us, 1L)
              } else st = (st._1, math.max(st._2, us), st._3 + 1L)
              // ^ max-clamp: a cross-micro-batch out-of-order event inside
              // the gap joins the session but never REWINDS its tail (an
              // unclamped tail would re-arm the timer earlier and
              // mis-sessionize silently)
            }
            sess.update(st)
            // one live timer per key: re-arm at the new session tail
            getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
            getHandle.registerTimer(st._2 / 1000L + gapMs)
            out.result().iterator
          }
          override def handleExpiredTimer(
              key: Long, timerValues: TimerValues,
              expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
            if (sess.exists()) {
              val st = sess.get(); sess.clear()
              Iterator(emit(st, key))
            } else Iterator.empty
          }
        },
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Timer-based inactivity alerts (stream_inactivity_alert): emit
    * (user_id, event_id) whenever ≥ 2 h pass after an event with no newer
    * event from that user. Interior gaps are witnessed by the NEXT event
    * (gap path in handleInputRows); the TERMINAL gap — no next event ever —
    * is exactly what the event-time timer catches. An `alerted` flag keeps
    * the two paths exactly-once per qualifying event: if the timer fired
    * first (watermark passed lastTs+2h before the next event's chunk
    * arrived), the gap path sees alerted=true and does not re-emit — so the
    * final alert SET is deterministic regardless of how chunk boundaries
    * interleave with watermark advancement. Batch twin: events whose lead()
    * successor is NULL or ≥ 2 h later. */
  def inactivityAlerts(stream: DataFrame, idleMin: Int = 120): Dataset[(Long, Long)] = {
    val s = stream.sparkSession
    import s.implicits._
    val idleMs = idleMin * 60000L
    stream
      .withColumn("ts", col("ts").cast(TimestampType)) // watermark needs LTZ
      .withWatermark("ts", "1 hour")
      // no sentinel filter here — it would be pushed below the watermark
      // node (see sessionsWithTimers); sentinels are skipped per-key below
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new StatefulProcessor[Long, (Long, Long, Long), (Long, Long)] {
          // (last event_id, last us, already alerted for this event)
          @transient private var last: ValueState[(Long, Long, Boolean)] = _
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
            last = getHandle.getValueState[(Long, Long, Boolean)]("last", TTLConfig.NONE)
          override def handleInputRows(
              key: Long, rows: Iterator[(Long, Long, Long)],
              timerValues: TimerValues): Iterator[(Long, Long)] = {
            if (key < 0) return Iterator.empty // watermark-flush sentinels
            val out = Seq.newBuilder[(Long, Long)]
            var st = if (last.exists()) last.get() else null
            // sort by (us, event_id): the replay is time-ordered but one
            // micro-batch delivers its rows unordered
            rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, id, us) =>
              if (st != null && (us - st._2) / 1000L >= idleMs && !st._3)
                out += ((key, st._1))
              // clamp: a cross-micro-batch out-of-order (older) event must
              // not become the "last event" — that would rewind the idle
              // horizon and re-arm the timer earlier (see sessionsWithTimers)
              if (st == null || us >= st._2) st = (id, us, false)
            }
            last.update(st)
            getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
            getHandle.registerTimer(st._2 / 1000L + idleMs)
            out.result().iterator
          }
          override def handleExpiredTimer(
              key: Long, timerValues: TimerValues,
              expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long)] = {
            if (last.exists() && !last.get()._3) {
              val st = last.get()
              last.update((st._1, st._2, true)) // keep state: a later event
              // may still arrive and must not re-alert for this one
              Iterator((key, st._1))
            } else Iterator.empty
          }
        },
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Chained stateful operators in ONE streaming query
    * (stream_chained_stateful): dropDuplicatesWithinWatermark(event_id) →
    * watermarked tumbling hourly count. Spark 4 supports multiple stateful
    * operators in sequence in append mode; the dedup state holds one entry
    * per event_id inside the watermark horizon, the window state one row
    * per open hour. Windows emit when the watermark passes their end, so a
    * flushTail replay drains every window before termination. */
  def dedupThenHourly(stream: DataFrame): DataFrame =
    stream
      .withColumn("ts", col("ts").cast(TimestampType)) // watermark needs LTZ
      .withWatermark("ts", "1 hour")
      // no sentinel filter (it would be pushed below the watermark node —
      // see sessionsWithTimers); the sentinels are instead left to land in
      // the window at maxTs+flushHours, whose end is ALWAYS beyond the
      // final watermark (maxTs+flushHours−delay), so append mode provably
      // never emits it and the sink stays sentinel-free
      .dropDuplicatesWithinWatermark(Seq("event_id"))
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").cast(TimestampNTZType).as("w_start"), col("cnt"))

  /** Stream-stream interval join: purchases ⋈ clicks within ±30 min per
    * user (stream_stream_join). Watermarks bound the join state. */
  def purchaseClickJoin(stream1: DataFrame, stream2: DataFrame): DataFrame = {
    val p = stream1.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").cast(TimestampType).as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = stream2.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").cast(TimestampType).as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"))
      .select("p_id", "c_id")
  }

  /** Left-outer stream-stream interval join (stream_join_left_outer):
    * purchases keep their row even with no click in ±30 min. The watermark
    * is load-bearing — it is what lets the engine emit the null-padded row
    * once the join window is provably closed, instead of holding the
    * purchase in state forever. */
  def purchaseClickLeftJoin(stream1: DataFrame, stream2: DataFrame): DataFrame = {
    val p = stream1.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").cast(TimestampType).as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = stream2.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").cast(TimestampType).as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"),
      "leftOuter")
      .select("p_id", "c_id")
  }

  /** Run a streaming DataFrame to completion into an in-memory table and
    * return the collected sink rows. */
  /** Watermarked daily tumbling (window × event_type) counts — the
    * streaming half of stream_topk_per_window. The stream maintains the
    * windowed counts (an incremental operator); the top-k RANK happens at
    * read time over the sink table ("rank at serve" — a global row_number
    * is not incremental, the counts it ranks are). Window starts are cast
    * back to NTZ so they compare against the batch date_trunc form. */
  def dailyTypeCounts(stream: DataFrame): DataFrame =
    stream.withColumn("ts", col("ts").cast(TimestampType)) // watermark needs LTZ
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").cast(TimestampNTZType).as("w_start"),
        col("event_type"), col("cnt"))

  /** Schema of the embeddings replay chunks (streaming near-dup dedup). */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Split `embeddings` into `n` vec_id-ordered chunk files — arrival
    * order IS vec_id order, which is what makes the batch
    * `stream_dedup_neardup` form ("no earlier near neighbor") the exact
    * twin of the streaming state semantics. */
  def writeEmbChunks(s: SparkSession, sfDir: String, outDir: String, n: Int): Unit = {
    // TEST-HARNESS fixture staging (see writeChunks): collect() is fixture-
    // scale only; at real scale this is a repartitionByRange(vec_id) write.
    val rows = T.t(s, sfDir, "embeddings").orderBy("vec_id").collect()
    val per = math.ceil(rows.length.toDouble / n).toInt
    rows.grouped(per).toSeq.zipWithIndex.foreach { case (chunk, i) =>
      val df = s.createDataFrame(
        s.sparkContext.parallelize(chunk.toIndexedSeq, 1), embSchema)
      val tmp = f"$outDir/_stage_$i%03d"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(f"$outDir/chunk_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      // the file source orders same-batch discoveries by mtime; set it
      // EXPLICITLY (strictly increasing, whole seconds) so chunk order is
      // deterministic on coarse-mtime filesystems — a 15 ms sleep can
      // leave two chunks sharing an mtime
      dest.setLastModified(1700000000000L + i * 1000L)
    }
  }

  /** Embeddings file-source replay: one chunk per micro-batch. */
  def readEmbReplay(s: SparkSession, chunkDir: String): DataFrame =
    s.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(chunkDir)

  /** Exact-duplicate gate of the streaming near-dup pipeline:
    * `dropDuplicatesWithinWatermark` on the (small) LSH band signature —
    * state holds one entry per DISTINCT signature inside the watermark
    * horizon, not one per row; documents colliding on every band bit are
    * collapsed to their first arrival. Event time is synthetic
    * (vec_id-derived) because the fixture has no timestamp; any real
    * ingest time works the same. The signature string reuses the
    * codegen'd `lsh_bands` expression (graft.functions.CosineLsh). */
  def sigDedup(stream: DataFrame, bands: Int = 2, rowsPerBand: Int = 8,
               seed: Long = 42L): DataFrame =
    stream
      .withColumn("ts", timestamp_seconds(col("vec_id") + lit(1600000000L)))
      .withColumn("sig", concat_ws(",",
        call_function("lsh_bands", col("embedding"),
          lit(bands), lit(rowsPerBand), lit(seed)).cast("array<string>")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("sig"))
      .select("vec_id", "sig")

  /** Near-dup flags of the streaming dedup pipeline: each streamed
    * document bands with the same `lsh_bands` family as the batch
    * `cosinePairsLSH` path, equi-joins the banded STATIC corpus restricted
    * to earlier arrivals (stream-static joins are stateless per
    * micro-batch), and exactly verifies candidates with the codegen'd
    * `vec_dot`. Emits (vec_id, dup) — dup=0 rows are the survivors; the
    * result is replay-equal to the batch `stream_dedup_neardup` key
    * (StreamingSpec). At scale the static side is the already-banded
    * index artifact, partitioned by band value. */
  def nearDupSurvivors(stream: DataFrame, staticEmb: DataFrame,
                       threshold: Double = 0.45, rowsPerBand: Int = 8,
                       seed: Long = 42L): DataFrame = {
    val bands = graft.functions.CosineLsh.bandsFor(threshold, rowsPerBand)
    def banded(df: DataFrame, idAs: String, vecAs: String) =
      df.select(col("vec_id").as(idAs), col("embedding").as(vecAs))
        .select(col(idAs), col(vecAs),
          posexplode(call_function("lsh_bands", col(vecAs),
            lit(bands), lit(rowsPerBand), lit(seed)))
            .as(Seq(s"${idAs}_pos", s"${idAs}_val")))
    val sIdx = banded(staticEmb, "u_id", "ue")
    banded(stream, "v_id", "ve")
      .join(sIdx,
        col("v_id_pos") === col("u_id_pos") &&
          col("v_id_val") === col("u_id_val") &&
          col("u_id") < col("v_id"),
        "left")
      .withColumn("hit",
        when(col("u_id").isNotNull &&
          round(call_function("vec_dot", col("ue"), col("ve")), 6) >= threshold,
          1).otherwise(0))
      .groupBy(col("v_id").as("vec_id"))
      .agg(max(col("hit")).as("dup"))
  }

  /** Stream-static enrichment (stream_static_enrich): every micro-batch
    * inner-joins the events stream against a STATIC dimension (the
    * canonical streaming enrich shape — stateless per batch, no watermark
    * needed on an inner stream-static join, the dim is planned once per
    * batch and BROADCAST so the stream side never shuffles for the join),
    * then feeds a tumbling hourly count/sum per market segment. At 100 TB
    * the dim side stays broadcast-sized (segment metadata), and the
    * stateful agg keys on (hour, segment) — a bounded domain, so state
    * never grows with stream volume. */
  def staticEnrich(stream: DataFrame, dim: DataFrame): DataFrame =
    stream.join(broadcast(dim), stream("user_id") === dim("c_custkey"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), T.dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("w_start"), col("c_mktsegment"),
        col("cnt"), col("sum_value"))

  /** Warm-start stateful totals (stream_initial_state): the per-user
    * running total is BOOTSTRAPPED from a batch-computed initial-state
    * dataset (yesterday's closing balances) instead of zero — the
    * state-migration surface of the v2 state API.
    * `handleInitialState` runs once per seeded key when the query starts
    * fresh (before any input batch), so the first emission for a seeded
    * user already includes history the stream itself never saw. Emits the
    * updated (user, total_cents) per touched batch.
    *
    * Precondition: `seeds` must carry ONE row per key (the natural shape of
    * a groupBy aggregate, as in StreamingSpec). Spark invokes
    * handleInitialState once per initial-state ROW, so duplicate seed rows
    * would overwrite each other in partition order — last write wins,
    * nondeterministically.
    *
    * Emits (user, n_seen, total_cents) per touched batch; n_seen counts the
    * key's INPUT rows (the seed contributes value, not count), and is
    * strictly increasing per key — an unordered sink (parquet) can select
    * each key's final state as its max-n_seen row, totals being
    * non-monotone when values go negative. Initial state applies only when
    * the query starts from a FRESH checkpoint; a restart resumes from the
    * state store and must NOT re-apply seeds (pinned by StreamingSpec's
    * restart test). */
  def seededTotals(stream: DataFrame,
                   seeds: Dataset[(Long, Long)]): Dataset[(Long, Long, Long)] = {
    val s = stream.sparkSession
    import s.implicits._
    stream.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(
        new StatefulProcessorWithInitialState[Long, (Long, Double), (Long, Long, Long), (Long, Long)] {
          @transient private var st: ValueState[(Long, Long)] = _
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
            st = getHandle.getValueState[(Long, Long)]("st", TTLConfig.NONE)
          override def handleInitialState(key: Long, seed: (Long, Long),
              timerValues: TimerValues): Unit =
            st.update((0L, seed._2))
          override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
              timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
            if (key < 0) return Iterator.empty // watermark-flush sentinels
            val (n0, t0) = if (st.exists()) st.get() else (0L, 0L)
            var n = n0; var t = t0
            rows.foreach { r => n += 1; t += cents(r._2) }
            st.update((n, t))
            Iterator((key, n, t))
          }
        },
        TimeMode.None(), OutputMode.Update(),
        seeds.groupByKey(_._1))
  }

  def runToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame =
    runToMemoryState(df, name, mode)._1

  /** Like runToMemory, but ALSO returns each state operator's final
    * numRowsTotal — the measured state-cardinality gate (VERDICT r12 #4):
    * the store's keyed row count after the last batch must track the
    * processor's documented O(k)/domain bound, NOT the replayed volume,
    * for the bounded-state 100 TB claim to be a number instead of an
    * argument. */
  def runToMemoryState(df: DataFrame, name: String, mode: OutputMode)
      : (DataFrame, Seq[(String, Long)]) = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ops = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.toSeq)
      .map(o => (o.operatorName, o.numRowsTotal))
    (df.sparkSession.table(name), ops)
  }
}
