package graft

import graft.streaming.Streams
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** In-suite pins for the driver-crash and topology modes of
  * `graft.FaultProbe` (the probe itself kills real JVMs and is run out of
  * band; these tests pin the pieces a unit suite CAN hold still): the two
  * fault-point contracts, the checkpoint readers behind the torn-batch and
  * pinned-shuffle verdicts, and where each child runs.
  */
class CrashSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("upsertBatch beforeMarker hook fires AFTER the swap and BEFORE the " +
    "marker; a death there leaves applied-but-unacknowledged state that a " +
    "redelivery converges, not double-applies") {
    import s.implicits._
    val target = T.tempDir("graft_crash_ub_")
    val b0 = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 10L, 1.0),
                 (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 11L, 2.0))
      .toDF("user_id", "ts", "event_id", "value")
    Streams.upsertBatch(target)(b0, 0L)
    // batch 1 updates user 1; the hook dies after the swap, before the marker
    val b1 = Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 12L, 9.0))
      .toDF("user_id", "ts", "event_id", "value")
    val boom = intercept[RuntimeException] {
      Streams.upsertBatch(target,
        id => if (id == 1L) throw new RuntimeException("simulated death"))(b1, 1L)
    }
    assert(boom.getMessage == "simulated death")
    // torn: data APPLIED (swap done) but marker absent — exactly the state
    // a halt() at that point leaves on disk
    val afterTorn = s.read.parquet(s"$target/data")
    assert(afterTorn.filter(col("user_id") === 1L).head().getAs[Long]("event_id") == 12L)
    assert(!new java.io.File(target, "_committed_1").exists())
    // redelivery of the SAME (batchId, data): must converge to the same
    // state and acknowledge, not duplicate user 1
    Streams.upsertBatch(target)(b1, 1L)
    val afterRedeliver = s.read.parquet(s"$target/data")
    assert(afterRedeliver.count() == 2)
    assert(afterRedeliver.filter(col("user_id") === 1L).count() == 1)
    assert(afterRedeliver.filter(col("user_id") === 1L).head().getAs[Long]("event_id") == 12L)
    assert(new java.io.File(target, "_committed_1").exists())
    // a SECOND redelivery (marker now present) must be a no-op skip
    Streams.upsertBatch(target)(b1.limit(0), 1L)
    assert(s.read.parquet(s"$target/data").count() == 2)
  }

  test("FaultProbe.poisoned is an exact pass-through when disarmed " +
    "(haltAt < 0): same rows, same schema, and it composes under the " +
    "dedup pipeline unchanged") {
    val ev = T.t(s, sf, "events").limit(500)
    val wrapped = FaultProbe.poisoned(ev, -1L)
    assert(wrapped.schema == ev.schema)
    assert(wrapped.exceptAll(ev).count() == 0 && ev.exceptAll(wrapped).count() == 0)
  }

  private def logEntry(ckpt: String, sub: String, id: Long, body: String = ""): Unit = {
    val d = new java.io.File(ckpt, sub)
    d.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(d, id.toString).toPath, body)
    // Spark's checksum sidecars share the directory and must be ignored
    new java.io.File(d, s".$id.crc").createNewFile()
  }

  test("maxBatch is -1 without a log, and offsets ahead of commits is a torn batch") {
    val ckpt = T.tempDir("graft_ckpt_")
    assert(FaultProbe.maxBatch(ckpt, "offsets") == -1L)
    assert(FaultProbe.tornBatch(ckpt) == -1L)
    new java.io.File(ckpt, "commits").mkdirs()
    assert(FaultProbe.maxBatch(ckpt, "commits") == -1L)
    // batches 0-2 started, 0-1 committed: the run died inside batch 2
    Seq(0L, 1L, 2L).foreach(logEntry(ckpt, "offsets", _))
    Seq(0L, 1L).foreach(logEntry(ckpt, "commits", _))
    assert(FaultProbe.maxBatch(ckpt, "offsets") == 2L)
    assert(FaultProbe.maxBatch(ckpt, "commits") == 1L)
    assert(FaultProbe.tornBatch(ckpt) == 2L)
    logEntry(ckpt, "commits", 2L)
    assert(FaultProbe.tornBatch(ckpt) == -1L)
    // batch ids compare as numbers, not names
    Seq(9L, 10L).foreach(logEntry(ckpt, "offsets", _))
    assert(FaultProbe.maxBatch(ckpt, "offsets") == 10L)
  }

  test("the pinned-shuffle check reads the latest offsets entry's conf snapshot") {
    def entry(shuffle: Int): String =
      s"""v1
         |{"batchWatermarkMs":0,"batchTimestampMs":1700000000000,"conf":{"spark.sql.streaming.stateStore.providerClass":"x","spark.sql.shuffle.partitions":"$shuffle"}}
         |{"logOffset":0}
         |""".stripMargin
    val ckpt = T.tempDir("graft_ckpt_")
    assert(!FaultProbe.offsetsPinShuffle(ckpt, 8))
    (0L to 9L).foreach(logEntry(ckpt, "offsets", _, entry(8)))
    assert(FaultProbe.offsetsPinShuffle(ckpt, 8))
    assert(!FaultProbe.offsetsPinShuffle(ckpt, 4))
    // a resume that dropped the pinning logs the new session's width
    logEntry(ckpt, "offsets", 10L, entry(4))
    assert(!FaultProbe.offsetsPinShuffle(ckpt, 8))
    assert(FaultProbe.offsetsPinShuffle(ckpt, 4))
  }

  test("children get master and shuffle width in argv: local[8]/8 for phase " +
    "A, control and the crash phases, the cluster master/4 for phase B") {
    val cluster = "local-cluster[2,4,3072]"
    val (a, b, control) = FaultProbe.topologyPhases(cluster)
    def argv(p: FaultProbe.Phase): Seq[String] =
      FaultProbe.childCommand("session_rocksdb", "/c", "/s", "/k", -1L, p).takeRight(9)
    val single = Seq("graft.FaultProbe", "child", "session_rocksdb", "/c", "/s",
      "/k", "-1", "local[8]", "8")
    assert(argv(a) == single)
    assert(argv(control) == single)
    assert(argv(FaultProbe.Phase("victim")) == single)
    assert(argv(b).takeRight(2) == Seq(cluster, "4"))
    assert(Set(a.name, b.name, control.name) == Set("phaseA", "phaseB", "control"))
  }

  test("a failed child's error carries the last 40 lines of its log, which " +
    "is deleted with its temp dir") {
    val dir = T.tempDir("graft_crash_log_")
    val log = new java.io.File(dir, "s_p.log")
    java.nio.file.Files.writeString(log.toPath, (0 until 100).map(i => s"line $i").mkString("\n"))
    val msg = FaultProbe.childFailure("s", FaultProbe.Phase("p"), "exited 1", log)
    assert(msg.startsWith("s/p child exited 1;"), msg)
    assert(msg.split("\n").toSeq.takeRight(40) == (60 until 100).map(i => s"line $i"), msg)
    assert(!msg.contains("line 59"), msg)
    assert(FaultProbe.childFailure("s", FaultProbe.Phase("p"), "hung",
      new java.io.File(dir, "none.log")).contains("(no log at"))
    // a real child: an unknown scenario throws after session start, exit 1
    val e = intercept[IllegalArgumentException](FaultProbe.runChild("nope",
      FaultProbe.Phase("p"), dir, s"$dir/sink", s"$dir/ckpt", dir))
    assert(e.getMessage.contains("nope/p child exited 1;"), e.getMessage)
    assert(e.getMessage.contains("unknown scenario nope"), e.getMessage)
  }
}
