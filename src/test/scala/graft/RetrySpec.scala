package graft

import org.scalatest.funsuite.AnyFunSuite

/** Task-retry exactness (VERDICT r14 #4): the graded write-path shapes
  * commit bit-exactly when tasks fail mid-write and retry. The injection
  * (FaultProbe.flaky) throws after a few rows of every chosen partition's
  * FIRST attempt, so the torn attempt has already part-written files when
  * it dies — the commit protocol must discard them. The shared test
  * session runs master local[4,4] (task-failure budget 4) so retries are
  * actually allowed; each scenario also asserts failures were REALLY
  * injected, or the run would prove nothing. `graft.FaultProbe retry`
  * re-runs these at sf0.01 on local[cores,4] with speculative execution
  * on. */
class RetrySpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  private def check(r: FaultProbe.ScenarioResult): Unit = {
    val injected = r.evidence.toMap.apply("injected").asInstanceOf[Int]
    assert(injected > 0 && r.landed, s"${r.name}: no failure was injected — vacuous run")
    assert(r.missing == 0 && r.extra == 0,
      s"${r.name}: committed output differs from the clean run " +
        s"(missing=${r.missing} extra=${r.extra})")
    assert(r.rows > 0, s"${r.name}: empty comparison set")
    assert(r.exact)
  }

  test("dynamic-partition write commits exactly once under task retries " +
    "(sink_partitioned_write shape)") {
    check(FaultProbe.partitionedWrite(s, sf, T.tempDir("graft_retry_pw_"),
      FaultProbe.retry.copy(write = FaultProbe.flaky(_, modulus = 1))))
  }

  test("filter+derive+partitioned load commits exactly once under task " +
    "retries (bulk_load_pipeline shape)") {
    check(FaultProbe.bulkLoad(s, sf, T.tempDir("graft_retry_bl_"), FaultProbe.retry))
  }

  test("fragment->compact two-hop rewrite commits exactly once with " +
    "failures in BOTH hops (etl_compact_small_files shape)") {
    check(FaultProbe.compactRewrite(s, sf, T.tempDir("graft_retry_cr_"), FaultProbe.retry))
  }

  test("foreachBatch upsert sink stays idempotent under mid-batch task " +
    "retries (stream_upsert_sink's streaming twin)") {
    check(FaultProbe.upsertSink(s, sf, T.tempDir("graft_retry_us_"), FaultProbe.retry))
  }

  test("FaultProbe.holdOpen is a row-exact passthrough (hold released / no flag)") {
    // The executor-loss choreography wrapper must never change data: with
    // no `go` flag it streams rows untouched, and with the flag present it
    // only delays (markers dropped, rows intact). The kill scenarios
    // themselves need separate executor PROCESSES and run in
    // `graft.FaultProbe loss` under local-cluster (results pinned in
    // BASELINE.md); this spec pins the wrapper's data contract in the
    // shared session.
    val src = T.t(s, sf, "orders")
    val flagDir = T.tempDir("graft_hold_")
    val noFlag = FaultProbe.holdOpen(src, flagDir)
    assert(FaultProbe.diffCounts(src, noFlag) == ((0L, 0L)))
    new java.io.File(flagDir, "go").createNewFile()
    val held = FaultProbe.holdOpen(src.repartition(4), flagDir, holdMs = 300)
    assert(FaultProbe.diffCounts(src, held) == ((0L, 0L)))
    assert(new java.io.File(flagDir).listFiles()
      .exists(_.getName.startsWith("started_")), "no task marker dropped")
  }

  test("a scenario line is tag, name, rows/missing/extra, evidence in order, " +
    "then exact=OK only for an empty diff over rows whose fault landed") {
    val ok = FaultProbe.ScenarioResult("bulk_load", 60000, 0, 0,
      Seq("executorsKilled" -> 1, "fetchFailed" -> 0), landed = true)
    assert(ok.line("LOSSPROBE") == "LOSSPROBE bulk_load rows=60000 missing=0 " +
      "extra=0 executorsKilled=1 fetchFailed=0 exact=OK")
    val topo = FaultProbe.ScenarioResult("session_rocksdb", 9549, 0, 0,
      Seq("batchesA" -> 3L, "batchesB" -> 8L, "executorsB" -> 3,
        "pinnedShuffle" -> true), landed = true)
    assert(topo.line("TOPOLOGYPROBE") == "TOPOLOGYPROBE session_rocksdb " +
      "rows=9549 missing=0 extra=0 batchesA=3 batchesB=8 executorsB=3 " +
      "pinnedShuffle=true exact=OK")
    for (bad <- Seq(ok.copy(missing = 1), ok.copy(extra = 2), ok.copy(rows = 0),
                    ok.copy(landed = false)))
      assert(bad.line("LOSSPROBE").endsWith(" exact=MISMATCH") && !bad.exact, bad)
    assert(FaultProbe.verdict("LOSSPROBE", Seq(ok, topo)) == 0)
    assert(FaultProbe.verdict("LOSSPROBE", Seq(ok, ok.copy(landed = false))) == 1)
    assert(FaultProbe.verdict("LOSSPROBE", Seq(ok), Some("no FetchFailed")) == 2)
    // a diverged scenario outranks a run-level vacuity
    assert(FaultProbe.verdict("LOSSPROBE", Seq(ok.copy(extra = 1)), Some("x")) == 1)
  }
}
