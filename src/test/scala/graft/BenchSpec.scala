package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The board runner's callable core (`Bench.run`) on the sf0.001 fixture:
  * the per-key record, the write-plan capture through child sessions, loud
  * failures, the whole board run end to end with zero errors and zero
  * PlanAudit flags, a planted delay that the record alone localizes, and
  * JSON that stays JSON under a non-English default locale. */
class BenchSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf
  private val mapper = new ObjectMapper

  private def records(out: Path): Map[String, JsonNode] =
    Files.readAllLines(out.resolve("keys.jsonl")).asScala.map { line =>
      val n = mapper.readTree(line)
      n.get("key").asText -> n
    }.toMap

  private def planted(f: SparkSession => DataFrame): (SparkSession, String) => DataFrame =
    (sess, _) => f(sess)

  test("Bench.run leaves one record per key: jobs, exchanges, bytes and the written plan") {
    val out = Files.createTempDirectory("bench_spec_")
    val board: Bench.Board =
      Seq("agg_groupby_hash", "join_bloom_prefilter").map(k => k -> SparkEntry.queries(k)) :+
        ("planted_throw" -> planted(_ => throw new IllegalStateException("planted")))
    val errors = Bench.run(s, sf, board, 1, out.toString)
    assert(errors == Seq("planted_throw"))
    val r = records(out)
    assert(r.keySet == board.map(_._1).toSet)

    val agg = r("agg_groupby_hash")
    assert(agg.get("jobs").asLong >= 1 && agg.get("ex").asLong >= 1, agg)
    assert(agg.get("shuf_w").asLong > 0 && agg.get("tasks").asLong > 0, agg)
    assert(agg.get("noop_s").size == 1 && !agg.get("drain_timeout").asBoolean, agg)
    assert(agg.get("flags").isArray && agg.get("flags").isEmpty, agg)
    assert(Files.readString(out.resolve("plans/agg_groupby_hash.txt")).nonEmpty)
    // the runtime bloom filter plans only in the key's child session, so
    // this is the write captured through that session's listener manager
    assert(Files.readString(out.resolve("plans/join_bloom_prefilter.txt"))
      .contains("might_contain"))

    val bad = r("planted_throw")
    assert(bad.get("error").asText.contains("planted"), bad)
    assert(!bad.has("count_s") && !bad.has("noop_s"), bad)
    assert(!Files.exists(out.resolve("plans/planted_throw.txt")))

    // run.json = the final stdout line (same fields, same order) plus context
    val run = mapper.readTree(Files.readString(out.resolve("run.json")))
    assert(run.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "queries", "n_queries", "n_errors", "errors", "n_omitted", "other_sec",
      "staging_sec", "staging", "query_sec", "count_sec", "load_avg", "sf",
      "cpus", "reps", "date", "load_avg_start"))
    assert(run.get("n_errors").asInt == 1 && run.get("errors").get(0).asText == "planted_throw")
    assert(run.get("n_queries").asInt == 2)
  }

  test("the whole board runs, and no key's plan carries a 100 TB red flag") {
    val out = Paths.get(T.tempDir("bench_board_"))
    // a key result an earlier suite left cached would answer that key
    // from an InMemoryRelation and hide its plan from the audit
    s.catalog.clearCache()
    // a child session: no key's conf or view outlives this test
    val errors = Bench.run(s.newSession(), sf, SparkEntry.queries.toSeq, 1, out.toString)
    val r = records(out)
    def listing(of: JsonNode => Option[String]) =
      r.toSeq.sortBy(_._1).flatMap { case (k, n) => of(n).map(v => s"$k: $v") }.mkString("\n")
    assert(errors.isEmpty, listing(n => Option(n.get("error")).map(_.asText)))
    assert(r.size == SparkEntry.queries.size)
    val unaudited = r.collect { case (k, n) if !n.has("flags") => k }
    assert(unaudited.isEmpty, s"no write plan captured: $unaudited")
    assert(r.values.forall(_.get("flags").isEmpty),
      listing(n => Some(n.get("flags")).filterNot(_.isEmpty).map(_.toString)))
    // the entries with no bound are named, so a new one cannot slip in
    assert(PlanAudit.intendedNested.collect { case (k, b) if b < 0 => k }.toSet ==
      Set("similarity_join_threshold", "similarity_join_lsh", "stream_dedup_stateful"))
    // every entry still excuses a shape its key plans (and measures)
    def measured(field: String)(k: String) = r.get(k).exists(_.has(field))
    val idle = PlanAudit.intendedNested.keys.filterNot(measured("nested_rows")) ++
      PlanAudit.intendedGlobalWindow.keys.filterNot(measured("win_rows"))
    assert(idle.isEmpty, s"allowlist entries that match no plan: $idle")
  }

  test("a planted 300 ms key is the only slow record, and records parse under a German locale") {
    val out = Files.createTempDirectory("bench_spec_")
    val quick = planted(_.range(10).toDF())
    val board: Bench.Board = Seq("planted_quick_a" -> quick,
      "planted_sleep" -> planted { sess => Thread.sleep(300); sess.range(10).toDF() },
      "planted_quick_b" -> quick)
    val saved = Locale.getDefault
    val errors = try {
      Locale.setDefault(Locale.GERMANY)
      Bench.run(s, sf, board, 2, out.toString)
    } finally Locale.setDefault(saved)
    assert(errors.isEmpty)
    // Jackson rejects "0,123": every record and run.json must parse
    val r = records(out)
    mapper.readTree(Files.readString(out.resolve("run.json")))
    assert(r.values.forall(_.get("noop_s").size == 2))
    val slow = r.collect { case (k, n) if n.get("noop_s").get(0).asDouble >= 0.3 => k }
    assert(slow.toSet == Set("planted_sleep"), r)
  }

  test("the JSON writer keeps quotes, backslashes and newlines of an error text parseable") {
    // analysis errors routinely carry newlines, and a record or run.json
    // holds them verbatim
    val err = "AnalysisException: [UNRESOLVED_COLUMN] \"x\" not found\n  at C:\\tmp\t;"
    val line = Bench.obj(Seq("probe" -> "concurrency", "n_errors" -> 1,
      "diff_keys" -> Seq("k\"1"), "errors" -> ListMap("k\"1" -> err)))
    assert(!line.contains("\n"), line)
    val n = mapper.readTree(line)
    assert(n.get("errors").get("k\"1").asText == err)
    assert(n.get("diff_keys").get(0).asText == "k\"1" && n.get("n_errors").asInt == 1)
  }

  test("reps = 0 is rejected before anything runs") {
    val out = Files.createTempDirectory("bench_spec_").resolve("never")
    intercept[IllegalArgumentException] {
      Bench.run(s, sf, Seq("agg_groupby_hash" -> SparkEntry.queries("agg_groupby_hash")),
        0, out.toString)
    }
    assert(!Files.exists(out))
  }
}
