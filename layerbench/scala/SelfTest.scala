package layerbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

/** Checks of the benchmark's own attribution, run by layerbench/selftest.py:
  *
  *  1. exchange counts come from plan-tree nodes: a self-union of one
  *     aggregate runs one shuffle and reuses it (1 exchange, 1 reused),
  *     where counting "Exchange" substrings in the plan text over-counts;
  *     a small-side join runs one broadcast exchange and no shuffle;
  *  2. planted delays land in the layer that paid them: a sleep while the
  *     DataFrame is built shows in ops.build_ms only, a sleep inside a task
  *     (a UDF) in compute.task_run_s only.
  *
  * Prints one line per check and exits non-zero if any fails. */
object SelfTest {
  private val SleepMs = 400L
  private var failures = 0

  private def check(name: String, ok: Boolean, detail: String): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name: $detail")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val reuse: (SparkSession, String) => DataFrame = (s, _) => {
      val agg = s.range(0, 20000, 1, 4).selectExpr("id % 7 AS k", "id")
        .groupBy("k").count()
      agg.union(agg)
    }
    val bcast: (SparkSession, String) => DataFrame = (s, _) =>
      s.range(0, 20000, 1, 4).join(
        s.range(0, 10).withColumnRenamed("id", "x"), col("id") === col("x"))
    val buildSleep: (SparkSession, String) => DataFrame = (s, _) => {
      Thread.sleep(SleepMs)
      s.range(0, 1000, 1, 1).toDF()
    }
    val taskSleep: (SparkSession, String) => DataFrame = (s, _) => {
      val slow = udf((x: Long) => { Thread.sleep(SleepMs); x })
      s.range(0, 1, 1, 1).select(slow(col("id")).as("v"))
    }
    val items = Seq(KeyItem("selftest_reused_exchange", reuse),
      KeyItem("selftest_broadcast", bcast),
      KeyItem("planted_build_sleep", buildSleep),
      KeyItem("planted_task_sleep", taskSleep))
    val conf = Conf(workload = "selftest", seed = 1, warmPasses = 2, trace = true,
      sfDir = a("sf"), outDir = a("out"), action = "noop",
      commit = "selftest", dumpDir = None)
    val r = new Runner(conf, items)
    r.setup(System.currentTimeMillis())
    r.measure()
    r.writeOut()

    // pass 3 is the traced warm pass: codegen and class loading are done
    val recs = scala.io.Source.fromFile(s"${conf.outDir}/records.jsonl").getLines()
      .filter(l => l.contains("\"type\":\"key\"") && l.contains("\"pass\":3,"))
      .map(l => Rec.parse(l)).map(m => m("key").toString -> m).toMap
    def num(key: String, f: String): Double = recs(key)(f).toString.toDouble

    val plan = r.spark.range(0, 20000, 1, 4).selectExpr("id % 7 AS k", "id")
      .groupBy("k").count()
    val u = plan.union(plan)
    u.collect()
    val text = u.queryExecution.executedPlan.toString
    def c(p: String) = p.r.findAllIn(text).length
    val substring = c("Exchange") - c("ReusedExchange") - c("BroadcastExchange")
    val (ex, re) = (num("selftest_reused_exchange", "exchanges"),
      num("selftest_reused_exchange", "reused_exchanges"))
    check("reused exchange counted from the plan tree", ex == 1 && re == 1,
      s"exchanges=$ex reused=$re (substring count of the same plan: $substring)")
    check("substring counting over-counts the reused plan", substring > ex,
      s"substring=$substring tree=$ex")
    val (bx, bex) = (num("selftest_broadcast", "broadcast_exchanges"),
      num("selftest_broadcast", "exchanges"))
    check("broadcast exchange counted", bx == 1 && bex == 0,
      s"broadcast=$bx shuffle=$bex")

    val limit = SleepMs * 0.5
    def layers(key: String): Map[String, Double] = Map(
      "ops.build_ms" -> num(key, "acct_build_ms"),
      "T.staging_ms" -> num(key, "acct_staging_ms"),
      "plan_ms" -> num(key, "acct_plan_ms"),
      "scheduler.driver_gap_ms" -> num(key, "driver_gap_ms"),
      "compute.task_run_ms" -> num(key, "task_run_s") * 1e3,
      "unattributed_ms" -> num(key, "acct_unattributed_ms"))
    for ((key, layer) <- Seq("planted_build_sleep" -> "ops.build_ms",
                             "planted_task_sleep" -> "compute.task_run_ms")) {
      val l = layers(key)
      val others = l - layer
      check(s"$key lands in $layer",
        l(layer) >= SleepMs * 0.95 && others.values.forall(_ < limit),
        l.map { case (k, v) => f"$k=$v%.1f" }.mkString(" "))
    }
    r.spark.stop()
    println(if (failures == 0) "SELFTEST OK" else s"SELFTEST FAILED ($failures)")
    sys.exit(if (failures == 0) 0 else 1)
  }
}

/** Reads back the flat JSON records the Runner writes (numbers, strings,
  * booleans, null; nested values are skipped). */
object Rec {
  def parse(line: String): Map[String, Any] = {
    val m = org.json4s.jackson.JsonMethods.parse(line)
    m match {
      case org.json4s.JObject(fields) => fields.collect {
        case (k, org.json4s.JInt(v)) => k -> v.toDouble
        case (k, org.json4s.JDouble(v)) => k -> v
        case (k, org.json4s.JLong(v)) => k -> v.toDouble
        case (k, org.json4s.JString(v)) => k -> v
        case (k, org.json4s.JBool(v)) => k -> v
      }.toMap
      case _ => Map.empty
    }
  }
}
