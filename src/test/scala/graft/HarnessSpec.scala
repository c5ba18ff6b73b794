package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the shared harness pieces: the session factory's conf, the
  * bounded listener drain, Bench's plan-tree exchange count and the round
  * check of FaultProbe's soak mode. */
class HarnessSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  test("TestSpark's session comes from Graft.session with the pinned conf") {
    val c = s.sparkContext.getConf
    assert(c.get("spark.master") == "local[4,4]")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(c.get("spark.sql.extensions") == "graft.functions.GraftExtensions")
    assert(c.get("spark.ui.enabled") == "false")
    assert(c.get("spark.sql.warehouse.dir").contains("graft_wh_"))
  }

  test("Graft.sessionConf wires local-cluster executors, and only them") {
    def conf(master: Option[String]): Map[String, String] =
      Graft.sessionConf("t", 2, master, Map("spark.executor.memory" -> "3g")).toMap
    val cluster = conf(Some("local-cluster[2,1,1024]"))
    assert(cluster("spark.master") == "local-cluster[2,1,1024]")
    assert(cluster("spark.sql.shuffle.partitions") == "2")
    val cp = cluster("spark.executor.extraClassPath")
      .split(java.io.File.pathSeparator)
    assert(cp.nonEmpty && cp.forall(p => new java.io.File(p).isAbsolute), cp.mkString(":"))
    assert(cluster("spark.executor.extraJavaOptions") ==
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
    assert(cluster("spark.executor.memory") ==
      sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "3g"))
    val local = conf(None)
    assert(local("spark.master") == "local[2]")
    assert(local("spark.sql.session.timeZone") == "UTC")
    assert(!local.contains("spark.executor.extraClassPath"))
    assert(!local.contains("spark.executor.extraJavaOptions"))
  }

  test("T.settle returns true once a counter stops moving") {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.nanoTime()
    // moves on the first three reads, then holds
    assert(T.settle(5000L, pollMs = 10L)(if (n.get() < 3) n.incrementAndGet() else n.get()))
    assert((System.nanoTime() - t0) / 1000000L < 5000L)
  }

  test("T.settle gives up at its deadline when a counter never settles") {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.nanoTime()
    assert(!T.settle(200L, pollMs = 10L)(n.incrementAndGet()))
    val ms = (System.nanoTime() - t0) / 1000000L
    assert(ms >= 200L && ms < 2000L, s"returned after $ms ms")
  }

  test("Bench counts a reused exchange once, from the plan tree") {
    val sc = s.newSession()
    sc.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val agg = sc.range(0, 20000, 1, 4).selectExpr("id % 7 AS k", "id")
      .groupBy("k").count()
    val df = agg.join(agg.withColumnRenamed("count", "c2"), "k")
    assert(df.collect().length == 7)
    val plan = df.queryExecution.executedPlan
    assert(Bench.exchanges(plan) == ((1, 1, 0)), plan.toString)
    // the substring arithmetic this replaced over-counts the same plan
    val text = plan.toString
    def c(p: String) = p.r.findAllIn(text).length
    assert(c("Exchange") - c("ReusedExchange") - c("BroadcastExchange") > 1)
  }

  test("FaultProbe soak rejects fewer than 2 rounds before it runs a board") {
    // its verdict compares the last round with round 2, which one round
    // lacks; the check must fire before the board runs, not after
    val e = intercept[IllegalArgumentException](
      FaultProbe.main(Array("soak", TestSpark.sf, "1")))
    assert(e.getMessage.contains("rounds must be at least 2"))
  }
}
