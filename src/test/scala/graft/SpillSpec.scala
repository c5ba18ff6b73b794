package graft

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** Guards for FaultProbe's board modes. The heap pressure of `spill`
  * can't be exercised in-process (the shared test JVM is sized for the
  * whole suite), so its cross-JVM runs are the evidence (BASELINE.md
  * "Exactness under memory pressure"); what CAN regress silently in-tree
  * is pinned here: the spill keys must stay registered on the graded
  * board, the board diff must actually catch a divergence (a diff that
  * always returned (0,0) would make every probe run vacuously green), map
  * columns included, and the tenant board must give every tenant the
  * serial rows. */
class SpillSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("every probed key is a registered graded query") {
    val missing = FaultProbe.spillKeys.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unregistered probe keys: $missing")
  }

  test("diffCounts is zero on identity and flags planted divergence both ways") {
    import org.apache.spark.sql.functions._
    val ref = s.range(100).select(col("id"), (col("id") * 2).as("v"))
    val mutated = ref.withColumn("v",
      when(col("id") === 42, lit(-1L)).otherwise(col("v")))
    val dropped = ref.filter(col("id") =!= 7)
    // duplicate-row divergence is invisible to a set diff — the multiset
    // exceptAll must flag it (the committed-twice failure mode)
    val doubled = ref.unionAll(ref.filter(col("id") === 3))
    for ((name, diff) <- Seq("diffCounts" -> FaultProbe.diffCounts _,
                             "boardDiff" -> FaultProbe.boardDiff _)) {
      assert(diff(ref, ref) == ((0L, 0L)), name)
      assert(diff(ref, mutated) == ((1L, 1L)), s"$name: value mutation not flagged")
      assert(diff(ref, dropped) == ((1L, 0L)), s"$name: dropped row not flagged")
      assert(diff(ref, doubled) == ((0L, 1L)), s"$name: duplicated row not flagged")
    }
    // set operations reject a map column; the board diff compares it as JSON
    val withMap = ref.withColumn("m", map(lit("v"), col("v")))
    intercept[AnalysisException](FaultProbe.diffCounts(withMap, withMap))
    assert(FaultProbe.boardDiff(withMap, withMap) == ((0L, 0L)))
    val mapMutated = withMap.withColumn("m",
      when(col("id") === 42, map(lit("v"), lit(-1L))).otherwise(col("m")))
    assert(FaultProbe.boardDiff(withMap, mapMutated) == ((1L, 1L)), "map value mutation not flagged")
  }

  test("tenant sessions on one context give every key the serial rows") {
    // the three keys that scope plan-shaping conf to their session, and
    // two readers of one T.staged artifact (oriented_adj)
    val keys = Seq("join_bloom_prefilter", "dedup_near_minhash", "similarity_join_lsh",
      "graph_triangle_count", "graph_clustering_coeff")
    // a child session: no key's conf or view outlives this test
    val (results, totals, landed) =
      FaultProbe.tenants(s.newSession(), sf, keys, 2, T.tempDir("graft_tenants_"))
    assert(results.map(_.name) == keys)
    assert(results.forall(_.exact), results.map(_.line("TENANTSPROBE")).mkString("\n"))
    assert(landed && totals.map(_._1).take(3) == Seq("threads", "serialSec", "concurrentSec"))
  }
}
