package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards for the tight-heap spill probe (graft.SpillProbe). The heap
  * pressure itself can't be exercised in-process (the shared test JVM is
  * sized for the whole suite), so the probe's cross-JVM runs are the
  * evidence (BASELINE.md "Exactness under memory pressure"); what CAN
  * regress silently in-tree is pinned here: the probed key list must stay
  * registered on the graded board, and the exactness criterion must
  * actually catch a divergence (a diff helper that always returned (0,0)
  * would make every probe run vacuously green). */
class SpillSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("every probed key is a registered graded query") {
    val missing = SpillProbe.defaultKeys.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unregistered probe keys: $missing")
  }

  test("diffCounts is zero on identity and flags planted divergence both ways") {
    import org.apache.spark.sql.functions._
    val ref = s.range(100).select(col("id"), (col("id") * 2).as("v"))
    assert(FaultProbe.diffCounts(ref, ref) == ((0L, 0L)))
    val mutated = ref.withColumn("v",
      when(col("id") === 42, lit(-1L)).otherwise(col("v")))
    val (m1, e1) = FaultProbe.diffCounts(ref, mutated)
    assert(m1 == 1 && e1 == 1, s"value mutation not flagged: ($m1,$e1)")
    val dropped = ref.filter(col("id") =!= 7)
    val (m2, e2) = FaultProbe.diffCounts(ref, dropped)
    assert(m2 == 1 && e2 == 0, s"dropped row not flagged: ($m2,$e2)")
    // duplicate-row divergence is invisible to a set diff — the multiset
    // exceptAll must flag it (the committed-twice failure mode)
    val doubled = ref.unionAll(ref.filter(col("id") === 3))
    val (m3, e3) = FaultProbe.diffCounts(ref, doubled)
    assert(m3 == 0 && e3 == 1, s"duplicated row not flagged: ($m3,$e3)")
  }
}
