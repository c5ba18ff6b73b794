package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Pins PlanAudit's decimal-on-amplified-rows detector against both
  * sides of the r15 hash-repricing finding (BASELINE.md), and its wide
  * lineitem scan detector:
  *  - POSITIVE: the exact shape that regressed 6.5–21× — a DECIMAL(38,0)
  *    modular product evaluated per row × 200 explode replicas — must
  *    flag (structural hit + measured amplification over 4× the largest
  *    base table). The shipped board reads flags=0 ONLY because the fix
  *    landed; this test keeps the detector honest about the shape it was
  *    built for.
  *  - NEGATIVE: the board's ubiquitous benign shape — a T.r6 decimal
  *    rational projected above a 1-row scalar crossJoin (structurally a
  *    BNLJ below a decimal op) — must NOT flag: its measured input is
  *    group-count-sized, which is exactly why the detector measures
  *    instead of trusting structure.
  */
class DecFanoutSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private lazy val threshold =
    4 * T.t(s, TestSpark.sf, "lineitem").count()

  test("the r15 regressed shape (decimal mod per row × 200 replicas) flags") {
    val df = T.t(s, TestSpark.sf, "customer")
      .select(col("c_custkey"))
      .withColumn("b", explode(sequence(lit(0), lit(199))))
      .withColumn("idx",
        (col("c_custkey").cast(DecimalType(38, 0)) * 2654435761L
          + col("b")) % 97)
      .groupBy("idx").agg(count(lit(1)).as("n"))
    df.collect() // finalize AQE + populate numOutputRows metrics
    val qe = df.queryExecution
    assert(PlanAudit.decStructuralHit(qe.sparkPlan),
      "structural pre-filter must see the decimal op above the explode")
    val hits = PlanAudit.decAmplified(qe.executedPlan, threshold)
    assert(hits.nonEmpty,
      s"the regressed shape must measure as amplified (> $threshold rows)")
    assert(hits.map(_._2).max > threshold)
  }

  test("T.r6 above a 1-row scalar crossJoin does not flag") {
    val agg = T.t(s, TestSpark.sf, "customer")
      .groupBy("c_mktsegment")
      .agg(sum(round(col("c_acctbal") * 100).cast("long")).as("cents"))
    val tot = agg.agg(sum("cents").as("t"))
    val df = agg.crossJoin(broadcast(tot))
      .select(col("c_mktsegment"), T.r6("cents", "t").as("share6"))
    df.collect()
    val qe = df.queryExecution
    assert(PlanAudit.decStructuralHit(qe.sparkPlan),
      "the benign shape IS a structural hit — that is the point of " +
        "the measured second stage")
    assert(PlanAudit.decAmplified(qe.executedPlan, threshold).isEmpty,
      "group-count-sized input must not measure as amplified")
  }

  test("a lineitem scan of every column flags outside the keys that read all of it") {
    def audit(key: String, cols: String*) = {
      val df = T.t(s, TestSpark.sf, "lineitem").selectExpr(cols: _*)
      df.collect()
      PlanAudit.audit(key, df.queryExecution.executedPlan, 0L).flags
    }
    // the column order of the read does not matter, only its coverage
    val all = T.t(s, TestSpark.sf, "lineitem").columns.reverse.toSeq
    assert(audit("planted_wide", all: _*) == Seq("WIDESCAN"))
    assert(audit("scan_parquet", all: _*).isEmpty)
    assert(audit("planted_narrow", all.tail: _*).isEmpty)
  }
}
