package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties for the codegen'd sorted-merge intersection
  * expressions (r17, VERDICT r16 #2): on ASCENDING-sorted unique null-free
  * long arrays — the staged-adjacency/shingle-id precondition — the result
  * multiset equals array_intersect's and the count equals
  * size(array_intersect). Also pins the interpreted eval path (nullSafeEval)
  * against the codegen path via a first(), which runs interpreted. */
class SortedIntersectSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val schema = StructType(Seq(
    StructField("a", ArrayType(LongType, containsNull = false)),
    StructField("b", ArrayType(LongType, containsNull = false))))

  // sorted unique arrays drawn from a small domain so overlaps are common
  private val arrGen: Gen[List[Long]] =
    Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 60L)).map(_.distinct.sorted))

  test("sorted_intersect(_count) == array_intersect on sorted unique arrays") {
    graft.functions.GraftFunctions.register(s)
    val prop = Prop.forAll(Gen.listOfN(6, Gen.zip(arrGen, arrGen))) { pairs =>
      pairs.isEmpty || {
        val rows = pairs.map { case (a, b) => Row(a, b) }
        val df = s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
        val got = df.select(
            expr("sorted_intersect(a, b)").as("si"),
            expr("sorted_intersect_count(a, b)").as("sic"),
            array_sort(array_intersect(col("a"), col("b"))).as("ref"))
          .collect()
        got.forall { r =>
          val si = r.getSeq[Long](0)
          val ref = r.getSeq[Long](2)
          si == ref && r.getLong(1) == ref.length.toLong
        }
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30).withInitialSeed(Seed(7L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("interpreted eval matches Scala reference (empty/disjoint/subset)") {
    import graft.functions.{SortedIntersect, SortedIntersectCount}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    def lit(a: Seq[Long]) =
      Literal.create(a, ArrayType(LongType, containsNull = false))
    val cases = Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L, 2L, 3L), Seq.empty[Long]),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(1L, 2L, 3L, 9L), Seq(2L, 3L)),
      (Seq(-5L, 0L, 7L), Seq(-5L, 7L, 8L)))
    cases.foreach { case (a, b) =>
      val expect = a.toSet.intersect(b.toSet).toSeq.sorted
      val got = SortedIntersect(lit(a), lit(b)).eval(null)
        .asInstanceOf[ArrayData].toLongArray().toSeq
      assert(got == expect, s"intersect($a, $b) = $got, want $expect")
      val cnt = SortedIntersectCount(lit(a), lit(b)).eval(null)
      assert(cnt == expect.length.toLong)
    }
    // the precondition is checked over EVERY element of both operands, in
    // the interpreted and the codegen'd path alike: an unsorted or
    // duplicate-bearing side raises instead of silently miscounting
    // (a merge over Seq(3, 1) vs Seq(1, 3) finds 1 common element, not 2)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    val bad = Seq(
      (Seq(3L, 1L), Seq(1L, 3L)),           // unsorted left
      (Seq(1L, 2L, 9L), Seq(2L, 2L, 9L)),   // duplicate right
      (Seq(1L, 5L, 4L), Seq(1L)))           // disorder after the merge ends
    bad.foreach { case (a, b) =>
      Seq(SortedIntersect(lit(a), lit(b)),
          SortedIntersectCount(lit(a), lit(b))).foreach { e =>
        val interp = intercept[IllegalArgumentException](e.eval(null))
        assert(interp.getMessage.contains("strictly ascending"), interp.getMessage)
        val codegen = intercept[IllegalArgumentException](
          GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty))
        assert(codegen.getMessage.contains(s"${e.prettyName} requires strictly ascending"),
          codegen.getMessage)
      }
    }
  }
}
