package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SortedIntersectCount

/** The merge-scan intersect count must equal the built-in
  * size(array_intersect) on every sorted-distinct input. */
class SortedIntersectSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("sorted_intersect_count == size(array_intersect) (property)") {
    import spark.implicits._
    SortedIntersectCount.register(spark)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15),
      Prop.forAll { (a0: List[Long], b0: List[Long]) =>
        val a = a0.distinct.sorted
        val b = b0.distinct.sorted
        val df = Seq((a, b)).toDF("a", "b")
        val row = df.select(
          expr("sorted_intersect_count(a, b)"),
          size(array_intersect(col("a"), col("b"))).cast("long")).collect()(0)
        row.getLong(0) == row.getLong(1)
      })
    assert(res.passed, res.toString)
  }

  test("SortedIntersectCount.count == the expression, codegen and " +
       "interpreted, incl. duplicates and empty arrays") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    SortedIntersectCount.register(spark)
    val rnd = new scala.util.Random(5)
    // small value ranges force repeats inside an array and across the two
    def arr() = Seq.fill(rnd.nextInt(12))(rnd.nextInt(8).toLong).sorted
    val cases = Seq((Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], Seq(1L, 1L)), (Seq(2L, 2L, 3L), Seq(2L, 2L))) ++
      Seq.fill(200)((arr(), arr()))
    val exprs = cases.toDF("a", "b")
      .select(expr("sorted_intersect_count(a, b)")).as[Long].collect()
    for (((a, b), viaExpr) <- cases.zip(exprs)) {
      val fn = SortedIntersectCount.count(ArrayData.toArrayData(a.toArray),
        ArrayData.toArrayData(b.toArray))
      val interpreted = SortedIntersectCount(Literal(a.toArray),
        Literal(b.toArray)).eval()
      assert(fn == viaExpr && fn == interpreted, s"$a ∩ $b")
    }
  }
}
