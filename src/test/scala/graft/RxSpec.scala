package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.queries.Rx

/** The driver-side `Rx.r6(Double)` equals the `Rx.r6(Column)` Spark
  * evaluates, bit for bit, so centroids canonicalized on the driver
  * (PortableKMeans) are the doubles the column form would produce. */
class RxSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  test("property: r6(Double) ≡ the r6 column, on half boundaries, negatives and ±0.0") {
    val gen = Gen.frequency(
      // aggregate means of 2-decimal data: multiples of 1/2400
      4 -> Gen.choose(-2400000L, 2400000L).map(_ / 2400.0),
      // exact 6-decimal half boundaries, either side of the nudge
      2 -> Gen.choose(-1000000L, 1000000L).map(n => (n + 0.5) / 1e6),
      2 -> Gen.choose(-1e4, 1e4),
      1 -> Gen.choose(-1e-6, 1e-6),
      1 -> Gen.oneOf(0.0, -0.0, -1e-9, 1e-9, -5e-7 - 1e-9, Double.MinPositiveValue,
        Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
    val xs = samples(gen, 4000) ++ Seq(0.0, -0.0)
    // an RDD-backed frame, so the column is evaluated by the generated
    // projection rather than constant-folded on the driver
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(xs.map(Row(_)), 4),
      StructType(Seq(StructField("x", DoubleType))))
    val got = df.select(org.apache.spark.sql.functions.col("x"),
        Rx.r6(org.apache.spark.sql.functions.col("x")).as("r"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got.length == xs.length)
    got.foreach { case (x, r) =>
      val d = Rx.r6(x)
      assert(java.lang.Double.doubleToRawLongBits(d) ==
        java.lang.Double.doubleToRawLongBits(r), s"r6($x): driver $d, column $r")
    }
  }
}
