package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sim.{IvfPq, Pq}
import graft.sketch.HistQuantile

/** The engine's only unpartitioned windows run over SKETCH-sized frames
  * (k centroids, nCells coarse cells, nBins histogram buckets) — fine
  * single-partition at any corpus scale. This spec pins the bound that
  * keeps them sketch-sized: each site `require`s its row ceiling (65536)
  * instead of assuming the caller passes small knobs, so the "zero
  * Exchange SinglePartition" plan invariant is enforced in code, not
  * coincidental on today's parameters (r18 VERDICT item 6). */
class BoundedWindowSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def vecs = Seq((0L, Seq(0.0, 1.0)), (1L, Seq(1.0, 0.0)))
    .toDF("vec_id", "v")

  test("Pq.codebook rejects an unbounded centroid window") {
    val e = intercept[IllegalArgumentException] {
      Pq.codebook(vecs, "vec_id", "v", m = 2, subLen = 1,
        nCentroids = 65537)
    }
    assert(e.getMessage.contains("single-partition"))
  }

  test("IvfPq.coarseCells rejects an unbounded cell window") {
    val e = intercept[IllegalArgumentException] {
      IvfPq.coarseCells(vecs, "vec_id", "v", nCells = 65537)
    }
    assert(e.getMessage.contains("single-partition"))
  }

  test("HistQuantile.fromHistogram rejects an unbounded bucket window") {
    val cnts = Seq((0L, 1L)).toDF("bucket", "cnt")
    val stats = Seq((0.0, 1.0, 1L)).toDF("vmin", "vmax", "n")
    val e = intercept[IllegalArgumentException] {
      HistQuantile.fromHistogram(cnts, stats, nBins = 65537, qs = Seq(0.5))
    }
    assert(e.getMessage.contains("single-partition"))
  }

  test("in-bounds calls still work (the guards are ceilings, not behavior)") {
    assert(Pq.codebook(vecs, "vec_id", "v", m = 2, subLen = 1,
      nCentroids = 2).count() == 4) // 2 centroids × 2 subspaces
    assert(IvfPq.coarseCells(vecs, "vec_id", "v", nCells = 2).count() == 2)
  }
}
