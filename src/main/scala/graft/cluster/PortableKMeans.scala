package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import graft.queries.Rx
import graft.text.TextOps

/** Distributed Lloyd's k-means with an ENGINE-PORTABLE deterministic
  * fit — the fully-oracle-checked counterpart of m2's MLlib KMeans
  * (whose seeded parallel init is not reproducible outside Spark, so
  * m2 is rows-only checkable). Portability comes from three choices,
  * each already proven elsewhere in the repo:
  *
  *  - init = the k corpus vectors FIRST in md5-hash order of their id
  *    (the [[Pq.codebook]] sample idiom) — no RNG;
  *  - fixed R rounds, each replayable as two chained CTEs (assign =
  *    argmin with ties to the smallest cid; update = per-dimension
  *    mean) — every CTE reference-linear (the m13 lesson);
  *  - centroids re-canonicalized r6 after EVERY update (the w26
  *    tiered-rounding idiom), so the next round's distances are
  *    computed from identical doubles on both engines even though the
  *    mean's summation order differs.
  *
  * Scale shape per round: the k·dims centroid doubles live on the
  * driver (the bounded-driver convention [[graft.sim.KCenter]] uses),
  * and a round is ONE Spark job over the corpus scan, planned once
  * before the loop: each task picks every row's winner with
  * [[ArgminDist2.nearest]] (the kernel the final projection compiles)
  * and emits per-cid counts and element-wise sums — k + k·dims numbers
  * per partition; the driver merges them in partition-index order and
  * re-canonicalizes each mean with [[Rx.r6]]. No shuffle, no broadcast,
  * no cached or checkpointed state, and no per-round SQL planning: the
  * loop's cost is per-job scheduling, so m16 runs 8 jobs per execution
  * where a per-round DataFrame loop ran 22. Empty clusters simply drop
  * out of the centroid set (identically in the oracle).
  */
object PortableKMeans {

  /** Ceiling on the centroid doubles held on the driver (8 MB), which
    * each task also allocates once as its partial sums. */
  val MaxDriverDoubles: Long = 1L << 20

  /** Assignments after R update rounds: `(vec_id, cid, d2)` — each
    * vector with its final cluster and squared distance to that
    * centroid. */
  def assign(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
             rounds: Int, dims: Int): DataFrame = {
    require(k.toLong * dims <= MaxDriverDoubles,
      s"k·dims = ${k.toLong * dims} centroid doubles exceed the driver-held" +
        s" bound $MaxDriverDoubles")
    // Init: one TakeOrdered job. A vector shorter than dims or with a
    // null among its first dims is a centroid ArgminDist2 skips, so it
    // never wins and is left out from the start.
    val h = TextOps.hash60(col(idCol).cast("string"))
    var cents: Array[(Int, Array[Double])] =
      corpus.orderBy(h, col(idCol)).select(col(vecCol)).take(k).zipWithIndex
        .flatMap { case (r, cid) =>
          Option(r.getSeq[Any](0)).map(_.take(dims))
            .filter(v => v.length == dims && !v.contains(null))
            .map(v => (cid, v.map(_.asInstanceOf[Double]).toArray))
        }

    val rows = corpus.select(col(vecCol)).queryExecution.toRdd
    for (_ <- 1 to rounds) {
      val cur = cents
      val nc = cur.length
      val parts = rows.mapPartitions { it =>
        val centsData = new GenericArrayData(cur.map { case (cid, c) =>
          new GenericInternalRow(Array[Any](cid, UnsafeArrayData.fromPrimitiveArray(c)))
        })
        val n = new Array[Long](nc)
        val sums = new Array[Double](nc * dims)
        val d2 = new Array[Double](1)
        // a row with no comparable centroid (null winner in the final
        // projection) joins no cluster
        it.foreach { r =>
          if (!r.isNullAt(0)) {
            val v = r.getArray(0)
            val j = ArgminDist2.nearest(v, centsData, dims, d2)
            if (j >= 0) {
              n(j) += 1
              var i = 0
              while (i < dims) { sums(j * dims + i) += v.getDouble(i); i += 1 }
            }
          }
        }
        Iterator.single((n, sums))
      }.collect()
      val n = new Array[Long](nc)
      val sums = new Array[Double](nc * dims)
      parts.foreach { case (pn, ps) =>
        var j = 0
        while (j < nc) { n(j) += pn(j); j += 1 }
        var i = 0
        while (i < sums.length) { sums(i) += ps(i); i += 1 }
      }
      cents = (0 until nc).filter(n(_) > 0).map { j =>
        (cur(j)._1, Array.tabulate(dims)(i => Rx.r6(sums(j * dims + i) / n(j))))
      }.toArray
    }

    val centsLit = typedLit(cents.toSeq.map { case (cid, c) => (cid, c.toSeq) })
    corpus
      .select(col(idCol).as("vec_id"),
        ArgminDist2(col(vecCol), centsLit, dims).as("mn"))
      .select(col("vec_id"), col("mn.cid").as("cid"), col("mn.d2").as("d2"))
  }

  /** Chained-CTE replay of [[assign]] for a DuckDB oracle: expects an
    * `e(vec_id, v)` CTE in scope; defines `c_0 … c_$rounds` and
    * `a_1 … a_${rounds + 1}` (the final assignment). */
  def oracleSqlSuffix(k: Int, rounds: Int, dims: Int): String = {
    val d2 = (vec: String, cent: String) =>
      s"""list_reduce(list_prepend(0.0,
         |      list_transform(range(1, $dims + 1),
         |        i -> ($vec[i] - $cent[i]) * ($vec[i] - $cent[i]))),
         |      (acc, x) -> acc + x)""".stripMargin
    val init =
      s"""hs AS (SELECT vec_id, v,
         |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
         |      AS BIGINT) AS h
         |  FROM e),
         |c_0 AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid,
         |    v AS cvec
         |  FROM hs ORDER BY h, vec_id LIMIT $k)""".stripMargin
    val steps = (1 to rounds + 1).map { i =>
      val a =
        s"""a_$i AS (SELECT vec_id, v, cid, d2 FROM (
           |    SELECT e.vec_id, e.v, c.cid,
           |      ${d2("e.v", "c.cvec")} AS d2,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${d2("e.v", "c.cvec")}, c.cid) AS rn
           |    FROM e, c_${i - 1} c) WHERE rn = 1)""".stripMargin
      if (i == rounds + 1) a
      else
        a + ",\n" +
          s"""c_$i AS (SELECT cid, list(av ORDER BY i) AS cvec FROM (
             |    SELECT cid, i, round(avg(v[i]) + 1e-9, 6) AS av
             |    FROM a_$i, range(1, $dims + 1) t(i) GROUP BY 1, 2)
             |  GROUP BY 1)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }
}
