package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cluster.{ArgminDist2, PortableKMeans}
import graft.text.TextOps

/** Reference form of [[PortableKMeans.assign]]: the DataFrame Lloyd
  * loop it replaced (less its window-size guard), kept for parity.
  * Centroids are a frame (row_number-ranked init, `localCheckpoint`ed
  * after every update);
  * each round collapses them into one broadcast row for the
  * [[ArgminDist2]] projection and recomputes them as a (cid, dim)-keyed
  * `avg` under `Rx.r6`. */
object PortableKMeansFrameLoop {
  def assign(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
             rounds: Int, dims: Int): DataFrame = {
    val h = TextOps.hash60(col(idCol).cast("string"))
    var centroids = corpus.orderBy(h, col(idCol)).limit(k)
      .withColumn("cid", row_number().over(Window.orderBy(h, col(idCol))) - 1)
      .select(col("cid"), col(vecCol).as("cvec"))
      .localCheckpoint()

    def assignTo(cent: DataFrame): DataFrame = {
      val centsRow = cent.agg(array_sort(
        collect_list(struct(col("cid"), col("cvec")))).as("__cents"))
      corpus.crossJoin(broadcast(centsRow))
        .withColumn("mn", ArgminDist2(col(vecCol), col("__cents"), dims))
        .select(col(idCol), col("mn.cid").as("cid"),
          col("mn.d2").as("d2"), col(vecCol).as("__v"))
    }

    for (_ <- 1 to rounds) {
      val a = assignTo(centroids)
      centroids = a
        .select(col("cid"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(graft.queries.Rx.r6(avg(col("x"))).as("av"))
        .groupBy(col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("av").as("a")))),
          s => s("a")).as("cvec"))
        .localCheckpoint()
    }
    assignTo(centroids)
      .select(col(idCol).as("vec_id"), col("cid"), col("d2"))
  }
}

/** The driver-held Lloyd loop of [[PortableKMeans.assign]]: same
  * assignments as the frame loop at every round and partitioning, one
  * Spark job per round, and nothing left persisted. */
class PortableKMeansSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def emb(sf: String): DataFrame =
    graft.io.Tables.embeddings(spark, s"/root/testdata/$sf")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))

  private def rows(df: DataFrame): Seq[(Long, Int, Double)] =
    df.select($"vec_id".cast("long"), $"cid", $"d2")
      .as[(Long, Int, Double)].collect().toSeq.sortBy(_._1)

  test("driver-held loop ≡ frame loop: rounds 1-3, 1/4/7 partitions, two SFs") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      for (sf <- Seq("sf0.001", "sf0.01"); p <- Seq(1, 4, 7)) {
        spark.conf.set(key, p.toString)
        val e = emb(sf)
        // the same corpus re-split into p hash partitions: the
        // per-partition sums must merge to the same centroids
        val split = e.repartition(p, $"vec_id")
        for (r <- 1 to 3) {
          val ref = rows(PortableKMeansFrameLoop.assign(e, "vec_id", "v", 8, r, 64))
          assert(ref.nonEmpty)
          for ((form, corpus) <- Seq("scan" -> e, s"$p-way split" -> split)) {
            val got = rows(PortableKMeans.assign(corpus, "vec_id", "v", 8, r, 64))
            assert(got == ref, s"$sf, partitions=$p, rounds=$r, $form corpus")
          }
        }
      }
    } finally spark.conf.set(key, before)
  }

  test("assign(k = 8, rounds = 3) runs <= 4 jobs and leaves nothing persisted") {
    val sc = spark.sparkContext
    val group = "portable-kmeans-job-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some("marker") => marker.countDown()
          case _ =>
        }
    }
    val e = emb("sf0.01")
    val persisted = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "assign")
      val out = try PortableKMeans.assign(e, "vec_id", "v", 8, 3, 64)
                finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen,
      // every job assign launched has been counted
      sc.setJobGroup("marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get() <= 4, s"${jobs.get()} jobs before assign returned")
      assert(sc.getPersistentRDDs.keySet == persisted)
      assert(out.count() == e.count())
      assert(sc.getPersistentRDDs.keySet == persisted)
    } finally sc.removeSparkListener(listener)
  }

  test("assign rejects centroid state too large to hold on the driver") {
    val e = intercept[IllegalArgumentException] {
      PortableKMeans.assign(emb("sf0.001"), "vec_id", "v",
        k = 65537, rounds = 1, dims = 64)
    }
    assert(e.getMessage.contains("driver-held bound"))
  }
}
