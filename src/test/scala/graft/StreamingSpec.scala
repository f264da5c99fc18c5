package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.regimes.Transitions
import graft.streaming.StreamOps

/** Cross-batch state correctness: the stateful islands stream must emit
  * exactly the batch transitions when the input arrives split across
  * MULTIPLE micro-batches (GroupState carries the open island over the
  * batch boundary — the single-batch driver query can't exercise that). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("stateful transitions across two micro-batches == batch islands") {
    val rows = for (k <- 0L until 5L; i <- 0 until 40) yield {
      val label = if ((i / 7) % 3 == 0) "x" else if ((i / 7) % 3 == 1) "y" else "z"
      (k, i.toLong * 1000L, (k * 1000 + i).toLong, label)
    }
    val df = rows.toDF("user_id", "t", "event_id", "event_type")

    // batch ground truth
    val batch = Transitions.transitions(df, Seq("user_id"), "t", "event_id",
        "event_type", (s, e) => e - s)
      .select($"user_id", $"from_label", $"to_label", $"start_time", $"end_time")
      .collect().map(_.toSeq).toSet

    // two time-ordered files → two micro-batches (maxFilesPerTrigger=1)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    df.filter($"t" < 20000L).coalesce(1).write.parquet(s"$dir/in/p1")
    df.filter($"t" >= 20000L).coalesce(1).write.parquet(s"$dir/in/p2")
    // glob-ordered single directory with lexicographic batch order
    val f1 = new java.io.File(s"$dir/in/p1").listFiles().filter(_.getName.endsWith(".parquet")).head
    val f2 = new java.io.File(s"$dir/in/p2").listFiles().filter(_.getName.endsWith(".parquet")).head
    val streamDir = new java.io.File(s"$dir/stream"); streamDir.mkdirs()
    java.nio.file.Files.copy(f1.toPath, new java.io.File(streamDir, "batch_a.parquet").toPath)

    val schema = df.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .as[StreamOps.KeyedEvent]
    val q = StreamOps.transitionsStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_trans_test").start()
    try {
      q.processAllAvailable()
      // second batch arrives after the first is fully processed
      java.nio.file.Files.copy(f2.toPath, new java.io.File(streamDir, "batch_b.parquet").toPath)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("stream_trans_test")
      .select($"user_id", $"from_label", $"to_label", $"start_time", $"end_time")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("stateful rolling features across two micro-batches == batch windows") {
    import graft.features.WindowOps
    import org.apache.spark.sql.expressions.Window
    val rows = for (k <- 0L until 3L; i <- 0 until 60)
      yield (k, i.toLong * 1000L, (k * 1000 + i).toLong,
        math.sin(i * 0.3 + k) * 10 + 50)
    val df = rows.toDF("user_id", "t", "event_id", "value")

    // batch ground truth: W1/W4-strict/W5-strict with window 24
    val w = Window.partitionBy($"user_id").orderBy($"t", $"event_id")
    val batch = df
      .withColumn("ret", round(WindowOps.pctChange($"value", 1, w) + 1e-9, 6))
      .withColumn("ma", round(WindowOps.rollMeanStrict($"value", 24, w) + 1e-9, 4))
      .withColumn("sd", round(WindowOps.rollStdStrict($"value", 24, w) + 1e-9, 4))
      .select($"user_id", $"event_id", $"ret", $"ma", $"sd")
      .collect().map(_.toSeq).toSet

    // the second batch starts mid-window (t=30k < 24 rows past the
    // boundary), so its ma/sd depend on state carried from batch one
    val dir = java.nio.file.Files.createTempDirectory("graft_roll").toString
    df.filter($"t" < 30000L).coalesce(1).write.parquet(s"$dir/in/p1")
    df.filter($"t" >= 30000L).coalesce(1).write.parquet(s"$dir/in/p2")
    val f1 = new java.io.File(s"$dir/in/p1").listFiles().filter(_.getName.endsWith(".parquet")).head
    val f2 = new java.io.File(s"$dir/in/p2").listFiles().filter(_.getName.endsWith(".parquet")).head
    val streamDir = new java.io.File(s"$dir/stream"); streamDir.mkdirs()
    java.nio.file.Files.copy(f1.toPath, new java.io.File(streamDir, "batch_a.parquet").toPath)

    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .as[StreamOps.ValueEvent]
    val q = StreamOps.rollingFeaturesStream(stream, 24)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_roll_test").start()
    try {
      q.processAllAvailable()
      java.nio.file.Files.copy(f2.toPath, new java.io.File(streamDir, "batch_b.parquet").toPath)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("stream_roll_test")
      .select($"user_id", $"event_id",
        round($"ret" + 1e-9, 6).as("ret"),
        round($"ma" + 1e-9, 4).as("ma"),
        round($"sd" + 1e-9, 4).as("sd"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("paged source: rate-limited micro-batches, retry absorbs injected failures") {
    import graft.io.PagedIngest.Candle
    import graft.streaming.PagedStreamApi
    // 2 symbols × 10 candles; pageLimit 3 + pagesPerBatch 1 forces ≥ 4
    // micro-batches per symbol; every cursor's FIRST fetch fails
    val data = (for (sym <- Seq("a", "b"); i <- 0 until 10)
      yield Candle(sym, i * 1000L, 1, 2, 0, 10.0 + i, 100.0 + i))
      .groupBy(_.symbol)
    val attempts = new java.util.concurrent.ConcurrentHashMap[(String, Long), Integer]()
    PagedStreamApi.register("spec", (sym, since, limit) => {
      val n = attempts.merge((sym, since), 1, (x, y) => x + y)
      if (n == 1) throw new RuntimeException("flaky API")
      data(sym).filter(_.ts >= since).take(limit).toSeq
    })
    val stream = spark.readStream.format("graft-paged")
      .option("provider", "spec").option("symbols", "a,b")
      .option("pageLimit", "3").option("pagesPerBatch", "1")
      .load()
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("paged_src_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("paged_src_test")
      .select($"symbol", $"ts", $"close", $"volume")
      .as[(String, Long, Double, Double)].collect().toSet
    val want = data.values.flatten
      .map(c => (c.symbol, c.ts, c.close, c.volume)).toSet
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // rate limit actually paced the ingest: 10 rows / 3-per-page ⇒ ≥ 4
    // non-empty triggers (4 pages per symbol, one page per trigger)
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 4, s"expected ≥ 4 paced micro-batches, saw $batches")
  }

  test("streaming ANN top-k across two micro-batches == batch brute force") {
    import graft.sim.Similarity
    val rnd = new scala.util.Random(23)
    val rows = (0 until 60).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian())))
    val df = rows.toDF("vec_id", "v")
    val queries = Similarity.withNormalized(
        df.filter($"vec_id" < 3), "v", "qv")
      .select($"vec_id".as("query_id"), $"qv")
    val batch = Similarity.cosineTopK(df, df.filter($"vec_id" < 3),
        "vec_id", "v", 3)
      .select($"query_id", $"corpus_id", $"rank")
      .collect().map(_.toSeq).toSet

    // two files → two micro-batches: the per-query heap state must
    // merge rows seen in batch 1 with rows arriving in batch 2
    val dir = java.nio.file.Files.createTempDirectory("graft_st_ann").toString
    df.filter($"vec_id" < 30).coalesce(1).write.parquet(s"$dir/p1")
    df.filter($"vec_id" >= 30).coalesce(1).write.parquet(s"$dir/p2")
    val streamDir = new java.io.File(s"$dir/stream"); streamDir.mkdirs()
    def fileOf(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(fileOf("p1").toPath,
      new java.io.File(streamDir, "batch_a.parquet").toPath)

    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
    val scored = Similarity.withNormalized(stream, "v", "cv")
      .join(broadcast(queries), $"query_id" =!= $"vec_id")
      .withColumn("cos", Similarity.dot($"qv", $"cv"))
    val agg = scored.groupBy($"query_id")
      .agg(graft.operators.TopKAgg.topK(
        struct($"cos".isNull.cast("int"), negate($"cos"), $"vec_id"),
        struct($"vec_id", $"cos"), 3).as("tk"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("stream_ann_test").start()
    try {
      q.processAllAvailable()
      java.nio.file.Files.copy(fileOf("p2").toPath,
        new java.io.File(streamDir, "batch_b.parquet").toPath)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("stream_ann_test")
      .select($"query_id", posexplode($"tk").as(Seq("pos", "kv")))
      .select($"query_id", $"kv.value.vec_id".as("corpus_id"),
        ($"pos" + 1).as("rank"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("paged source: a fresh instance replays any checkpointed offset range") {
    import graft.io.PagedIngest.Candle
    import graft.streaming.{PagedMicroBatchStream, PagedInputPartition, PagedOffset, PagedStreamApi}
    val data = (for (sym <- Seq("a", "b"); i <- 0 until 12)
      yield Candle(sym, i * 1000L, 1, 2, 0, 10.0 + i, 100.0 + i))
      .groupBy(_.symbol)
    PagedStreamApi.register("replay_spec", (sym, since, limit) =>
      data(sym).filter(_.ts >= since).take(limit).toSeq)
    def mkStream() = new PagedMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("provider", "replay_spec", "symbols", "a,b",
          "pageLimit", "3", "pagesPerBatch", "1")))
    def rowsOf(parts: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      parts.flatMap(_.asInstanceOf[PagedInputPartition].rows)
        .groupBy(_.symbol).view.mapValues(_.toSeq).toMap

    // live run: three latestOffset passes, remember the offsets
    val live = mkStream()
    val o1 = live.latestOffset().asInstanceOf[PagedOffset].served
    val o2 = live.latestOffset().asInstanceOf[PagedOffset].served
    val o3 = live.latestOffset().asInstanceOf[PagedOffset].served
    assert(o1 > 0 && o2 > o1 && o3 > o2)
    val liveBatch2 = rowsOf(live.planInputPartitions(PagedOffset(o1), PagedOffset(o2)))
    val liveBatch3 = rowsOf(live.planInputPartitions(PagedOffset(o2), PagedOffset(o3)))

    // restart: a FRESH instance asked for the same mid-stream ranges
    // must replay identical rows (empty buffer → replayTo from startTs)
    val restarted = mkStream()
    assert(rowsOf(restarted.planInputPartitions(PagedOffset(o1), PagedOffset(o2))) == liveBatch2)
    assert(rowsOf(restarted.planInputPartitions(PagedOffset(o2), PagedOffset(o3))) == liveBatch3)

    // a range beyond what the provider can serve fails loudly, never
    // silently empty
    val starved = mkStream()
    val ex = intercept[IllegalStateException] {
      starved.planInputPartitions(PagedOffset(0), PagedOffset(10000))
    }
    assert(ex.getMessage.contains("not replayable"))
  }

  test("paged source: commit fast-forward holds at most one paging pass") {
    import graft.io.PagedIngest.Candle
    import graft.streaming.{PagedMicroBatchStream, PagedOffset, PagedStreamApi}
    // 2 symbols × 200 rows, 5 rows/page, 1 page/symbol/pass ⇒ a paging
    // pass admits at most 10 rows; the committed history is 400
    val data = (for (sym <- Seq("a", "b"); i <- 0 until 200)
      yield Candle(sym, i * 1000L, 1, 2, 0, 10.0 + i, 100.0 + i))
      .groupBy(_.symbol)
    PagedStreamApi.register("commit_trim_spec", (sym, since, limit) =>
      data(sym).filter(_.ts >= since).take(limit).toSeq)
    def mkStream() = new PagedMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("provider", "commit_trim_spec", "symbols", "a,b",
          "pageLimit", "5", "pagesPerBatch", "1")))

    // drive a live instance to exhaustion to learn the final offset
    val live = mkStream()
    var end = 0L
    var prev = -1L
    while (end != prev) {
      prev = end
      end = live.latestOffset().asInstanceOf[PagedOffset].served
    }
    assert(end == 400L)

    // restart: the engine acknowledges the committed range on a FRESH
    // instance; the fast-forward must replay without buffering the
    // whole [0, end) history in the driver
    val restarted = mkStream()
    restarted.commit(PagedOffset(end))
    assert(restarted.bufferedRowCount == 0,
      s"committed history must be fully trimmed, ${restarted.bufferedRowCount} rows remain")
    assert(restarted.peakReplayBuffered <= 10,
      s"replay peak ${restarted.peakReplayBuffered} rows exceeds one paging pass (10)")
  }

  test("paged source: stop mid-stream, restart from checkpoint, no loss") {
    import graft.io.PagedIngest.Candle
    import graft.streaming.PagedStreamApi
    // 2 symbols × 30 candles, one candle per page ⇒ 30 paced triggers:
    // plenty of runway to stop the first run mid-stream
    val data = (for (sym <- Seq("a", "b"); i <- 0 until 30)
      yield Candle(sym, i * 1000L, 1, 2, 0, 10.0 + i, 100.0 + i))
      .groupBy(_.symbol)
    PagedStreamApi.register("restart_spec", (sym, since, limit) =>
      data(sym).filter(_.ts >= since).take(limit).toSeq)
    val dir = java.nio.file.Files.createTempDirectory("graft_paged_ckpt").toString

    // the memory sink cannot recover from a checkpoint — use the
    // exactly-once parquet file sink, so the final read also proves
    // NO duplicates across the restart boundary
    def start() = spark.readStream.format("graft-paged")
      .option("provider", "restart_spec").option("symbols", "a,b")
      .option("pageLimit", "1").option("pagesPerBatch", "1")
      .load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    def sunk(): Set[(String, Long, Double, Double)] =
      try spark.read.parquet(s"$dir/out")
        .select($"symbol", $"ts", $"close", $"volume")
        .as[(String, Long, Double, Double)].collect().toSet
      catch { case _: org.apache.spark.sql.AnalysisException => Set.empty }

    val q1 = start()
    try {
      // wait for some-but-not-all batches, then stop mid-stream
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sunk().size < 6 && System.nanoTime() < deadline) Thread.sleep(10)
    } finally q1.stop()
    val run1 = sunk()
    assert(run1.nonEmpty && run1.size < 60,
      s"run 1 should stop mid-stream, saw ${run1.size}/60 rows")

    // restart from the same checkpoint: the fresh source must replay the
    // uncommitted range and continue to exhaustion
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = sunk()
    assert(got.size > run1.size, "restarted query must make progress")

    val want = data.values.flatten
      .map(c => (c.symbol, c.ts, c.close, c.volume)).toSet
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("full query restart: stateful dedup over checkpoint + file sink matches batch") {
    // End-to-end proof ON A WHOLE QUERY (st3's transform), not just the
    // source: stream the events panel as 12 files one-per-trigger
    // through dropDuplicatesWithinWatermark into the exactly-once
    // parquet sink with a real checkpoint, kill the query mid-stream,
    // restart, and require the merged output to equal batch DISTINCT
    // with no duplicates across the restart boundary (the dedup state
    // store must recover, and replayed batches must not double-emit).
    TestDirs.withTempDir("graft_full_ckpt") { dir =>
    graft.io.Tables.events(spark, "/root/testdata/sf0.001")
      .select($"ts", $"user_id", $"event_type")
      .repartition(12).write.parquet(s"$dir/in")

    def start() = {
      val stream = spark.readStream
        .schema("ts TIMESTAMP, user_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      graft.streaming.StreamOps.dedupWithinWatermark(
          stream, "ts", Seq("user_id", "event_type"), "365 days")
        .select($"user_id", $"event_type")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start()
    }
    def sunk(): Seq[(Long, String)] =
      try spark.read.parquet(s"$dir/out")
        .as[(Long, String)].collect().toSeq
      catch { case _: org.apache.spark.sql.AnalysisException => Seq.empty }

    val q1 = start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sunk().isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    } finally q1.stop()
    val run1 = sunk()

    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = sunk()
    assert(got.size >= run1.size, "restart must keep prior committed output")

    val want = spark.read.parquet(s"$dir/in")
      .select($"user_id", $"event_type").distinct()
      .as[(Long, String)].collect().toSet
    assert(got.toSet == want,
      s"missing=${(want -- got.toSet).take(3)} extra=${(got.toSet -- want).take(3)}")
    assert(got.size == got.distinct.size,
      s"${got.size - got.distinct.size} duplicate keys crossed the restart boundary")
    }
  }

  test("full query restart: asof-enrich state recovers from checkpoint") {
    // the ONE-register state (last view per user) must survive a stop +
    // restart: a purchase arriving in the post-restart run matches the
    // view folded BEFORE the restart, and the exactly-once sink keeps
    // the pre-restart emissions
    TestDirs.withTempDir("graft_asof_ckpt") { dir =>
    val cols = Seq("user_id", "t", "event_id", "event_type", "value")
    val d1 = Seq((1L, 1000L, 1L, "view", 10.0),
      (1L, 2000L, 2L, "purchase", 1.0)).toDF(cols: _*)
    val d2 = Seq((1L, 3000L, 3L, "purchase", 2.0),
      (2L, 3500L, 4L, "purchase", 9.0)).toDF(cols: _*)
    val in = new java.io.File(s"$dir/in"); in.mkdirs()
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$dir/tmp_$name")
      val f = new java.io.File(s"$dir/tmp_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(in, s"$name.parquet").toPath)
    }
    def start() = {
      val stream = spark.readStream.schema(d1.schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
        .as[StreamOps.TypedEvent]
      StreamOps.asofStream(stream, touchType = "view",
          emitType = "purchase")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start()
    }
    addFile(d1, "batch_a")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    addFile(d2, "batch_b")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(s"$dir/out")
      .select($"event_id", $"view_t", $"view_value")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      2L -> ((Some(1000L), Some(10.0))), // pre-restart emission kept
      3L -> ((Some(1000L), Some(10.0))), // state RECOVERED across restart
      4L -> ((None, None))),             // user with no view ever
      s"got $got")
    }
  }

  test("full query restart: bucket-count stream over checkpoint matches batch") {
    // the st18/st20 CRDT claim proven across a KILL: running counts
    // recover from the state store, replayed batches re-emit the same
    // running value, and the downstream max-merge must land on the
    // exact batch histogram with nothing lost or double-counted
    TestDirs.withTempDir("graft_bc_ckpt") { dir =>
    graft.io.Tables.events(spark, "/root/testdata/sf0.001")
      .select(($"event_id" % 16).as("bucket"))
      .repartition(8).write.parquet(s"$dir/in")

    def start() = {
      val stream = spark.readStream.schema("bucket LONG")
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
        .as[StreamOps.BucketRow]
      graft.streaming.StreamOps.bucketCountStream(stream)
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start()
    }
    def sunk(): Seq[(Long, Long)] =
      try spark.read.parquet(s"$dir/out").as[(Long, Long)].collect().toSeq
      catch { case _: org.apache.spark.sql.AnalysisException => Seq.empty }

    val q1 = start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sunk().isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    } finally q1.stop()

    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = sunk().groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val want = spark.read.parquet(s"$dir/in")
      .groupBy($"bucket").count()
      .as[(Long, Long)].collect().toMap
    assert(got === want,
      s"restart-merged histogram diverges: got=$got want=$want")
    }
  }

  test("stateful Holt across two micro-batches == single-pass recurrence") {
    // state (n, level, trend) must carry over the batch boundary: the
    // second file's first event continues the recurrence, not restart it
    val rows = for (k <- 0L until 4L; i <- 0 until 30)
      yield (k, i.toLong * 1000L, (k * 100 + i).toLong, (i % 7 + k).toDouble)
    val df = rows.toDF("user_id", "t", "event_id", "value")

    // ground truth: the batch fold over the full series
    def fold(ys: Seq[Double]): (Long, Double, Double) =
      ys.foldLeft((0L, 0.0, 0.0)) { case ((n, l, b), y) =>
        if (n == 0L) (1L, y, 0.0)
        else {
          val nl = 0.5 * y + 0.5 * (l + b)
          (n + 1L, nl, 0.3 * (nl - l) + 0.7 * b)
        }
      }
    val want = rows.groupBy(_._1).view.mapValues(g =>
      fold(g.sortBy(r => (r._2, r._3)).map(_._4))).toMap

    val dir = java.nio.file.Files.createTempDirectory("graft_holt_stream").toString
    df.filter($"t" < 15000L).coalesce(1).write.parquet(s"$dir/p1")
    df.filter($"t" >= 15000L).coalesce(1).write.parquet(s"$dir/p2")
    val f1 = new java.io.File(s"$dir/p1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val f2 = new java.io.File(s"$dir/p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val streamDir = new java.io.File(s"$dir/stream"); streamDir.mkdirs()
    java.nio.file.Files.copy(f1.toPath,
      new java.io.File(streamDir, "batch_a.parquet").toPath)

    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .as[StreamOps.ValueEvent]
    val q = StreamOps.holtStream(stream, alpha = 0.5, beta = 0.3)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_holt_test").start()
    try {
      q.processAllAvailable()
      java.nio.file.Files.copy(f2.toPath,
        new java.io.File(streamDir, "batch_b.parquet").toPath)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("stream_holt_test")
      .groupBy($"user_id")
      .agg(max(struct($"n_obs", $"level", $"trend")).as("f"))
      .select($"user_id", $"f.n_obs", $"f.level", $"f.trend")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === want) // bit-equal: same operand order, carried state
  }

  test("stateful Kalman across two micro-batches == single-pass recurrence") {
    val rows = for (k <- 0L until 4L; i <- 0 until 30)
      yield (k, i.toLong * 1000L, (k * 100 + i).toLong, (i % 7 + k).toDouble)
    val df = rows.toDF("user_id", "t", "event_id", "value")

    def fold(ys: Seq[Double]): (Long, Double, Double, Double) =
      ys.foldLeft((0L, 0.0, 0.0, 0.0)) { case ((n, l, p, _), y) =>
        if (n == 0L) (1L, y, 1.0, 0.0)
        else {
          val pp = p + 0.1
          val k = pp / (pp + 1.0)
          (n + 1L, l + k * (y - l), (1.0 - k) * pp, k)
        }
      }
    val want = rows.groupBy(_._1).view.mapValues(g =>
      fold(g.sortBy(r => (r._2, r._3)).map(_._4))).toMap

    val dir = java.nio.file.Files.createTempDirectory("graft_kal_stream").toString
    df.filter($"t" < 15000L).coalesce(1).write.parquet(s"$dir/p1")
    df.filter($"t" >= 15000L).coalesce(1).write.parquet(s"$dir/p2")
    val f1 = new java.io.File(s"$dir/p1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val f2 = new java.io.File(s"$dir/p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val streamDir = new java.io.File(s"$dir/stream"); streamDir.mkdirs()
    java.nio.file.Files.copy(f1.toPath,
      new java.io.File(streamDir, "batch_a.parquet").toPath)

    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .as[StreamOps.ValueEvent]
    val q = StreamOps.kalmanStream(stream, q = 0.1, r = 1.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_kalman_test").start()
    try {
      q.processAllAvailable()
      java.nio.file.Files.copy(f2.toPath,
        new java.io.File(streamDir, "batch_b.parquet").toPath)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("stream_kalman_test")
      .groupBy($"user_id")
      .agg(max(struct($"n_obs", $"level", $"pvar", $"gain")).as("f"))
      .select($"user_id", $"f.n_obs", $"f.level", $"f.pvar", $"f.gain")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got === want) // bit-equal: same operand order, carried state
  }

  test("asof-enrich stream across two micro-batches == batch as-of join") {
    // the one-register state must carry the last view over the batch
    // boundary: a purchase in batch 2 before any batch-2 view must
    // match batch 1's closing view
    val rows = Seq(
      (1L, 1000L, 1L, "view", 10.0), (1L, 2000L, 2L, "purchase", 1.0),
      (1L, 3000L, 3L, "view", 20.0),
      // batch 2: purchase first (matches t=3000 view), then a view+same-t purchase
      (1L, 4000L, 4L, "purchase", 2.0), (1L, 5000L, 5L, "view", 30.0),
      (1L, 5000L, 6L, "purchase", 3.0), // same-t: inclusive match to 30.0
      (2L, 1500L, 7L, "purchase", 4.0)) // no view ever: nulls
    val df = rows.toDF("user_id", "t", "event_id", "event_type", "value")
    val want = Map(
      2L -> ((Some(1000L), Some(10.0))), 4L -> ((Some(3000L), Some(20.0))),
      6L -> ((Some(5000L), Some(30.0))), 7L -> ((None, None)))

    val dir = java.nio.file.Files.createTempDirectory("graft_asof_stream").toString
    df.filter($"t" < 3500L).coalesce(1).write.parquet(s"$dir/p1")
    df.filter($"t" >= 3500L).coalesce(1).write.parquet(s"$dir/p2")
    val f1 = new java.io.File(s"$dir/p1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val f2 = new java.io.File(s"$dir/p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val streamDir = new java.io.File(s"$dir/stream"); streamDir.mkdirs()
    java.nio.file.Files.copy(f1.toPath,
      new java.io.File(streamDir, "batch_a.parquet").toPath)
    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .as[StreamOps.TypedEvent]
    val q = StreamOps.asofStream(stream, touchType = "view",
        emitType = "purchase")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_asof_test").start()
    try {
      q.processAllAvailable()
      java.nio.file.Files.copy(f2.toPath,
        new java.io.File(streamDir, "batch_b.parquet").toPath)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("stream_asof_test")
      .select($"event_id", $"view_t", $"view_value")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === want)

    // and the batch operator agrees row for row
    val batch = graft.joins.AsOfJoin.backward(
        df.filter($"event_type" === "purchase")
          .select($"user_id", $"event_id", $"t"),
        df.filter($"event_type" === "view")
          .select($"user_id", $"t", $"value"),
        Seq("user_id"), "t", "t", Seq("value"))
      .select($"event_id", $"asof_ord", $"asof_value")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(batch === want)
  }

  test("kalman stream fails loudly on out-of-order cross-batch input") {
    // round-11 advice fix: per-batch sorting can't order ACROSS batches,
    // so an event arriving in a later micro-batch with an earlier
    // event-time must fail (silently folding it would diverge from the
    // batch recurrence)
    val d1 = Seq((1L, 2000L, 10L, 1.0), (1L, 3000L, 11L, 2.0))
      .toDF("user_id", "t", "event_id", "value")
    val d2 = Seq((1L, 1000L, 9L, 3.0)) // EARLIER than everything in batch 1
      .toDF("user_id", "t", "event_id", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_kal_ooo").toString
    d1.coalesce(1).write.parquet(s"$dir/p1")
    d2.coalesce(1).write.parquet(s"$dir/p2")
    val f1 = new java.io.File(s"$dir/p1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val f2 = new java.io.File(s"$dir/p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val streamDir = new java.io.File(s"$dir/stream"); streamDir.mkdirs()
    java.nio.file.Files.copy(f1.toPath,
      new java.io.File(streamDir, "batch_a.parquet").toPath)
    val stream = spark.readStream.schema(d1.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .as[StreamOps.ValueEvent]
    val q = StreamOps.kalmanStream(stream, q = 0.1, r = 1.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_kalman_ooo_test").start()
    try {
      q.processAllAvailable() // batch 1 folds fine
      java.nio.file.Files.copy(f2.toPath,
        new java.io.File(streamDir, "batch_b.parquet").toPath)
      val ex = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("out-of-order")),
        s"expected the out-of-order guard, got: ${msgs(ex).mkString(" | ")}")
    } finally q.stop()
  }

  test("asof stream fails loudly on out-of-order cross-batch input") {
    // round-12 (VERDICT item 6): the asof guard gets the same
    // negative-path proof as kalman's — a later micro-batch delivering
    // a strictly earlier event-time must fail, because already-emitted
    // rows cannot be retracted in append mode.
    val d1 = Seq((1L, 2000L, 10L, "view", 1.0), (1L, 3000L, 11L, "purchase", 2.0))
      .toDF("user_id", "t", "event_id", "event_type", "value")
    val d2 = Seq((1L, 1000L, 9L, "view", 3.0)) // EARLIER than batch 1
      .toDF("user_id", "t", "event_id", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_ooo").toString
    d1.coalesce(1).write.parquet(s"$dir/p1")
    d2.coalesce(1).write.parquet(s"$dir/p2")
    val f1 = new java.io.File(s"$dir/p1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val f2 = new java.io.File(s"$dir/p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val streamDir = new java.io.File(s"$dir/stream"); streamDir.mkdirs()
    java.nio.file.Files.copy(f1.toPath,
      new java.io.File(streamDir, "batch_a.parquet").toPath)
    val stream = spark.readStream.schema(d1.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .as[StreamOps.TypedEvent]
    val q = StreamOps.asofStream(stream, touchType = "view",
        emitType = "purchase")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_asof_ooo_test").start()
    try {
      q.processAllAvailable()
      java.nio.file.Files.copy(f2.toPath,
        new java.io.File(streamDir, "batch_b.parquet").toPath)
      val ex = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("out-of-order")),
        s"expected the out-of-order guard, got: ${msgs(ex).mkString(" | ")}")
    } finally q.stop()
  }

  test("asof stream fails loudly on a cross-batch touch at an " +
      "already-emitted timestamp") {
    // round-12 (the round-11 advice's batch≠stream divergence window,
    // now CLOSED): the batch join's inclusive tie rule would match a
    // same-t touch to the purchase, but the purchase already emitted in
    // a prior micro-batch — the stream must fail, not silently diverge.
    val d1 = Seq((1L, 1000L, 1L, "view", 10.0), (1L, 2000L, 2L, "purchase", 1.0))
      .toDF("user_id", "t", "event_id", "event_type", "value")
    val d2 = Seq((1L, 2000L, 3L, "view", 20.0)) // same t as the emitted purchase
      .toDF("user_id", "t", "event_id", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_tae").toString
    d1.coalesce(1).write.parquet(s"$dir/p1")
    d2.coalesce(1).write.parquet(s"$dir/p2")
    val f1 = new java.io.File(s"$dir/p1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val f2 = new java.io.File(s"$dir/p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val streamDir = new java.io.File(s"$dir/stream"); streamDir.mkdirs()
    java.nio.file.Files.copy(f1.toPath,
      new java.io.File(streamDir, "batch_a.parquet").toPath)
    val stream = spark.readStream.schema(d1.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .as[StreamOps.TypedEvent]
    val q = StreamOps.asofStream(stream, touchType = "view",
        emitType = "purchase")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_asof_tae_test").start()
    try {
      q.processAllAvailable()
      java.nio.file.Files.copy(f2.toPath,
        new java.io.File(streamDir, "batch_b.parquet").toPath)
      val ex = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("emit already fired")),
        s"expected the touch-after-emit guard, got: ${msgs(ex).mkString(" | ")}")
    } finally q.stop()
  }

  test("asof stream same-t touch ties resolve by max value — the batch rule") {
    // round-12 (the round-11 advice's tie-rule divergence, now closed):
    // duplicate per-key touch timestamps must resolve exactly as
    // AsOfJoin.backward's max-payload-struct rule, NOT last-arrival-wins.
    // eid order deliberately puts the SMALLER value last so an
    // arrival-order implementation gives 5.0 while the rule demands 10.0.
    val rows = Seq(
      (1L, 1000L, 1L, "view", 10.0), (1L, 1000L, 2L, "view", 5.0),
      (1L, 2000L, 3L, "purchase", 1.0))
    val df = rows.toDF("user_id", "t", "event_id", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_tie").toString
    df.coalesce(1).write.parquet(s"$dir/p1")
    val f1 = new java.io.File(s"$dir/p1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val streamDir = new java.io.File(s"$dir/stream"); streamDir.mkdirs()
    java.nio.file.Files.copy(f1.toPath,
      new java.io.File(streamDir, "batch_a.parquet").toPath)
    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .as[StreamOps.TypedEvent]
    val q = StreamOps.asofStream(stream, touchType = "view",
        emitType = "purchase")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_asof_tie_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_asof_tie_test")
      .select($"event_id", $"view_t", $"view_value")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = graft.joins.AsOfJoin.backward(
        df.filter($"event_type" === "purchase")
          .select($"user_id", $"event_id", $"t"),
        df.filter($"event_type" === "view")
          .select($"user_id", $"t", $"value"),
        Seq("user_id"), "t", "t", Seq("value"))
      .select($"event_id", $"asof_ord", $"asof_value")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(3L -> ((Some(1000L), Some(10.0)))),
      s"stream must keep the MAX same-t touch value, got $got")
    assert(batch === got, "batch and stream must agree on the tie rule")
  }

  test("bucket-count stream across two micro-batches == batch histogram") {
    // running counts must CONTINUE over the batch boundary (monotone
    // counter CRDT): max-merged emissions equal the batch counts
    val all = (0 until 200).map(i => (i % 13).toLong)
    val dir = java.nio.file.Files.createTempDirectory("graft_bc_stream").toString
    // deterministic split: first 90 rows of the sequence vs the rest
    all.take(90).map(Tuple1(_)).toDF("bucket").coalesce(1)
      .write.parquet(s"$dir/p1")
    all.drop(90).map(Tuple1(_)).toDF("bucket").coalesce(1)
      .write.parquet(s"$dir/p2")
    val f1 = new java.io.File(s"$dir/p1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val f2 = new java.io.File(s"$dir/p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val streamDir = new java.io.File(s"$dir/stream"); streamDir.mkdirs()
    java.nio.file.Files.copy(f1.toPath,
      new java.io.File(streamDir, "batch_a.parquet").toPath)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .as[StreamOps.BucketRow]
    val q = StreamOps.bucketCountStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_bc_test").start()
    try {
      q.processAllAvailable()
      java.nio.file.Files.copy(f2.toPath,
        new java.io.File(streamDir, "batch_b.parquet").toPath)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_bc_test")
      .groupBy($"bucket").agg(max($"c").as("c"))
      .as[(Long, Long)].collect().toMap
    val want = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got === want)
  }

  test("clearPackCaches drops the memory-sink views; a rerun hashes the same") {
    val sf = "/root/testdata/sf0.001"
    // the pack's sink views (`st3_out_7`); other specs name their own
    def sinkViews = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.matches("st\\d+_out_\\d+")).map(_.name)
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)),
          sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
        .collect().head.toSeq
    val first = digest(SparkEntry.queries("st3_stream_dedup")(spark, sf))
    assert(sinkViews.exists(_.startsWith("st3_out_")))
    SparkEntry.clearPackCaches(spark)
    assert(sinkViews.isEmpty, s"views left: ${sinkViews.mkString(", ")}")
    val out = SparkEntry.queries("st3_stream_dedup")(spark, sf)
    SparkEntry.clearPackCaches(spark)
    assert(digest(out) == first)
    assert(sinkViews.isEmpty)
  }
}
