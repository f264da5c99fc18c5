package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** One benchmark run of one workload in one JVM:
  *
  *  1. start a session;
  *  2. one untimed check pass: every query's row count and
  *     order-insensitive `sum(xxhash64(*))` against the pinned reference;
  *  3. [[WarmPasses]] untimed passes. Steps 1-3 are the set-up: the
  *     session start and each query's cold first execution (analysis,
  *     codegen, JIT) up to the first timed query;
  *  4. timed passes until `--seconds` have elapsed. After each pass the
  *     pack caches are cleared and reference-free blocks unpersisted, so
  *     every pass starts from the same cache state.
  *
  * With `--trace 1` every second timed pass runs with the listeners of
  * [[Tracer]] attached; the others give the untraced pass time the
  * tracing overhead is measured against. The result is one JSON file
  * (`--out`); run.py turns it into the benchmark's output line.
  */
object Main {

  /** `local[4]` and 4 shuffle partitions whatever the host's cpu count,
    * so results and timings do not depend on it. */
  val Cores = 4
  val WarmPasses = 4

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, data: String = "", out: String = "",
                        reference: String = "", work: String = "", dump: String = "")

  final case class Failure(query: String, phase: String, pass: Int, error: String)

  private def parse(args: Array[String]): Opts =
    args.grouped(2).foldLeft(Opts()) {
      case (o, Array("--workload", v)) => o.copy(workload = v)
      case (o, Array("--seed", v)) => o.copy(seed = v.toLong)
      case (o, Array("--seconds", v)) => o.copy(seconds = v.toDouble)
      case (o, Array("--trace", v)) => o.copy(trace = v == "1")
      case (o, Array("--data", v)) => o.copy(data = v)
      case (o, Array("--out", v)) => o.copy(out = v)
      case (o, Array("--reference", v)) => o.copy(reference = v)
      case (o, Array("--work", v)) => o.copy(work = v)
      case (o, Array("--dump", v)) => o.copy(dump = v)
      case (_, a) => throw new IllegalArgumentException(s"bad argument ${a.mkString(" ")}")
    }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Epoch milliseconds with sub-millisecond steps, on the clock of
    * Spark's listener events. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def session(o: Opts): ClassicSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the engine's own benchmark setting: a codegen-class cache sized
      // to hold every plan shape of the suite
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Spark's split and coalesce floors (4 MB per file split, 1 MB per
      // shuffle partition) are sized for tables 50x these; scaled down,
      // every scan and every non-trivial shuffle runs as Cores tasks
      .config("spark.sql.files.openCostInBytes", "16384")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16384")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.asInstanceOf[ClassicSession]
  }

  /** Row count and order-insensitive content hash of a query result. */
  def checksum(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads(o.workload)
    val fns = SparkEntry.queries
    val missing = wl.queries.filterNot(fns.contains)
    require(missing.isEmpty, s"undeclared queries: ${missing.mkString(", ")}")
    val failures = mutable.ArrayBuffer.empty[Failure]
    var attempted = 0L

    // 1. session start
    val s0 = System.nanoTime()
    val spark = session(o)
    val sessionS = secs(s0)
    val sc = spark.sparkContext
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    if (o.dump.nonEmpty) { dump(spark, wl, o); spark.stop(); return }

    // 2. check pass
    val reference = Reference.load(o.reference)
    val check = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val c0 = System.nanoTime()
    val compiles0 = compiles
    wl.queries.sorted.foreach { q =>
      attempted += 1
      val want = reference.get(q)
      try {
        val (rows, hash) = checksum(fns(q)(spark, o.data))
        val ok = want.contains((rows, hash))
        if (!ok) failures += Failure(q, "check", -1,
          s"got rows=$rows hash=$hash, want ${want.fold("no reference")(w => s"rows=${w._1} hash=${w._2}")}")
        check(q) = Map("rows" -> rows, "hash" -> hash, "ok" -> ok)
      } catch { case e: Exception =>
        failures += Failure(q, "check", -1, String.valueOf(e.getMessage).take(500))
        check(q) = Map("ok" -> false)
      }
    }

    val checkS = secs(c0)

    // 3-4. warm and timed passes. After every pass the engine releases
    // its caches; RDDs still persisted then are released by nothing, so
    // they are counted as a leak and swept, and the heap is measured.
    val unreleased = mutable.ArrayBuffer.empty[Int]
    def release(): Double = {
      SparkEntry.clearPackCaches(spark)
      unreleased += sc.getPersistentRDDs.size
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val tracer = if (o.trace) Some(new Tracer(spark)) else None

    final case class Pass(index: Int, traced: Boolean, seconds: Double, cpuS: Double,
                          heapMb: Double, cachedRdds: Int, latencies: Seq[(String, Double)],
                          layers: Option[Counters])

    def runPass(index: Int, traced: Boolean): Pass = {
      val perm = new scala.util.Random(o.seed * 1000003L + index).shuffle(wl.queries)
      val lat = mutable.ArrayBuffer.empty[(String, Double)]
      val t = if (traced) tracer else None
      t.foreach(_.beginPass())
      var runS, actionS, cachedPeak = 0.0
      def span[A](kind: String, name: String, parent: Long)(body: Long => A): A = t match {
        case None => body(0L)
        case Some(tr) =>
          val id = tr.nextId()
          val start = nowMs
          try body(id)
          finally tr.record(Span(id, parent, kind, name, start, nowMs))
      }
      def linked[A](id: Long, kind: String)(body: => A): A =
        if (t.isEmpty) body
        else {
          sc.setLocalProperty(t.get.SpanProp, s"$id:$kind")
          try body finally sc.setLocalProperty(t.get.SpanProp, null)
        }
      val cpu0 = os.getProcessCpuTime
      val p0 = System.nanoTime()
      span("pass", s"pass $index", 0L) { passId =>
        perm.foreach { q =>
          attempted += 1
          span("query", q, passId) { qId =>
            val q0 = System.nanoTime()
            try {
              val df = span("run", q, qId)(id => linked(id, "run")(fns(q)(spark, o.data)))
              val r1 = System.nanoTime()
              span("action", q, qId)(id => linked(id, "action")(
                df.write.format("noop").mode("overwrite").save()))
              runS += (r1 - q0) / 1e9
              actionS += secs(r1)
              lat += q -> secs(q0)
            } catch { case e: Exception =>
              failures += Failure(q, "run", index, String.valueOf(e.getMessage).take(500))
            }
          }
          if (traced) cachedPeak = math.max(cachedPeak,
            sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
        }
      }
      val seconds = secs(p0)
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      val cached = sc.getPersistentRDDs.size
      val layers = t.map { tr =>
        val c = tr.endPass()
        c.runS = runS; c.actionS = actionS
        c.cachedPeak = (cachedPeak * 1048576).toLong
        c.cachedRddsEnd = cached
        c
      }
      Pass(index, traced, seconds, cpuS, release(), cached, lat.toSeq, layers)
    }

    // the heap after the check and warm passes, a fixed amount of work, so
    // that a slow leak reads the same however many timed passes fit
    val untimedHeap = release()
    val warm = (1 to WarmPasses).map(i => runPass(-i, traced = false))
    val warmS = warm.map(_.seconds)
    val setupS = secs(s0)
    val setupCompiles = compiles - compiles0
    val passes = mutable.ArrayBuffer.empty[Pass]
    val minPasses = if (o.trace) 2 else 1
    val w0 = System.nanoTime()
    while (passes.size < minPasses || secs(w0) < o.seconds) {
      passes += runPass(passes.size, traced = o.trace && passes.size % 2 == 1)
    }
    val spans = tracer.map(_.spans).getOrElse(Nil)
    SparkEntry.clearPackCaches(spark)
    spark.stop()

    // results
    val untraced = passes.filterNot(_.traced)
    val lats = untraced.flatMap(_.latencies.map(_._2)).toSeq
    val leak = unreleased.exists(_ > 0)
    if (leak) System.err.println("[perfbench] LEAK: RDDs left persisted after " +
      s"clearPackCaches, per pass: ${unreleased.mkString(" ")}")
    val failed = failures.size.toLong
    def m(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)
    val endToEnd = Map(
      "pass_s" -> m(median(untraced.map(_.seconds).toSeq), "s"),
      "query_p50_s" -> m(quantile(lats, 0.5), "s"),
      "query_p90_s" -> m(quantile(lats, 0.9), "s"),
      "cpu_s" -> m(median(untraced.map(_.cpuS).toSeq), "s"),
      "ok_frac" -> m(1.0 - failed.toDouble / attempted, "ratio"),
      "setup_s" -> m(setupS, "s"),
      "heap_peak_mb" -> m((untimedHeap +: warm.map(_.heapMb)).max, "MB"))
    val perLayer: Map[String, Map[String, Any]] =
      if (!o.trace) Map.empty
      else {
        val cs = passes.flatMap(_.layers).toSeq
        val tracedS = median(passes.filter(_.traced).map(_.seconds).toSeq)
        PerLayer(cs, tracedS, median(untraced.map(_.seconds).toSeq), Cores,
          checkS, setupCompiles).map { case (k, (v, u)) => k -> m(v, u) }.toMap
      }
    val result = Map(
      "workload" -> wl.name, "seed" -> o.seed, "trace" -> o.trace,
      "attempted" -> attempted, "failed" -> failed,
      "correct" -> (failed == 0),
      "end_to_end" -> endToEnd, "per_layer" -> perLayer,
      "query_samples" -> lats.size,
      "session_s" -> sessionS, "check_s" -> checkS, "warm_s" -> warmS,
      "query_median_s" -> untraced.flatMap(_.latencies).groupBy(_._1)
        .map { case (q, xs) => q -> median(xs.map(_._2).toSeq) },
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "seconds" -> p.seconds, "cpu_s" -> p.cpuS, "heap_mb" -> p.heapMb,
        "cached_rdds_end" -> p.cachedRdds)).toSeq,
      "unreleased_rdds" -> unreleased.toSeq, "leak" -> leak,
      "failures" -> failures.map(f => Map("query" -> f.query, "phase" -> f.phase,
        "pass" -> f.pass, "error" -> f.error)).toSeq,
      "check" -> check.toMap)
    Json.write(Paths.get(o.out), result)
    if (spans.nonEmpty)
      Json.write(Paths.get(o.out.stripSuffix(".json") + ".trace.json"),
        spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))
  }

  /** Writes each query's output as parquet plus the engine's oracle SQL
    * for them, for certify.py to compare against DuckDB. */
  private def dump(spark: SparkSession, wl: Workload, o: Opts): Unit = {
    Files.createDirectories(Paths.get(o.dump))
    val oracle = SparkEntry.oracleSql
    val sums = wl.queries.map { q =>
      val df = SparkEntry.queries(q)(spark, o.data)
      df.coalesce(1).write.mode("overwrite").parquet(s"${o.dump}/$q")
      val (rows, hash) = checksum(SparkEntry.queries(q)(spark, o.data))
      q -> Map("rows" -> rows, "hash" -> hash)
    }.toMap
    Json.write(Paths.get(s"${o.dump}/checksums.json"), sums)
    Json.write(Paths.get(s"${o.dump}/oracle_sql.json"),
      wl.queries.flatMap(q => oracle.get(q).map(q -> _)).toMap)
  }
}
