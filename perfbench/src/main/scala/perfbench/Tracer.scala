package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds, the clock Spark's
  * listener events carry; `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double)

/** Per-pass counters, filled from the listeners while one pass runs. */
final class Counters {
  var runS, actionS = 0.0
  var runJobs = 0L
  var executions = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var compileN = 0L
  var compileNs = 0L
  var jobs, stages, tasks, retriedTasks = 0L
  var delayMs, runMs, gcMs = 0L
  var cpuNs = 0L
  var peakExecMem = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillMem, spillDisk = 0L
  var inputBytes, inputRows = 0L
  var cachedPeak = 0L
  var cachedRddsEnd = 0L
  var batches = 0L
  var addBatchMs, batchPlanningMs, walCommitMs, stateCommitMs = 0L
  var stateRowsPeak, stateBytesPeak = 0L
  val selfMs: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
}

/** Spans and layer counters from Spark's public listeners. Listeners are
  * attached for one pass at a time ([[beginPass]] / [[endPass]]), so every
  * event they see belongs to that pass; [[endPass]] drains the listener
  * bus before detaching. Spans stay in memory until [[spans]] is read. */
final class Tracer(spark: org.apache.spark.sql.classic.SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val all = mutable.ArrayBuffer.empty[Span]
  private var cur = new Counters
  private val passSpans = mutable.ArrayBuffer.empty[Span]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val markerStages = mutable.Set.empty[Int]
  @volatile private var markerJob = -1
  @volatile private var markerDone: CountDownLatch = new CountDownLatch(0)
  private val streamsOpen = new AtomicLong(0)

  val SpanProp = "perfbench.span"
  private val MarkerProp = "perfbench.marker"

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = synchronized { passSpans += s }

  def spans: Seq[Span] = synchronized(all.toList)

  private val spark0 = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(MarkerProp) != null)) {
        markerJob = e.jobId
        markerStages ++= e.stageIds
      } else {
        // "<span id>:<span kind>" of the call that submitted the job
        val link = props.flatMap(p => Option(p.getProperty(SpanProp)))
          .map(_.split(':')).getOrElse(Array("0", ""))
        val id = nextId()
        jobSpan(e.jobId) = id
        e.stageIds.foreach(s => stageJob(s) = id)
        cur.jobs += 1
        if (link(1) == "run") cur.runJobs += 1
        // the interval is completed at job end
        passSpans += Span(id, link(0).toLong, "job", s"job ${e.jobId}", e.time.toDouble, -1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      if (e.jobId == markerJob) markerDone.countDown()
      else Tracer.this.synchronized {
        jobSpan.remove(e.jobId).foreach { id =>
          val i = passSpans.indexWhere(_.id == id)
          if (i >= 0) passSpans(i) = passSpans(i).copy(end = e.time.toDouble)
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        if (!markerStages.contains(si.stageId)) {
          cur.stages += 1
          for (t0 <- si.submissionTime; t1 <- si.completionTime;
               job <- stageJob.get(si.stageId)) {
            passSpans += Span(nextId(), job, "stage", s"stage ${si.stageId} (${si.numTasks} tasks)",
              t0.toDouble, t1.toDouble)
          }
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val m = e.taskMetrics
        if (!markerStages.contains(e.stageId) && m != null) {
          val ti = e.taskInfo
          cur.tasks += 1
          if (ti.attemptNumber > 0 || ti.speculative) cur.retriedTasks += 1
          val getting =
            if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
          cur.delayMs += math.max(0L, ti.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - getting)
          cur.runMs += m.executorRunTime
          cur.cpuNs += m.executorCpuTime
          cur.gcMs += m.jvmGCTime
          cur.peakExecMem = math.max(cur.peakExecMem, m.peakExecutionMemory)
          cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          cur.spillMem += m.memoryBytesSpilled
          cur.spillDisk += m.diskBytesSpilled
          cur.inputBytes += m.inputMetrics.bytesRead
          cur.inputRows += m.inputMetrics.recordsRead
        }
      }
  }

  private val sql = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      cur.executions += 1
      cur.analysisMs += ms("analysis")
      cur.optimizationMs += ms("optimization")
      cur.planningMs += ms("planning")
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val stream = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsOpen.incrementAndGet(): Unit
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsOpen.decrementAndGet(): Unit
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        cur.batches += 1
        cur.addBatchMs += d("addBatch")
        cur.batchPlanningMs += d("queryPlanning")
        cur.walCommitMs += d("walCommit")
        cur.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        cur.stateRowsPeak = math.max(cur.stateRowsPeak, p.stateOperators.map(_.numRowsTotal).sum)
        cur.stateBytesPeak = math.max(cur.stateBytesPeak, p.stateOperators.map(_.memoryUsedBytes).sum)
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        passSpans += Span(nextId(), 0L, "batch", Option(p.name).getOrElse("batch"),
          t0, t0 + p.batchDuration)
      }
  }

  private def codegen: (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private var cg0 = (0L, 0L)

  def beginPass(): Unit = {
    synchronized { cur = new Counters; passSpans.clear() }
    sc.addSparkListener(spark0)
    spark.listenerManager.register(sql)
    spark.streams.addListener(stream)
    cg0 = codegen
  }

  /** Waits until the listeners have seen every event of the pass, detaches
    * them, links batch spans to the query that ran them and returns the
    * pass's counters with per-kind self time. */
  def endPass(): Counters = {
    val cg1 = codegen
    markerDone = new CountDownLatch(1)
    sc.setLocalProperty(MarkerProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerProp, null)
    markerDone.await(60, TimeUnit.SECONDS)
    val deadline = System.nanoTime() + 10_000_000_000L
    while (streamsOpen.get > 0 && System.nanoTime() < deadline) Thread.sleep(5)
    sc.removeSparkListener(spark0)
    spark.listenerManager.unregister(sql)
    spark.streams.removeListener(stream)
    synchronized {
      val c = cur
      c.compileN = cg1._1 - cg0._1
      c.compileNs = cg1._2 - cg0._2
      val (batches, rest) = passSpans.partition(_.kind == "batch")
      // a batch runs inside the query call that started its stream
      val linked = batches.map { b =>
        rest.find(s => (s.kind == "run" || s.kind == "action") &&
          s.start <= b.start && b.start <= s.end)
          .map(p => b.copy(parent = p.id)).getOrElse(b)
      }
      // jobs that ran inside a batch belong to it
      val jobs = rest.filter(_.kind == "job").map { j =>
        linked.find(b => b.parent == j.parent && b.start <= j.start && j.start <= b.end)
          .map(b => j.copy(parent = b.id)).getOrElse(j)
      }
      val spans = (rest.filterNot(_.kind == "job") ++ jobs ++ linked).toSeq
      all ++= spans
      Tracer.selfTimes(spans).foreach { case (k, v) => c.selfMs(k) += v }
      c
    }
  }
}

object Tracer {
  /** A span's self time is its duration minus the part of it covered by
    * its children. Returns the sum per span kind, in milliseconds. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val done = spans.filter(_.end >= 0)
    val kids = done.groupBy(_.parent)
    done.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var (a, b) = (Double.NaN, Double.NaN)
        iv.foreach { case (x, y) =>
          if (a.isNaN || x > b) { if (!a.isNaN) covered += b - a; a = x; b = y }
          else b = math.max(b, y)
        }
        if (!a.isNaN) covered += b - a
        (s.end - s.start) - covered
      }.sum
    }
  }
}
