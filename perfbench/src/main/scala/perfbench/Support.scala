package perfbench

import java.nio.file.{Files, Path, Paths}

/** Minimal JSON writer for the result and trace files. */
object Json {
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + encode(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  def write(p: Path, v: Any): Unit = Files.writeString(p, encode(v) + "\n")
}

/** Pinned (rows, hash) per query, certified against the DuckDB oracle
  * by certify.py. */
object Reference {
  def load(path: String): Map[String, (Long, String)] = {
    import org.json4s._
    val js = org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(path)))
    (js \ "queries") match {
      case JObject(fields) => fields.map { case (q, v) =>
        q -> (((v \ "rows"): @unchecked) match { case JInt(n) => n.toLong },
              ((v \ "hash"): @unchecked) match { case JString(h) => h })
      }.toMap
      case _ => Map.empty
    }
  }
}

/** The per-layer metrics of a traced run, from the traced passes'
  * counters: sums and counts are per-pass means, peaks are maxima. */
object PerLayer {
  def apply(cs: Seq[Counters], tracedPassS: Double, untracedPassS: Double,
            cores: Int, checkS: Double, setupCompiles: Long): Seq[(String, (Double, String))] = {
    val n = math.max(cs.size, 1).toDouble
    def mean(f: Counters => Double): Double = cs.map(f).sum / n
    def peak(f: Counters => Double): Double = if (cs.isEmpty) 0.0 else cs.map(f).max
    val mb = 1048576.0
    val tasks = mean(_.tasks.toDouble)
    val cpuS = mean(_.cpuNs / 1e9)
    val selfKinds = Seq("pass", "query", "run", "action", "job", "stage", "batch")
    Seq(
      "queries.run_s" -> (mean(_.runS), "s"),
      "queries.action_s" -> (mean(_.actionS), "s"),
      "queries.run_jobs" -> (mean(_.runJobs.toDouble), "count"),
      "catalyst.executions" -> (mean(_.executions.toDouble), "count"),
      "catalyst.analysis_s" -> (mean(_.analysisMs / 1e3), "s"),
      "catalyst.optimization_s" -> (mean(_.optimizationMs / 1e3), "s"),
      "catalyst.planning_s" -> (mean(_.planningMs / 1e3), "s"),
      "codegen.compile_n" -> (mean(_.compileN.toDouble), "count"),
      "codegen.compile_s" -> (mean(_.compileNs / 1e9), "s"),
      "scheduler.jobs" -> (mean(_.jobs.toDouble), "count"),
      "scheduler.stages" -> (mean(_.stages.toDouble), "count"),
      "scheduler.tasks" -> (tasks, "count"),
      "scheduler.delay_s" -> (mean(_.delayMs / 1e3), "s"),
      "scheduler.task_retry_frac" ->
        (if (tasks > 0) mean(_.retriedTasks.toDouble) / tasks else 0.0, "ratio"),
      "executor.task_run_s" -> (mean(_.runMs / 1e3), "s"),
      "executor.task_cpu_s" -> (cpuS, "s"),
      "executor.gc_s" -> (mean(_.gcMs / 1e3), "s"),
      "executor.cpu_util" -> (cpuS / (tracedPassS * cores), "ratio"),
      "executor.peak_exec_mem_mb" -> (peak(_.peakExecMem / mb), "MB"),
      "shuffle.write_mb" -> (mean(_.shuffleWrite / mb), "MB"),
      "shuffle.read_mb" -> (mean(_.shuffleRead / mb), "MB"),
      "shuffle.fetch_wait_s" -> (mean(_.fetchWaitMs / 1e3), "s"),
      "shuffle.spill_mem_mb" -> (mean(_.spillMem / mb), "MB"),
      "shuffle.spill_disk_mb" -> (mean(_.spillDisk / mb), "MB"),
      "io.input_mb" -> (mean(_.inputBytes / mb), "MB"),
      "io.input_rows" -> (mean(_.inputRows.toDouble), "count"),
      "setup.check_s" -> (checkS, "s"),
      "setup.compile_n" -> (setupCompiles.toDouble, "count"),
      "io.cached_peak_mb" -> (peak(_.cachedPeak / mb), "MB"),
      "io.cached_rdds_end" -> (cs.lastOption.map(_.cachedRddsEnd.toDouble).getOrElse(0.0), "count"),
      "streaming.batches" -> (mean(_.batches.toDouble), "count"),
      "streaming.add_batch_s" -> (mean(_.addBatchMs / 1e3), "s"),
      "streaming.batch_planning_s" -> (mean(_.batchPlanningMs / 1e3), "s"),
      "streaming.wal_commit_s" -> (mean(_.walCommitMs / 1e3), "s"),
      "streaming.state_commit_s" -> (mean(_.stateCommitMs / 1e3), "s"),
      "streaming.state_rows_peak" -> (peak(_.stateRowsPeak.toDouble), "count"),
      "streaming.state_mb_peak" -> (peak(_.stateBytesPeak / mb), "MB"),
      "trace.pass_s" -> (tracedPassS, "s"),
      "trace.overhead_s" -> (tracedPassS - untracedPassS, "s")) ++
      selfKinds.map(k => s"self.${k}_s" -> (mean(_.selfMs(k) / 1e3), "s"))
  }
}
