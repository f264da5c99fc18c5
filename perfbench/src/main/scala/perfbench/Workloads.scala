package perfbench

/** A fixed list of declared queries, run in a seed-drawn order. */
final case class Workload(name: String, queries: Seq[String])

object Workloads {
  // Two workloads of a few queries each, and no disk layouts or shared
  // stages: every run pays a cold set-up (30-45 s from the session start
  // to the first timed pass), and the whole schedule of runs must fit in
  // under an hour.
  val all: Seq[Workload] = Seq(
    Workload("batch_mix",
      // an iterative loop (driver, scheduler), per-row windows and kernels
      // (executor, shuffle) and a scan of the largest table (io)
      Seq("m16_kmeans_portable", "w20_features16", "q1_pricing")),
    Workload("stream_state",
      Seq("st3_stream_dedup", "st4_stream_rolling")))

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}
