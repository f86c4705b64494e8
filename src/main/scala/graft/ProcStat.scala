package graft

/** Cumulative (steal, total) CPU ticks parsed from the aggregate `cpu` line
  * of /proc/stat — the one shared parser behind Bench's per-region steal%,
  * IsolatedSweep's per-run steal%, the benchmark harness's env stamp, and
  * the scale specs' recorded steal.
  *
  * The denominator sums ONLY the first 8 fields (user, nice, system, idle,
  * iowait, irq, softirq, steal): the trailing guest/guest_nice fields are
  * already folded into user/nice by the kernel, so including them
  * double-counts guest time and systematically understates steal% on hosts
  * running nested VMs. None on non-Linux — callers degrade, never fail. */
object ProcStat {
  def stealTotalTicks(): Option[(Long, Long)] = scala.util.Try {
    val cols = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/stat")), "UTF-8")
      .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
    (cols(7), cols.take(8).sum) // field 8 (idx 7) = steal
  }.toOption

  /** steal% across a region bounded by two [[stealTotalTicks]] snapshots. */
  def stealPct(pre: Option[(Long, Long)],
      post: Option[(Long, Long)]): Option[Double] =
    for {
      (s0, t0) <- pre
      (s1, t1) <- post
      if t1 > t0
    } yield 100.0 * (s1 - s0) / (t1 - t0)
}
