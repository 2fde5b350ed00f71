package perfbench

/** Steal time: how much of this VM's CPU time the hypervisor took while
  * an op ran, so that latencies can be reported without it.
  *
  * The benchmark runs on a few virtual CPUs of a shared host. When other
  * tenants are busy, the hypervisor runs them on this VM's busy CPUs and
  * counts the time as steal (the eighth field of the cpu line of
  * /proc/stat). Over measured stretches the stolen share of busy CPU time
  * went from 0 to over 40% for minutes at a time, and the engine's calls
  * took up to twice as long with the program unchanged.
  *
  * A call whose threads were runnable for `busy + steal` ticks but ran
  * for `busy` would, with nothing stolen, have taken `busy / (busy +
  * steal)` of its wall time: that share of the wall time is the latency
  * every metric uses. The result file keeps the wall-clock figures. */
object StealTime {

  /** (busy, steal) ticks of this VM's CPUs between two /proc/stat
    * readings; busy is user, nice, system, irq and softirq time. */
  def ticks(a: Option[Seq[Long]], b: Option[Seq[Long]]): (Long, Long) =
    (for (x <- a; y <- b) yield {
      val d = y.zip(x).map { case (p, q) => p - q }
      (d(0) + d(1) + d(2) + d(5) + d(6), d(7))
    }).getOrElse((0L, 0L))

  /** Share of the busy time the hypervisor did not take; 1 with no ticks. */
  def unstolen(busy: Long, steal: Long): Double =
    if (busy + steal <= 0) 1.0 else busy.toDouble / (busy + steal)

  /** The aggregate cpu line of /proc/stat, in ticks; None off Linux. */
  def cpuTicks(): Option[Seq[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try Some(src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong).toSeq)
      finally src.close()
    } catch { case _: java.io.IOException => None }
}
