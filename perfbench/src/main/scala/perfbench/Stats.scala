package perfbench

/** The benchmark's summary statistics, kept free of Spark so the
  * known-answer specs can pin them. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The median operation's latency: the median over operations of each
    * one's median sample. A run mixes operations of different cost, and
    * the median of the pooled samples can fall between two of them and
    * jump from one to the other from run to run. */
  def medianOfMedians(samplesByOp: Iterable[Seq[Double]]): Double =
    median(samplesByOp.map(median).toSeq)

  /** A tail latency: the sample `value` sits at `percentile` of `samples`. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest percentile with at least a tenth of the samples, and at
    * least one, beyond it: the nearest-rank p90, never the maximum once
    * there are two samples. A run holds tens of samples, too few for ten
    * to lie beyond a high percentile. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val beyond = math.max(1, n / 10)
    if (n <= beyond) Tail(s.last, 100.0, n)
    else Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n)
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its children's intervals cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.endMs - s.startMs - covered)
    }.toMap
  }

  /** Share of the executor slots that ran tasks while the exec layer was
    * busy: task run time over exec wall time times cores. */
  def slotBusyFrac(taskRunS: Double, execS: Double, cores: Int): Double =
    if (execS <= 0 || cores <= 0) 0.0 else taskRunS / (execS * cores)
}
