package lakebench

/** Order statistics and the validity rules the benchmark applies to them.
  *
  * A latency sample carries the id of the group it belongs to: rows of one
  * micro-batch, or files committed by one batch, share most of their delay,
  * so a percentile is only trusted when enough distinct groups lie beyond
  * it, not merely enough rows.
  */
object Stats {
  final case class Sample(value: Double, group: Long)

  /** A percentile with the evidence behind it. `valid` holds when at least
    * `minBeyond` distinct groups have a sample strictly above `value`.
    */
  final case class Pct(p: Double, value: Double, n: Int, groupsBeyond: Int, valid: Boolean)

  val MinBeyond = 10

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The lower middle value: for an even count it takes the smaller of the
    * two middle samples rather than their mean, so one periodic spike (a log
    * checkpoint landing on one of two calls) does not set a short run's
    * figure.
    */
  def lowMedian(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    xs.sorted.apply((xs.size - 1) / 2)
  }

  def pct(samples: Seq[Sample], p: Double, minBeyond: Int = MinBeyond): Pct =
    if (samples.isEmpty) Pct(p, Double.NaN, 0, 0, valid = false)
    else {
      val v = percentile(samples.map(_.value), p)
      val beyond = samples.filter(_.value > v).map(_.group).distinct.size
      Pct(p, v, samples.size, beyond, beyond >= minBeyond)
    }

  /** One sample per group: the mean of the group's values. */
  def perGroup(samples: Seq[Sample]): Seq[Sample] =
    samples.groupBy(_.group).toSeq.sortBy(_._1).map { case (g, ss) => Sample(ss.map(_.value).sum / ss.size, g) }

  /** Least-squares growth of a lag series over its own time span:
    * slope × (last t − first t). Used for the "backlog stayed flat" gate.
    */
  def growth(series: Seq[(Double, Double)]): Double =
    if (series.size < 3) 0.0
    else {
      val n = series.size.toDouble
      val mt = series.map(_._1).sum / n
      val my = series.map(_._2).sum / n
      val sxx = series.map { case (t, _) => (t - mt) * (t - mt) }.sum
      if (sxx == 0) 0.0
      else {
        val sxy = series.map { case (t, y) => (t - mt) * (y - my) }.sum
        sxy / sxx * (series.last._1 - series.head._1)
      }
    }
}

/** Attribution of commit times back to the ticks that caused them.
  *
  * Files land in index order and the file source admits them in that order
  * (each trigger takes every file listed so far), so the bronze batch that
  * holds file k is the first one whose cumulative row count reaches the
  * cumulative row count through file k.
  */
object Fresh {
  /** One landed input file: when it was due on the schedule (ns on the
    * run's clock), how many lines it holds, and its largest event time.
    */
  final case class Landed(index: Int, dueNs: Long, rows: Int, maxEventUs: Long)

  /** One bronze micro-batch: its id, rows admitted, and when its commit
    * returned (ns on the run's clock).
    */
  final case class Batch(id: Long, rows: Long, commitNs: Long)

  /** Freshness (s) of every file a batch committed, grouped by batch. Files
    * not yet covered by a batch are left out.
    */
  def bronze(files: IndexedSeq[Landed], batches: Seq[Batch]): Seq[Stats.Sample] = {
    val out = Seq.newBuilder[Stats.Sample]
    var cumFile = 0L
    var fi = 0
    var cumBatch = 0L
    batches.foreach { b =>
      cumBatch += b.rows
      while (fi < files.size && cumFile + files(fi).rows <= cumBatch) {
        cumFile += files(fi).rows
        out += Stats.Sample((b.commitNs - files(fi).dueNs) / 1e9, b.id)
        fi += 1
      }
    }
    out.result()
  }

  /** Due time of the first file whose newest tick reaches `thresholdUs`,
    * or None if no landed file does.
    */
  def firstReaching(files: IndexedSeq[Landed], thresholdUs: Long): Option[Long] = {
    // prefix maxima are monotone, so binary search the first index >= threshold
    val prefix = files.scanLeft(Long.MinValue)((m, f) => math.max(m, f.maxEventUs)).tail
    var lo = 0
    var hi = prefix.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (prefix(mid) >= thresholdUs) hi = mid else lo = mid + 1
    }
    if (lo < files.size) Some(files(lo).dueNs) else None
  }

  /** Silver freshness: a window row committed at `commitNs` became
    * eligible once the watermark (newest event time − `delayUs`) passed its
    * end, i.e. when the first tick with event time ≥ end + delay was
    * created. Freshness excludes the window's own length and includes the
    * batch that only advances the watermark. Returns the samples and the
    * number of windows no landed file could have closed.
    */
  def silver(files: IndexedSeq[Landed], commits: Seq[(Long, Long, Seq[Long])],
      delayUs: Long): (Seq[Stats.Sample], Int) = {
    var orphans = 0
    val samples = commits.flatMap { case (version, commitNs, windowEndsUs) =>
      windowEndsUs.flatMap { end =>
        firstReaching(files, end + delayUs) match {
          case Some(due) => Some(Stats.Sample((commitNs - due) / 1e9, version))
          case None => orphans += 1; None
        }
      }
    }
    (samples, orphans)
  }
}
