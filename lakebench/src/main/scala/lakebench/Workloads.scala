package lakebench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.regression.LinearRegressionModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Caches
import graft.ext.{Curation, Dedup, Similarity, TextOps}
import graft.gold.GoldRollup
import graft.ml.PriceModel
import graft.sources.{DeltaLog, IcebergLog, TxLog}

/** What a workload hands back to the run: latency samples by kind of
  * user-visible operation, its work rate, its set-up repetitions and its
  * one-off warm-up.
  */
final case class Outcome(latency: Map[String, Seq[Double]], ratePerS: Double, setupRepsS: Seq[Double],
    warmupS: Double = 0.0) {
  /** The mean over kinds of each kind's lower median: a fixed mix, so that
    * where the window happens to cut a cycle does not move it.
    */
  def latencyS: Double = latency.values.map(Stats.lowMedian).sum / latency.size
}

trait Workload {
  def run(run: Run, spark: SparkSession, scans: Option[ScanTally]): Outcome
}

object Workloads {
  val all: Map[String, Workload] = Map(
    "live_ticks" -> LiveTicks, "replay_catchup" -> ReplayCatchup,
    "table_upkeep" -> TableUpkeep, "corpus_curation" -> CorpusCuration)

  /** Set-up is repeated and its median reported, so that work moved into
    * set-up shows; the last repetition's fixture is the one measured. Each
    * workload then warms up once on that fixture, untimed by the window
    * but counted in `setup_s`.
    */
  val SetupReps = 3

  def timed(f: => Unit): Double = {
    val t = System.nanoTime()
    f
    (System.nanoTime() - t) / 1e9
  }

  def repeatSetup[T](run: Run)(f: Int => T): (T, Seq[Double]) = {
    var last: Option[T] = None
    val times = (0 until SetupReps).map { i =>
      Harness.rmTree(run.opts.work.resolve(s"setup${i - 1}"))
      val t = System.nanoTime()
      last = Some(f(i))
      (System.nanoTime() - t) / 1e9
    }
    (last.get, times)
  }
}

/** Open loop: ticks land on a fixed schedule whatever the pipeline does;
  * one dashboard client reads in a closed loop beside the writes.
  */
object LiveTicks extends Workload {
  val TicksPerS = 1000
  val FilesPerS = 4
  /** The generator may run at most one file period late (p90) against its schedule. */
  val MaxLateS = 0.25
  /** Lag growth over the window, in seconds of input, that counts as a
    * growing backlog: a loop past its capacity falls behind steadily, while
    * a sustainable one only wobbles by a batch or two.
    */
  val MaxGrowthS = 2.0

  final case class Result(rows: Long, malformed: Long, maxEventUs: Long,
      files: IndexedSeq[Fresh.Landed], lateS: Seq[Double], dash: Seq[(String, Double)],
      pipeline: Medallion.Pipeline, landing: String, pendingFiles: Seq[(Double, Double)])

  def setup(run: Run, spark: SparkSession, rep: Int): LinearRegressionModel = {
    val (m, trainS, loadS) = Medallion.trainModel(run, spark, run.opts.seed, run.dir(s"setup$rep"))
    run.layer("ml.train_s") = trainS
    run.layer("ml.load_s") = loadS
    m
  }

  /** Run the loop at `rate` ticks/s for `seconds`, then drain it. */
  def measure(run: Run, spark: SparkSession, log: ProgressLog, model: LinearRegressionModel,
      rate: Int, seconds: Double, tag: String, dashboard: Boolean,
      scans: Option[ScanTally]): Result = {
    log.clear()
    val landing = run.dir(s"$tag/landing")
    val p = new Medallion.Pipeline(run, spark, landing, run.dir(s"$tag/bronze"),
      run.dir(s"$tag/silver"), run.dir(s"$tag/ckpt"), model, maxFiles = None)
    val gen = new TickGen(run.opts.seed, ticksPerFile = rate / FilesPerS, filePeriodS = 1.0 / FilesPerS)
    val tape = (0 until (seconds * FilesPerS).toInt).map(_ => gen.nextFile())
    p.start()
    val startNs = run.nowNs + 200000000L
    val landed = new ConcurrentLinkedQueue[(Fresh.Landed, Double)]()
    val stop = new AtomicBoolean(false)
    val generator = new Thread(() => tape.foreach { f =>
      val due = startNs + (f.index * 1e9 / FilesPerS).toLong
      val wait = due - run.nowNs
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      TickGen.land(Paths.get(landing), f)
      landed.add((Fresh.Landed(f.index, due, f.rows, f.maxEventUs), (run.nowNs - due) / 1e9))
    }, "lakebench-ticks")
    val dash = new ConcurrentLinkedQueue[(String, Double)]()
    val reader = new Thread(() => while (!stop.get) {
      val nowEv = gen.eventUsAt((run.nowNs - startNs) / 1e9)
      val reads = Medallion.dashboardPass(run, spark, p.bronze, p.silver, nowEv, scans)
      if (reads.isEmpty) Thread.sleep(50) else reads.foreach(dash.add)
    }, "lakebench-dashboard")
    generator.start()
    if (dashboard) reader.start()
    generator.join()
    stop.set(true)
    if (dashboard) reader.join()
    val files = landed.asScala.map(_._1).toIndexedSeq.sortBy(_.index)
    val rows = tape.map(_.rows.toLong).sum
    val maxEv = tape.map(_.maxEventUs).max
    run.check(s"$tag drained", p.drain(log, maxEv, timeoutS = 60))
    p.stop()
    // bronze lag in files: landed by the time of each bronze report minus committed
    var committed = 0L
    val pending = log.of("bronze").map { e =>
      committed += e.p.numInputRows
      val t = e.arrivedNs - run.t0Ns
      (t / 1e9, files.count(_.dueNs <= t) - committed.toDouble / (rate / FilesPerS))
    }.filter(_._1 <= (files.last.dueNs / 1e9))
    Result(rows, tape.map(_.malformed.toLong).sum, maxEv, files, landed.asScala.map(_._2).toSeq,
      dash.asScala.toSeq, p, landing, pending)
  }

  def bronzeBatches(run: Run, log: ProgressLog): Seq[Fresh.Batch] =
    log.of("bronze").map(_.p).filter(_.numInputRows > 0).map { p =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs
      val endMs = startMs + d.get("triggerExecution") - Option(d.get("commitOffsets")).map(_.longValue).getOrElse(0L)
      Fresh.Batch(p.batchId, p.numInputRows, run.wallMsToNs(endMs))
    }

  def silverSamples(run: Run, spark: SparkSession, r: Result): Seq[Stats.Sample] = {
    val commitNs = r.pipeline.silverCommits.asScala.map { case (b, _, ns) => b -> ns }.toMap
    val ends = TxLog.snapshot(spark, r.pipeline.silver).select("batch_id", "window_end").collect()
      .groupBy(_.getLong(0)).map { case (b, rs) => b -> rs.map(_.getTimestamp(1).getTime * 1000L).toSeq }
    val commits = ends.toSeq.flatMap { case (b, es) => commitNs.get(b).map(ns => (b, ns, es)) }
    val (samples, orphans) = Fresh.silver(r.files, commits, Medallion.WatermarkUs)
    run.check("silver windows attributable to a landed tick", orphans == 0, s"$orphans orphans")
    samples
  }

  /** Warm-up: run the loop over the training tape until silver commits,
    * and take one dashboard pass, so the measured window starts warm.
    */
  def warmUp(run: Run, spark: SparkSession, model: LinearRegressionModel, tape: String): Unit = {
    val p = new Medallion.Pipeline(run, spark, tape, run.dir("warm/bronze"),
      run.dir("warm/silver"), run.dir("warm/ckpt"), model, maxFiles = None)
    p.start()
    val deadline = System.nanoTime() + 60000000000L
    while (p.failure.isEmpty && p.silverCommits.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    Medallion.dashboardPass(run, spark, p.bronze, p.silver, Medallion.TapeEndUs, None)
    p.stop()
    run.check("warm-up loop committed to silver", !p.silverCommits.isEmpty)
  }

  def run(run: Run, spark: SparkSession, scans: Option[ScanTally]): Outcome = {
    val log = new ProgressLog
    spark.streams.addListener(log)
    val (model, setupS) = Workloads.repeatSetup(run)(i => setup(run, spark, i))
    val warmS = Workloads.timed(warmUp(run, spark, model, s"${run.dir(s"setup${Workloads.SetupReps - 1}")}/tape"))
    val r = measure(run, spark, log, model, TicksPerS, run.opts.seconds, "live", dashboard = true, scans)
    val bronze = Fresh.bronze(r.files, bronzeBatches(run, log))
    val silver = silverSamples(run, spark, r)
    run.pct("bronze_fresh_p50_s", bronze, 50)
    run.pct("bronze_fresh_p90_s", bronze, 90)
    run.pct("silver_fresh_p50_s", silver, 50)
    run.pct("silver_fresh_p90_s", silver, 90)
    val dash = r.dash.zipWithIndex.map { case ((_, s), i) => Stats.Sample(s, i.toLong) }
    run.pct("dash_read_p50_s", dash, 50)
    run.pct("dash_read_p90_s", dash, 90)
    val late = Stats.percentile(r.lateS, 90)
    run.layer("gen.ticks_offered") = r.rows.toDouble
    run.layer("gen.late_p90_s") = late
    if (late > MaxLateS) run.invalid += f"generator ran late: p90 $late%.3f s > $MaxLateS s"
    val growth = Stats.growth(r.pendingFiles) / FilesPerS
    val vGrowth = Stats.growth(Medallion.backlogVersions(log))
    run.say(f"backlog growth over the window: $growth%.2f s of input; $vGrowth%.2f bronze versions")
    if (growth > MaxGrowthS) run.invalid += f"backlog grew by $growth%.2f s of input"
    Medallion.checkOutputs(run, spark, r.pipeline, r.landing, r.rows, r.malformed, r.maxEventUs)
    Medallion.streamingLayers(run, log)
    run.layer("ingest.rows_parsed") = (r.rows - r.malformed).toDouble
    run.layer("ingest.rows_malformed") = r.malformed.toDouble
    reportReads(run, r.dash)
    reportCommits(run, r.pipeline)
    if (run.opts.trace) {
      restart(run, spark, log, r)
      sweepRates(run, spark, log, model)
    }
    spark.streams.removeListener(log)
    // the three user-visible delays, one sample per batch or read
    val kinds = Map("bronze" -> bronze, "silver" -> silver, "dashboard" -> dash)
      .map { case (k, xs) => k -> Stats.perGroup(xs).map(_.value) }
    // ticks through the whole loop per second: first file due to last silver commit
    val lastCommitNs = r.pipeline.silverCommits.asScala.map(_._3).max
    Outcome(kinds, r.rows / ((lastCommitNs - r.files.head.dueNs) / 1e9), setupS, warmS)
  }

  def reportReads(run: Run, reads: Seq[(String, Double)]): Unit =
    Seq("gold.rollup", "gold.ohlc", "analytics.sma", "analytics.rsi", "flagship.signal").foreach { n =>
      val xs = reads.filter(_._1 == n).map(_._2)
      run.layer(s"${n}_p50_s") = if (xs.isEmpty) 0.0 else Stats.median(xs)
    }

  def reportCommits(run: Run, p: Medallion.Pipeline): Unit = {
    val xs = p.commitLatency.asScala.map(_.doubleValue).toSeq
    if (xs.nonEmpty) {
      run.layer("sources.commit_p50_s") = Stats.percentile(xs, 50)
      run.layer("sources.commit_p90_s") = Stats.percentile(xs, 90)
    }
  }

  /** Traced run only: restart the drained loop from its checkpoints, land
    * one more file, and time until bronze has committed it.
    */
  def restart(run: Run, spark: SparkSession, log: ProgressLog, r: Result): Unit = {
    val extra = new TickGen(run.opts.seed + 1, TicksPerS / FilesPerS, 1.0 / FilesPerS).nextFile()
    val before = log.of("bronze").size
    val t = System.nanoTime()
    run.tracer("streaming.restart")(r.pipeline.start())
    TickGen.land(Paths.get(r.landing), extra.copy(index = r.files.size))
    def held = log.of("bronze").drop(before).exists(_.p.numInputRows > 0)
    while (r.pipeline.failure.isEmpty && !held) Thread.sleep(5)
    run.layer("streaming.restart_s") = (System.nanoTime() - t) / 1e9
    r.pipeline.stop()
  }

  /** Traced run only: the highest offered rate whose backlog stays flat. */
  def sweepRates(run: Run, spark: SparkSession, log: ProgressLog, model: LinearRegressionModel): Unit = {
    val flat = Seq(500, 1000, 2000, 4000).map { rate =>
      val r = measure(run, spark, log, model, rate, 5.0, s"sweep$rate", dashboard = false, None)
      val g = Stats.growth(r.pendingFiles) / FilesPerS
      run.say(f"rate sweep: $rate ticks/s, backlog growth $g%.2f s of input")
      rate -> (g <= MaxGrowthS)
    }
    run.layer("sustainable_ticks_per_s") =
      flat.takeWhile(_._2).lastOption.map(_._1.toDouble).getOrElse(0.0)
  }
}

/** Closed loop: a pre-landed backlog is drained by the same bronze and
  * silver code in large batches, stopped and restarted once from its
  * checkpoints, and finished with a gold rollup and a model fit over silver.
  */
object ReplayCatchup extends Workload {
  val Files = 120
  val TicksPerFile = 1000
  val MaxFilesPerTrigger = 20

  final case class Fixture(landing: String, model: LinearRegressionModel, rows: Long,
      malformed: Long, maxEventUs: Long)

  def setup(run: Run, spark: SparkSession, rep: Int): Fixture = {
    val model = LiveTicks.setup(run, spark, rep)
    val landing = run.dir(s"setup$rep/landing")
    val gen = new TickGen(run.opts.seed, TicksPerFile, filePeriodS = 1.0)
    val tape = (0 until Files).map { _ =>
      val f = gen.nextFile(); TickGen.land(Paths.get(landing), f); f
    }
    Fixture(landing, model, tape.map(_.rows.toLong).sum, tape.map(_.malformed.toLong).sum,
      tape.map(_.maxEventUs).max)
  }

  /** One full drain; returns its seconds and the pipeline. */
  def pass(run: Run, spark: SparkSession, log: ProgressLog, fx: Fixture, tag: String,
      restarts: mutable.Buffer[Double]): (Double, Medallion.Pipeline) = {
    log.clear()
    val t = System.nanoTime()
    val dirs = Seq("bronze", "silver", "ckpt").map(d => run.dir(s"$tag/$d"))
    def pipeline = new Medallion.Pipeline(run, spark, fx.landing, dirs(0), dirs(1), dirs(2),
      fx.model, Some(MaxFilesPerTrigger))
    val first = pipeline
    first.start()
    while (first.failure.isEmpty && first.bronzeRows(log) < fx.rows / 2) Thread.sleep(20)
    val r0 = System.nanoTime()
    first.stop()
    val seen = log.of("bronze").size
    val p = pipeline
    run.tracer("streaming.restart")(p.start())
    while (p.failure.isEmpty && log.of("bronze").size <= seen) Thread.sleep(5)
    restarts += (System.nanoTime() - r0) / 1e9
    run.check(s"$tag drained", p.drain(log, fx.maxEventUs, timeoutS = 120))
    p.stop()
    val silver = TxLog.snapshot(spark, p.silver)
    run.op("gold.GoldRollup.rollup")(
      GoldRollup.rollup(silver, "symbol", "processed_time", "average_price").collect())
    run.op("ml.PriceModel.train")(PriceModel.train(silver.select("volatility", "average_price")))
    ((System.nanoTime() - t) / 1e9, p)
  }

  def run(run: Run, spark: SparkSession, scans: Option[ScanTally]): Outcome = {
    val log = new ProgressLog
    spark.streams.addListener(log)
    val (fx, setupS) = Workloads.repeatSetup(run)(i => setup(run, spark, i))
    val restarts = mutable.Buffer.empty[Double]
    val passes = mutable.Buffer.empty[Double]
    val batches = mutable.Buffer.empty[Stats.Sample]
    var last: Option[Medallion.Pipeline] = None
    val start = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < run.opts.seconds) {
      val tag = s"pass${passes.size}"
      val (s, p) = pass(run, spark, log, fx, tag, restarts)
      passes += s
      val triggers = Seq("bronze", "silver").flatMap(q => log.of(q).map(_.p).filter(_.numInputRows > 0))
      batches ++= triggers.map(b => Stats.Sample(b.durationMs.get("triggerExecution") / 1e3, batches.size.toLong))
        .zipWithIndex.map { case (x, i) => x.copy(group = x.group + i) }
      last.foreach(prev => Harness.rmTree(Paths.get(prev.bronze).getParent))
      last = Some(p)
    }
    val rate = fx.rows * passes.size / passes.sum
    run.metric("replay_rows_per_s", rate, "1/s")
    run.say(f"replay_rows_per_s          $rate%.1f rows/s  (${passes.size} passes of ${fx.rows} ticks)")
    run.pct("replay_batch_p50_s", batches.toSeq, 50)
    Medallion.checkOutputs(run, spark, last.get, fx.landing, fx.rows, fx.malformed, fx.maxEventUs)
    Medallion.streamingLayers(run, log)
    run.layer("streaming.restart_s") = Stats.median(restarts.toSeq)
    run.layer("ingest.rows_parsed") = (fx.rows - fx.malformed).toDouble
    run.layer("ingest.rows_malformed") = fx.malformed.toDouble
    LiveTicks.reportCommits(run, last.get)
    if (run.opts.trace) singleThread(run, fx)
    spark.streams.removeListener(log)
    Outcome(Map("batch" -> batches.map(_.value).toSeq), rate, setupS)
  }

  /** Traced run only: the same drain at one local thread, for the
    * single-thread scaling ratio. Replaces the session, so it runs last.
    */
  def singleThread(run: Run, fx: Fixture): Unit = {
    val cores = SparkSession.active.sparkContext.defaultParallelism
    val multi = run.named.get("replay_rows_per_s").map(_._1).getOrElse(0.0)
    SparkSession.active.stop()
    val one = Harness.session(1, run.opts.work)
    val log = new ProgressLog
    one.streams.addListener(log)
    val (s, _) = pass(run, one, log, fx, "single", mutable.Buffer.empty)
    val rate1 = fx.rows / s
    run.layer("replay.rows_per_s_local1") = rate1
    run.layer("replay.scaling_ratio") = if (rate1 > 0) multi / rate1 else 0.0
    run.say(f"replay at local[1]: $rate1%.1f rows/s; local[$cores]/local[1] = ${multi / rate1}%.2f")
  }
}

/** Closed loop, one client: DML and multi-format reads on a trades table
  * whose commits are mirrored to Delta and published to Iceberg.
  */
object TableUpkeep extends Workload {
  val InitialRows = 20000
  val AppendRows = 1000
  val MergeRows = 50
  val DeleteRows = 20
  /** Every 2nd cycle, from the first, so that a run of a few cycles still compacts. */
  val OptimizeEvery = 2

  /** The benchmark's own model of the table: price (in 1e-4 units) by id. */
  final class Expected {
    val price = mutable.LinkedHashMap.empty[Long, Long]
    /** version -> (rows, sum of price units, inserts, postimages, deletes) */
    val at = mutable.Map.empty[Long, (Long, Long, Long, Long, Long)]
    def record(v: Long, ins: Long, upd: Long, del: Long): Unit =
      at(v) = (price.size.toLong, price.values.sum, ins, upd, del)
  }

  final case class Fixture(dir: String, exp: Expected, rnd: SplittableRandom, var nextId: Long)

  def trades(spark: SparkSession, rows: Seq[(Long, Long)], rnd: SplittableRandom): DataFrame = {
    import spark.implicits._
    rows.map { case (id, p) =>
      (id, f"SYM${(id % 20).toInt}%02d", p / 1e4, 1 + rnd.nextInt(100), new java.sql.Timestamp(1735689600000L + id * 1000))
    }.toDF("trade_id", "symbol", "price", "quantity", "ts")
  }

  def setup(run: Run, spark: SparkSession, base: String): Fixture = {
    val dir = run.dir(s"$base/trades")
    val rnd = new SplittableRandom(run.opts.seed)
    val exp = new Expected
    val rows = (0 until InitialRows).map(i => i.toLong -> (100000L + rnd.nextInt(900000)))
    val v = TxLog.commitAppend(trades(spark, rows, rnd), dir)
    rows.foreach { case (i, p) => exp.price(i) = p }
    exp.record(v, rows.size, 0, 0)
    val v2 = TxLog.setTableProperties(spark, dir,
      Map("delta.enableDeletionVectors" -> "true", "delta.enableChangeDataFeed" -> "true"))
    exp.record(v2, 0, 0, 0)
    IcebergLog.mirror(spark, dir)
    Fixture(dir, exp, rnd, InitialRows.toLong)
  }

  private def sample(rnd: SplittableRandom, ids: IndexedSeq[Long], n: Int): Seq[Long] =
    Iterator.continually(ids(rnd.nextInt(ids.size))).distinct.take(n).toSeq

  /** Operations as they ran: (name, seconds), and rows written. */
  final class OpLog {
    val writes = mutable.Buffer.empty[(String, Double)]
    val reads = mutable.Buffer.empty[(String, Double)]
    var rowsChanged = 0L
  }

  private def agg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum(round(col("price") * 10000).cast("long")), lit(0L)))

  /** Run upkeep cycles until `open` turns false (checked before every
    * operation) or `maxCycles` have run; returns the cycles started.
    */
  def cycles(run: Run, spark: SparkSession, fx: Fixture, open: () => Boolean, maxCycles: Int,
      log: OpLog, scans: Option[ScanTally]): Int = {
    val exp = fx.exp
    def w[T](name: String)(f: => T): Option[T] =
      if (!open()) None
      else run.op(s"sources.$name")(f).map { case (r, s) => log.writes += name -> s; r }
    def r(name: String)(df: => DataFrame): Option[Seq[org.apache.spark.sql.Row]] =
      if (!open()) None
      else run.op(s"sources.$name") { val d = df; val rows = d.collect().toSeq; scans.foreach(_.add(d)); rows }
        .map { case (rows, s) => log.reads += name -> s; rows }
    def same(what: String, rows: Option[Seq[org.apache.spark.sql.Row]], want: (Long, Long)): Unit =
      rows.foreach { rs =>
        val got = (rs.head.getLong(0), rs.head.getLong(1))
        run.check(what, got == want, s"$got != $want")
      }
    var cycle = 0
    while (open() && cycle < maxCycles) {
      val live = exp.price.keys.toIndexedSeq
      val add = (0 until AppendRows).map(i => (fx.nextId + i) -> (100000L + fx.rnd.nextInt(900000)))
      w("append")(TxLog.commitAppend(trades(spark, add, fx.rnd), fx.dir)).foreach { v =>
        add.foreach { case (i, p) => exp.price(i) = p }
        exp.record(v, add.size, 0, 0)
        log.rowsChanged += add.size
      }
      fx.nextId += AppendRows
      val fix = sample(fx.rnd, live, MergeRows).map(i => i -> (exp.price(i) + 1 + fx.rnd.nextInt(1000)))
      w("merge_dv")(TxLog.mergeIntoDv(spark, fx.dir, trades(spark, fix, fx.rnd), Seq("trade_id"))).foreach { res =>
        fix.foreach { case (i, p) => exp.price(i) = p }
        exp.record(res.version, 0, fix.size, 0)
        log.rowsChanged += fix.size
      }
      val cancel = sample(fx.rnd, live.filterNot(fix.map(_._1).toSet), DeleteRows)
      w("delete_dv")(TxLog.deleteWhereDv(spark, fx.dir, col("trade_id").isin(cancel: _*))).foreach { res =>
        cancel.foreach(exp.price.remove)
        exp.record(res.version, 0, 0, cancel.size)
        log.rowsChanged += cancel.size
      }
      if (cycle % OptimizeEvery == 0)
        w("optimize")(TxLog.optimize(spark, fx.dir)).foreach(res => exp.record(res.version, 0, 0, 0))
      w("iceberg_publish")(IcebergLog.mirror(spark, fx.dir))
      val v = TxLog.currentVersion(fx.dir).get
      val want = (exp.price.size.toLong, exp.price.values.sum)
      same(s"native read at v$v", r("read_native")(agg(TxLog.snapshot(spark, fx.dir))), want)
      same(s"delta read at v$v", r("read_delta")(agg(DeltaLog.snapshot(spark, fx.dir))), want)
      same(s"iceberg read at v$v", r("read_iceberg")(agg(IcebergLog.snapshot(spark, fx.dir))), want)
      val back = v - 5
      exp.at.get(back).foreach { case (n, sum, _, _, _) =>
        same(s"time travel to v$back", r("time_travel")(agg(TxLog.snapshotAt(spark, fx.dir, back))), (n, sum))
        r("cdf")(TxLog.changeFeed(spark, fx.dir, back, v).groupBy("_change_type").count()).foreach { rs =>
          val got = rs.map(x => x.getString(0) -> x.getLong(1)).toMap
          val range = (back + 1 to v).flatMap(exp.at.get)
          val want = Map("insert" -> range.map(_._3).sum, "update_postimage" -> range.map(_._4).sum,
            "delete" -> range.map(_._5).sum).filter(_._2 > 0)
          run.check(s"change feed v$back..v$v", got.filter(_._1 != "update_preimage") == want, s"$got != $want")
        }
      }
      cycle += 1
    }
    cycle
  }

  def run(run: Run, spark: SparkSession, scans: Option[ScanTally]): Outcome = {
    val (fx, setupS) = Workloads.repeatSetup(run)(i => setup(run, spark, s"setup$i"))
    // warm-up: one full cycle on the measured table, so the window starts warm
    val warmS = Workloads.timed(cycles(run, spark, fx, () => true, 1, new OpLog, None))
    val log = new OpLog
    val start = System.nanoTime()
    val n = cycles(run, spark, fx, () => (System.nanoTime() - start) / 1e9 < run.opts.seconds,
      Int.MaxValue, log, scans)
    val elapsed = (System.nanoTime() - start) / 1e9
    // full-row comparison of the final table with the benchmark's own model
    val rows = TxLog.snapshot(spark, fx.dir).select(col("trade_id"), round(col("price") * 10000).cast("long"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    run.check("final table equals expected rows", rows == fx.exp.price.toMap,
      s"${rows.size} rows vs ${fx.exp.price.size} expected")
    def pcts(xs: Seq[(String, Double)], prefix: String): Unit = {
      val s = xs.zipWithIndex.map { case ((_, v), i) => Stats.Sample(v, i.toLong) }
      run.pct(s"${prefix}_p50_s", s, 50)
      run.pct(s"${prefix}_p90_s", s, 90)
    }
    pcts(log.writes.toSeq, "upkeep_write")
    pcts(log.reads.toSeq, "upkeep_read")
    def med(buf: mutable.Buffer[(String, Double)], n: String): Double = {
      val xs = buf.filter(_._1 == n).map(_._2).toSeq
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    Seq("append", "merge_dv", "delete_dv", "optimize", "iceberg_publish").foreach(n =>
      run.layer(s"sources.${n}_p50_s") = med(log.writes, n))
    Seq("read_native", "read_delta", "read_iceberg", "time_travel", "cdf").foreach(n =>
      run.layer(s"sources.${n}_p50_s") = med(log.reads, n))
    val wl = log.writes.map(_._2).toSeq
    if (wl.nonEmpty) {
      run.layer("sources.commit_p50_s") = Stats.percentile(wl, 50)
      run.layer("sources.commit_p90_s") = Stats.percentile(wl, 90)
    }
    val versions = TxLog.currentVersion(fx.dir).get.toDouble
    val (txFiles, txBytes) = Harness.dirBytes(s"${fx.dir}/_txlog")
    val (dFiles, dBytes) = Harness.dirBytes(s"${fx.dir}/_delta_log")
    val (iFiles, iBytes) = Harness.dirBytes(s"${fx.dir}/metadata")
    run.layer("sources.log_bytes_per_commit.txlog") = txBytes / versions
    run.layer("sources.log_bytes_per_commit.delta") = dBytes / versions
    run.layer("sources.log_bytes_per_commit.iceberg") = iBytes / versions
    run.layer("sources.log_files_per_commit") = (txFiles + dFiles + iFiles) / versions
    val (_, allBytes) = Harness.dirBytes(fx.dir)
    val liveBytes = TxLog.snapshot(spark, fx.dir).inputFiles.map(f =>
      Files.size(Paths.get(new java.net.URI(f)))).sum
    run.layer("sources.write_amp") = if (liveBytes > 0) allBytes.toDouble / liveBytes else 0.0
    run.say(f"upkeep: $n cycles, ${log.writes.size} writes, ${log.reads.size} reads in $elapsed%.1f s")
    val kinds = (log.writes ++ log.reads).groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSeq }
    // rows a full cycle changes over the time a full cycle takes, both at the medians
    val cycleS = kinds.map { case (k, xs) => Stats.lowMedian(xs) / (if (k == "optimize") OptimizeEvery else 1) }.sum
    Outcome(kinds, (AppendRows + MergeRows + DeleteRows) / cycleS, setupS, warmS)
  }
}

/** Closed loop: repeated sweeps of the LLM-data batch jobs over a
  * seed-drawn corpus, with the query memos evicted between sweeps. It
  * touches no streaming or table code: the no-change control for
  * lakehouse optimisations.
  */
object CorpusCuration extends Workload {
  /** sf0.02-sized (the program's sf0.1 tables hold 5,000 and 2,000): small
    * enough that one short run still calls every stage several times.
    */
  val Docs = 1000
  val Vectors = 400

  final case class Fixture(docs: DataFrame, vecs: DataFrame)

  def setup(run: Run, spark: SparkSession, base: String): Fixture = {
    import spark.implicits._
    val dir = run.dir(base)
    CorpusGen.docs(run.opts.seed, Docs).toDF().write.parquet(s"$dir/documents.parquet")
    CorpusGen.vectors(run.opts.seed, Vectors).toDF().write.parquet(s"$dir/embeddings.parquet")
    Fixture(spark.read.parquet(s"$dir/documents.parquet"), spark.read.parquet(s"$dir/embeddings.parquet"))
  }

  private def digest(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    java.security.MessageDigest.getInstance("MD5").digest(rows.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** One sweep, stopping early once `open` turns false: stage name ->
    * (seconds, result digest) per stage run.
    */
  def sweep(run: Run, fx: Fixture, open: () => Boolean = () => true): Seq[(String, Double, String)] = {
    Caches.clearQueryMemos()
    Seq[(String, String, () => DataFrame)](
      ("curation", "ext.Curation.curationPipeline", () => Curation.curationPipeline(fx.docs)),
      ("near_dup", "ext.Dedup.nearDupPairs", () => Dedup.nearDupPairs(fx.docs)),
      ("bpe_train", "ext.TextOps.bpeTrainBatched", () => TextOps.bpeTrainBatched(fx.docs)),
      ("ivfpq", "ext.Similarity.ivfPqTopK", () => Similarity.ivfPqTopK(fx.vecs))
    ).filter(_ => open()).flatMap { case (name, span, f) =>
      run.op(span)(digest(f())).map { case (d, s) => (name, s, d) }
    }
  }

  def run(run: Run, spark: SparkSession, scans: Option[ScanTally]): Outcome = {
    val (fx, setupS) = Workloads.repeatSetup(run)(i => setup(run, spark, s"setup$i"))
    // warm-up: two sweeps, for JIT and codegen (stage times still fall
    // sweep over sweep after one)
    var warm: Seq[(String, Double, String)] = Nil
    val warmS = Workloads.timed { warm = sweep(run, fx) ++ sweep(run, fx) }
    val sweeps = mutable.Buffer.empty[Seq[(String, Double, String)]]
    val start = System.nanoTime()
    val open = () => (System.nanoTime() - start) / 1e9 < run.opts.seconds
    while (open()) sweeps += sweep(run, fx, open)
    val byStage = sweeps.flatten.groupBy(_._1)
    (warm ++ sweeps.flatten).groupBy(_._1).foreach { case (n, xs) =>
      run.check(s"$n result stable across sweeps", xs.map(_._3).distinct.size == 1,
        s"${xs.map(_._3).distinct.size} distinct digests")
    }
    val stages = Seq("curation", "near_dup", "bpe_train", "ivfpq").map { n =>
      val med = byStage.get(n).map(xs => Stats.lowMedian(xs.map(_._2).toSeq)).getOrElse(0.0)
      run.layer(s"ext.${n}_s") = med
      med
    }
    // a sweep is the sum of its stages' medians: the window may end mid-sweep
    run.metric("corpus_sweep_s", stages.sum, "s")
    run.say(f"corpus_sweep_s             ${stages.sum}%.4f s  (${sweeps.flatten.size} stage calls)")
    Outcome(byStage.map { case (k, xs) => k -> xs.map(_._2).toSeq }, Docs / stages.sum, setupS, warmS)
  }
}
