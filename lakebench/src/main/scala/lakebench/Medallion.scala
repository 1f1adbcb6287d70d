package lakebench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.regression.LinearRegressionModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Flagship
import graft.analytics.Indicators
import graft.gold.GoldRollup
import graft.ingest.Bronze
import graft.ml.PriceModel
import graft.silver.SilverAgg
import graft.sources.TxLog
import graft.streaming.Streams

/** The medallion loop as a trading desk runs it: ticks land as JSON files,
  * a bronze query parses and commits them, a silver query windows them,
  * fills nulls, predicts and commits, and dashboards read gold and
  * indicators while writes go on.
  */
object Medallion {
  /** The silver transform's watermark delay (`Streams.silverTransform`). */
  val WatermarkUs: Long = 60L * 1000000L

  /** State stores for the windowed silver query: the value the program's
    * own end-to-end stream runs use (`Streams.statePartitions`).
    */
  val StatePartitions = 2

  /** Landed ticks as plain batch trades, for the output checks. */
  def landedTrades(spark: SparkSession, landing: String): DataFrame =
    Bronze.parseTrades(spark.read.format("text").load(landing))

  def asEvents(trades: DataFrame): DataFrame =
    trades.filter(col("symbol").isNotNull)
      .select(col("timestamp").as("ts"), col("symbol").as("event_type"), col("price").as("value"))

  def flatBars(bars: DataFrame): DataFrame =
    bars.select(col("w.start").as("window_start"), col("w.end").as("window_end"),
      col("event_type").as("symbol"), col("volatility"), col("average_price"),
      col("processed_time"))

  private val TapeFiles = 20
  private val TapeFilePeriodS = 0.5
  /** Event time the training tape ends at. */
  val TapeEndUs: Long = TickGen.BaseUs + (TapeFiles * TapeFilePeriodS * 60 * 1e6).toLong

  /** The model the silver query applies: OLS on batch silver bars of a
    * separate training tape. Returns (model, train seconds, save+load
    * seconds).
    */
  def trainModel(run: Run, spark: SparkSession, seed: Long, dir: String)
      : (LinearRegressionModel, Double, Double) = {
    val gen = new TickGen(seed ^ 0x7F4A7C15L, ticksPerFile = 500, filePeriodS = TapeFilePeriodS)
    Files.createDirectories(Paths.get(dir, "tape"))
    (0 until TapeFiles).foreach(_ => TickGen.land(Paths.get(dir, "tape"), gen.nextFile()))
    val bars = flatBars(SilverAgg.silverBars(asEvents(landedTrades(spark, s"$dir/tape")),
      "ts", "event_type", "value"))
    val t0 = System.nanoTime()
    val m = run.tracer("ml.PriceModel.train")(PriceModel.train(bars))
    val t1 = System.nanoTime()
    val loaded = run.tracer("ml.PriceModel.saveAndLoad")(PriceModel.saveAndLoad(m, s"$dir/model"))
    (loaded, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  /** Bronze and silver as two long-running queries with back-to-back
    * triggers. Silver commits record (batch id, version, commit time); the
    * batch id also rides each silver row so windows map back to commits.
    */
  final class Pipeline(run: Run, spark: SparkSession, landing: String, val bronze: String,
      val silver: String, ckpt: String, model: LinearRegressionModel, maxFiles: Option[Int]) {
    val silverCommits = new ConcurrentLinkedQueue[(Long, Long, Long)]() // (batch, version, ns)
    val commitLatency = new ConcurrentLinkedQueue[java.lang.Double]()
    private var queries: Seq[StreamingQuery] = Nil

    def start(): Unit = {
      // the bronze table exists before either query starts: silver tails it
      if (TxLog.currentVersion(bronze).isEmpty)
        TxLog.commitAppend(Bronze.parseTrades(spark.range(0).select(lit("").as("value"))), bronze)
      val raw = maxFiles.foldLeft(spark.readStream.format("text"))(
        (r, n) => r.option("maxFilesPerTrigger", n.toLong)).load(landing)
      val bq = run.tracer("ingest.Bronze.parseTrades")(Bronze.parseTrades(raw))
        .writeStream.format("graft-txlog").queryName("bronze")
        .option("path", bronze).option("checkpointLocation", s"$ckpt/bronze")
        .option("txnAppId", "lakebench-bronze")
        .trigger(Trigger.ProcessingTime(0L)).start()
      val src = maxFiles.foldLeft(spark.readStream.format("graft-txlog").option("path", bronze))(
        (r, n) => r.option("maxFilesPerTrigger", n.toLong)).load()
      val bars = flatBars(run.tracer("streaming.Streams.silverTransform")(
        Streams.silverTransform(asEvents(src))))
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
      val sq = try bars.writeStream.outputMode("append").queryName("silver")
        .option("checkpointLocation", s"$ckpt/silver")
        .trigger(Trigger.ProcessingTime(0L))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          if (!batch.isEmpty) { // the reference's empty-batch guard
            val out = PriceModel.withPrediction(batch.na.fill(0.0, Seq("volatility")), Some(model))
              .withColumn("batch_id", lit(id))
            val t = System.nanoTime()
            TxLog.commitAppendOnce(out, silver, "lakebench-silver", id).foreach { v =>
              commitLatency.add((System.nanoTime() - t) / 1e9)
              silverCommits.add((id, v, run.nowNs))
            }
          }
        }.start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      queries = Seq(bq, sq)
    }

    def stop(): Unit = { queries.foreach(_.stop()); queries.foreach(_.awaitTermination()); queries = Nil }

    def failure: Option[String] = queries.flatMap(_.exception).headOption.map(_.toString)

    /** Rows bronze has committed so far, from its progress reports. */
    def bronzeRows(log: ProgressLog): Long = log.of("bronze").map(_.p.numInputRows).sum

    /** Wait until silver has run a batch at the final watermark (newest
      * event time − the delay). Files land in order and the newest tick is
      * in the last one, so by then bronze holds every file and silver has
      * committed every window that watermark closes. False on timeout or
      * failure.
      */
    def drain(log: ProgressLog, maxEventUs: Long, timeoutS: Double): Boolean = {
      val finalMs = Math.floorDiv(maxEventUs, 1000L) - WatermarkUs / 1000
      def reached = log.of("silver").exists(e =>
        Option(e.p.eventTime.get("watermark")).exists(w => java.time.Instant.parse(w).toEpochMilli >= finalMs))
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (System.nanoTime() < deadline && failure.isEmpty && !reached) Thread.sleep(20)
      failure.foreach(f => run.say(s"stream failed: $f"))
      failure.isEmpty && reached
    }
  }

  /** Windows the final watermark has closed, given the newest event time. */
  def closedBatchBars(trades: DataFrame, maxEventUs: Long): DataFrame =
    flatBars(SilverAgg.silverBars(asEvents(trades), "ts", "event_type", "value"))
      .filter(col("window_end") <= lit(new java.sql.Timestamp((maxEventUs - WatermarkUs) / 1000)))

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Output checks shared by the live and replay workloads: bronze row and
    * malformed counts equal the generated counts; the silver windows equal
    * `SilverAgg.silverBars` in batch over the same ticks; the gold rollup
    * over silver equals its batch recomputation.
    */
  def checkOutputs(run: Run, spark: SparkSession, p: Pipeline, landing: String,
      rows: Long, malformed: Long, maxEventUs: Long): Unit = {
    val b = TxLog.snapshot(spark, p.bronze)
      .agg(count(lit(1)), count(when(col("symbol").isNull, 1))).head()
    run.check("bronze rows", b.getLong(0) == rows, s"${b.getLong(0)} != $rows")
    run.check("bronze malformed rows", b.getLong(1) == malformed, s"${b.getLong(1)} != $malformed")

    val expected = closedBatchBars(landedTrades(spark, landing), maxEventUs).cache()
    val silver = TxLog.snapshot(spark, p.silver).cache()
    def keyed(df: DataFrame): Map[(java.sql.Timestamp, String), Row] =
      df.select("window_start", "symbol", "volatility", "average_price").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r).toMap
    val e = keyed(expected)
    val s = keyed(silver)
    val silverRows = silver.count()
    run.check("silver windows unique", silverRows == s.size, s"$silverRows rows, ${s.size} keys")
    val bad = e.keySet.union(s.keySet).count { k =>
      (e.get(k), s.get(k)) match {
        case (Some(x), Some(y)) => !close(x.getDouble(2), y.getDouble(2)) || !close(x.getDouble(3), y.getDouble(3))
        case _ => true
      }
    }
    run.check("silver windows equal batch silverBars", bad == 0,
      s"$bad of ${e.size} windows differ (silver has ${s.size})")

    def gold(df: DataFrame): Map[(String, java.sql.Timestamp), Row] =
      GoldRollup.rollup(df, "symbol", "processed_time", "average_price").collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) -> r).toMap
    val gs = gold(silver)
    val ge = gold(expected)
    val goldBad = ge.keySet.union(gs.keySet).count { k =>
      (ge.get(k), gs.get(k)) match {
        case (Some(x), Some(y)) => (2 to 4).exists(i => math.abs(x.getDouble(i) - y.getDouble(i)) > 2e-6) ||
          x.getLong(5) != y.getLong(5)
        case _ => true
      }
    }
    run.check("gold rollup equals batch recomputation", goldBad == 0, s"$goldBad of ${ge.size} rows differ")
    run.layer("silver.windows_emitted") = silverRows.toDouble
    expected.unpersist(); silver.unpersist()
  }

  /** Streaming phase medians and state figures from progress reports. */
  def streamingLayers(run: Run, log: ProgressLog): Unit = {
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Seq("bronze", "silver").foreach { q =>
      val ps = log.of(q).map(_.p)
      val data = ps.filter(_.numInputRows > 0)
      run.layer(s"streaming.$q.batches") = ps.size.toDouble
      run.layer(s"streaming.$q.rows_per_batch_p50") = med(data.map(_.numInputRows.toDouble))
      run.layer(s"streaming.$q.trigger_p50_s") = med(ps.map(d(_, "triggerExecution")))
      run.layer(s"streaming.$q.plan_p50_s") = med(ps.map(d(_, "queryPlanning")))
      run.layer(s"streaming.$q.offsets_p50_s") = med(ps.map(p => d(p, "latestOffset") + d(p, "getBatch")))
      run.layer(s"streaming.$q.add_batch_p50_s") = med(ps.map(d(_, "addBatch")))
      run.layer(s"streaming.$q.wal_p50_s") = med(ps.map(p => d(p, "walCommit") + d(p, "commitOffsets")))
    }
    val silver = log.of("silver").map(_.p)
    run.layer("streaming.silver.nodata_batches") = silver.count(_.numInputRows == 0).toDouble
    val st = silver.flatMap(_.stateOperators.headOption)
    run.layer("streaming.silver.state_rows") = st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    run.layer("streaming.silver.state_mb") =
      st.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0)
    run.layer("streaming.silver.state_commit_p50_s") = med(st.map(_.commitTimeMs / 1e3))
    run.layer("streaming.silver.rows_dropped_late") = st.map(_.numRowsDroppedByWatermark).sum.toDouble
    val backlog = backlogVersions(log)
    run.layer("streaming.backlog_versions_max") = backlog.map(_._2).maxOption.getOrElse(0.0)
    run.layer("streaming.backlog_versions_end") = backlog.lastOption.map(_._2).getOrElse(0.0)
  }

  /** Bronze head minus the silver source's committed offset, per silver
    * progress report: (arrival s, versions behind).
    */
  def backlogVersions(log: ProgressLog): Seq[(Double, Double)] =
    log.of("silver").flatMap { e =>
      e.p.sources.headOption.flatMap { s =>
        for {
          head <- Option(s.latestOffset).flatMap(_.trim.toLongOption)
          at <- Option(s.endOffset).flatMap(_.trim.toLongOption)
        } yield (e.arrivedNs / 1e9, (head - at).toDouble)
      }
    }

  /** One dashboard pass over the newest 30 event-minutes: gold rollup,
    * SMA and RSI over silver; OHLC bars and the flagship silver-to-signal
    * query over bronze ticks. Returns
    * (read name, seconds) per read that succeeded.
    */
  def dashboardPass(run: Run, spark: SparkSession, bronze: String, silver: String,
      nowEventUs: Long, scans: Option[ScanTally]): Seq[(String, Double)] = {
    val cutoff = lit(new java.sql.Timestamp((nowEventUs - 30L * 60 * 1000000) / 1000))
    def timed(name: String, span: String)(df: => DataFrame): Option[(String, Double)] =
      run.op(span) {
        val d = df
        d.collect()
        scans.foreach(_.add(d))
      }.map { case (_, s) => name -> s }
    if (TxLog.currentVersion(silver).isEmpty || TxLog.currentVersion(bronze).isEmpty) return Nil
    def recentSilver = TxLog.snapshot(spark, silver).filter(col("window_end") >= cutoff)
    def recentTicks = TxLog.snapshot(spark, bronze)
      .filter(col("symbol").isNotNull && col("timestamp") >= cutoff)
      .select(xxhash64(col("symbol"), col("timestamp"), col("price"), col("quantity")).as("event_id"),
        col("timestamp").as("ts"), col("symbol").as("event_type"), col("price").as("value"))
    def silverEvents = recentSilver.select(xxhash64(col("symbol"), col("window_start")).as("event_id"),
      col("window_start").as("ts"), col("symbol").as("event_type"), col("average_price").as("value"))
    Seq(
      timed("gold.rollup", "gold.GoldRollup.rollup")(
        GoldRollup.rollup(recentSilver, "symbol", "processed_time", "average_price")),
      timed("analytics.sma", "analytics.Indicators.sma")(Indicators.sma(silverEvents)),
      timed("analytics.rsi", "analytics.Indicators.rsi")(Indicators.rsi(silverEvents)),
      timed("gold.ohlc", "gold.GoldRollup.ohlcBars")(GoldRollup.ohlcBars(recentTicks)),
      timed("flagship.signal", "Flagship.silverToSignal")(Flagship.silverToSignal(recentTicks))
    ).flatten
  }
}

/** Running totals of files read and pruned by traced reads. */
final class ScanTally {
  private var reads = 0L
  private var read = 0L
  private var pruned = 0L
  def add(df: DataFrame): Unit = synchronized {
    val (r, p) = ScanStats.of(df)
    reads += 1; read += r; pruned += p
  }
  def report(run: Run): Unit = synchronized {
    run.layer("sources.files_read_per_read") = if (reads == 0) 0.0 else read.toDouble / reads
    run.layer("sources.files_pruned_per_read") = if (reads == 0) 0.0 else pruned.toDouble / reads
  }
}
