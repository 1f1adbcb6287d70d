package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streams

/** Structured Streaming semantics (SURVEY §2.8, T1–T8): MemoryStream
  * driven micro-batches, watermark late-drop, update-mode re-emission,
  * and stream/batch parity of the shared silver transform.
  */
class StreamingSpec extends SparkSpec {

  private def ts(m: Int, sec: Int = 0) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:$sec%02d")

  case class Ev(ts: Timestamp, event_type: String, value: Double)
  case class E(event_id: Long, ts: Timestamp, value: Double)
  case class UE(user_id: Long, ts: Timestamp, value: Double)

  test("T2/T8: windowed agg over a MemoryStream emits per-window bars (update mode)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.silverTransform(mem.toDF())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("silver_update").start()
    try {
      mem.addData(Ev(ts(0, 10), "a", 10.0), Ev(ts(0, 20), "a", 20.0))
      q.processAllAvailable()
      val rows1 = s.table("silver_update").collect()
      assert(rows1.nonEmpty)
      // sliding 1-min/30-s window: each event lands in exactly 2 windows
      val aWindows = s.table("silver_update").select("w").distinct().count()
      assert(aWindows == 2)
      // update mode: a later event in the same window re-emits that window
      mem.addData(Ev(ts(0, 25), "a", 30.0))
      q.processAllAvailable()
      val rows2 = s.table("silver_update")
        .groupBy("w").count().filter(col("count") > 1).count()
      assert(rows2 >= 1, "updated window should be re-emitted (T4 semantics)")
    } finally q.stop()
  }

  test("T1/T7: rows later than the watermark are dropped from append output") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.silverTransform(mem.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("silver_append").start()
    try {
      mem.addData(Ev(ts(0), "a", 1.0))
      q.processAllAvailable()
      // advance event time far past the first window + watermark
      mem.addData(Ev(ts(10), "a", 2.0))
      q.processAllAvailable()
      // late row: event-time long before the watermark => dropped
      mem.addData(Ev(ts(0, 30), "a", 999.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(20), "a", 3.0))
      q.processAllAvailable()
      val closed = s.table("silver_append")
        .filter(col("w.start") === ts(0) && col("event_type") === "a")
        .select("average_price").collect().map(_.getDouble(0))
      assert(closed.nonEmpty, "first window should have closed via watermark")
      assert(closed.forall(_ == 1.0), s"late row must not contribute (got ${closed.toSeq})")
    } finally q.stop()
  }

  test("stream-static enrichment: dimension joins every micro-batch, no state store") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Ev]
    val dim = Seq(("a", 2.0), ("b", 10.0)).toDF("event_type", "weight")
    val q = mem.toDF().join(broadcast(dim), Seq("event_type"))
      .select(col("event_type"), col("value") * col("weight") as "wv")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("enrich_mem").start()
    try {
      mem.addData(Ev(ts(0), "a", 1.0), Ev(ts(1), "b", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(2), "a", 3.0), Ev(ts(3), "c", 9.0)) // 'c': no dim row
      q.processAllAvailable()
      val out = s.table("enrich_mem").collect()
        .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
      // inner join drops the unmatched type; both batches joined the dim
      assert(out == Seq(("a", 2.0), ("a", 6.0), ("b", 10.0)))
      // no stateful operator anywhere in the executed micro-batch plan
      assert(!q.lastProgress.toString.contains("stateOperators\" : [ {"),
        "stream-static join must not create state")
    } finally q.stop()
  }

  test("streaming OHLC: a bar split across micro-batches merges open/high/low/close") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[E]
    val pick = struct(col("ts").as("t"), col("event_id").as("i"), col("value").as("v"))
    val bars = mem.toDF()
      .groupBy(window(col("ts"), "1 minute").as("w"))
      .agg(min(pick).getField("v").as("open"), max(col("value")).as("high"),
        min(col("value")).as("low"), max(pick).getField("v").as("close"),
        count(lit(1)).as("n"))
    val q = bars.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("ohlc_mem").start()
    try {
      // batch 1: the LATER trade of the window arrives FIRST
      mem.addData(E(2L, ts(0, 30), 20.0))
      q.processAllAvailable()
      // batch 2: the opening trade and the low arrive later
      mem.addData(E(1L, ts(0, 10), 10.0), E(3L, ts(0, 50), 5.0))
      q.processAllAvailable()
      val r = s.table("ohlc_mem").collect().head
      assert(r.getDouble(1) == 10.0, "open = earliest (ts, event_id), across batches")
      assert(r.getDouble(2) == 20.0 && r.getDouble(3) == 5.0)
      assert(r.getDouble(4) == 5.0, "close = latest (ts, event_id), across batches")
      assert(r.getLong(5) == 3L)
    } finally q.stop()
  }

  test("spaceSaving sketch state runs on the RocksDB store across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    val mem = MemoryStream[UE]
    val counts = mem.toDF().select(col("user_id"), lit(0).as("b"))
      .as[(Long, Int)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Map[Long, Long], (Long, Long)](
        OM.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[Map[Long, Long]]) =>
          var m = state.getOption.getOrElse(Map.empty[Long, Long])
          rows.foreach { case (u, _) => m = Streams.spaceSavingStep(m, u, 4) }
          state.update(m)
          m.iterator
      }.toDF("user_id", "cnt")
    val q = counts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("topk_rocks").start()
    try {
      mem.addData(UE(1L, ts(0), 1.0), UE(1L, ts(1), 1.0))
      q.processAllAvailable()
      mem.addData(UE(1L, ts(2), 1.0), UE(2L, ts(3), 1.0))
      q.processAllAvailable()
      // Map state round-trips the RocksDB store: counts accumulate
      val last = s.table("topk_rocks").groupBy("user_id")
        .agg(max("cnt").as("cnt")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(last == Map(1L -> 3L, 2L -> 1L), s"got $last")
    } finally {
      q.stop()
      prev.fold(s.conf.unset(key))(v => s.conf.set(key, v))
    }
  }

  test("spaceSaving: exact below capacity, bounded state + retained heavies past it") {
    // exact regime: distinct keys <= capacity
    val exact = Seq(1L, 1L, 2L, 3L, 1L).foldLeft(Map.empty[Long, Long])(
      (m, u) => Streams.spaceSavingStep(m, u, capacity = 4))
    assert(exact == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    // eviction regime: capacity 2, newcomer adopts evicted-min + 1
    val s1 = Seq(1L, 1L, 2L).foldLeft(Map.empty[Long, Long])(
      (m, u) => Streams.spaceSavingStep(m, u, 2))
    val s2 = Streams.spaceSavingStep(s1, 3L, 2) // evicts (1, 2L), adopts 3 at 2
    assert(s2 == Map(1L -> 2L, 3L -> 2L))
    // skewed stream: state stays <= capacity; the heavy key survives with
    // count >= truth (SpaceSaving over-estimates, never under)
    val rnd = new scala.util.Random(3)
    val stream = Seq.fill(3000)(if (rnd.nextInt(10) < 6) 7L else rnd.nextInt(200).toLong + 100L)
    val sk = stream.foldLeft(Map.empty[Long, Long])(
      (m, u) => Streams.spaceSavingStep(m, u, 32))
    assert(sk.size <= 32)
    val truth = stream.count(_ == 7L).toLong
    assert(sk.contains(7L) && sk(7L) >= truth,
      s"heavy key must be retained with count >= $truth, got ${sk.get(7L)}")
  }

  test("stream/batch parity: AvailableNow streaming run equals batch tumbling agg") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val streamed = Streams.runSilverAvailableNow(s, dir)
      .orderBy("window_start", "event_type")
      .collect()
    val batch = graft.silver.SilverAgg.tumbling(Tables.events(s, dir))
      .orderBy("window_start", "event_type")
      .collect()
    assert(streamed.length == batch.length)
    assert(streamed.zip(batch).forall { case (a, b) => a == b })
  }

  test("dropDuplicatesWithinWatermark drops re-delivered event ids") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[E]
    val q = Streams.dedupStream(mem.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_stream").start()
    try {
      mem.addData(E(1L, ts(0), 1.0), E(2L, ts(0, 10), 2.0))
      q.processAllAvailable()
      mem.addData(E(1L, ts(0), 1.0)) // re-delivery within watermark
      q.processAllAvailable()
      mem.addData(E(3L, ts(1), 3.0))
      q.processAllAvailable()
      val ids = s.table("dedup_stream").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("stateful sessionizer emits closed sessions with event-time timeout") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[UE]
    val q = Streams.sessionizeStateful(mem.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sessions_stateful").start()
    try {
      mem.addData(UE(1L, ts(0), 1.0), UE(1L, ts(10), 2.0)) // one session (10m gap < 30m)
      q.processAllAvailable()
      // jump event time far ahead: watermark passes session end -> close
      mem.addData(UE(1L, Timestamp.valueOf("2024-01-01 03:00:00"), 9.0))
      q.processAllAvailable()
      mem.addData(UE(2L, Timestamp.valueOf("2024-01-01 06:00:00"), 0.0))
      q.processAllAvailable()
      val rows = s.table("sessions_stateful")
        .orderBy("session_start").collect()
      assert(rows.nonEmpty, "expected at least the first closed session")
      val first = rows.head
      assert(first.getLong(0) == 1L)
      assert(first.getTimestamp(1) == ts(0))
      assert(first.getTimestamp(2) == ts(40)) // last event 00:10 + 30m gap
      assert(first.getLong(3) == 2L)
      assert(first.getDouble(4) == 3.0)
    } finally q.stop()
  }

  test("stream-stream interval join matches pairs across micro-batches via state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val joined = Streams.clickPurchaseJoin(
      clicks.toDF().toDF("user_id", "ts", "event_id"),
      purchases.toDF().toDF("user_id", "ts", "value"))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssj").start()
    try {
      // batch 1: click only — no output yet, click buffered in state
      clicks.addData((1L, ts(0), 100L))
      q.processAllAvailable()
      assert(s.table("ssj").count() == 0)
      // batch 2: purchase 10 min later joins the buffered click
      purchases.addData((1L, ts(10), 42.0))
      q.processAllAvailable()
      val rows = s.table("ssj").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("click_id") == 100L)
      assert(rows.head.getAs[Double]("p_value") == 42.0)
      // purchase OUTSIDE the 30-min bound never joins
      purchases.addData((1L, ts(45), 7.0))
      q.processAllAvailable()
      assert(s.table("ssj").count() == 1)
    } finally q.stop()
  }

  test("silver transform runs on the RocksDB state store (the 100 TB state backend)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev]
    val q = Streams.silverTransform(mem.toDF())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("silver_rocks").start()
    try {
      mem.addData(Ev(ts(0, 10), "a", 10.0), Ev(ts(0, 20), "a", 20.0),
        Ev(ts(1, 5), "b", 5.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(1, 40), "b", 7.0))
      q.processAllAvailable()
      // same semantics as the default HDFS-backed store: windows for both
      // keys, state maintained across batches
      val rows = s.table("silver_rocks").collect()
      assert(rows.nonEmpty)
      assert(s.table("silver_rocks").select("event_type").distinct().count() == 2)
    } finally {
      q.stop()
      prev.fold(s.conf.unset(key))(v => s.conf.set(key, v))
    }
  }

  test("transformWithState: ValueState accumulates across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(String, Double)]
    val res = mem.toDS().groupByKey(_._1)
      .transformWithState(new Streams.RunningTypeStats,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
    val q = res.toDF().writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("tws_running").start()
    try {
      mem.addData(("a", 10.0), ("a", 20.0), ("b", 5.0))
      q.processAllAvailable()
      mem.addData(("a", 5.0))
      q.processAllAvailable()
      // batch 2 emission for "a" must carry batch-1 state forward
      val a = s.table("tws_running").filter(col("event_type") === "a")
        .orderBy(col("n")).collect()
      assert(a.map(_.getLong(1)).toSeq == Seq(2L, 3L))
      assert(a.last.getDouble(2) == 35.0)
      // "b" was absent from batch 2: exactly its batch-1 emission
      val b = s.table("tws_running").filter(col("event_type") === "b").collect()
      assert(b.length == 1 && b.head.getLong(1) == 1L)
    } finally {
      q.stop()
      prev.fold(s.conf.unset(key))(v => s.conf.set(key, v))
    }
  }

  test("kafka wire-schema rows parse through the shared trade pipeline") {
    val s = spark
    import s.implicits._
    // Kafka's exact source schema: key/value binary + topic metadata —
    // what `.format("kafka").load()` yields on a real cluster.
    val wire = Seq(
      (Array.empty[Byte],
        """{"symbol":"BTCUSDT","price":96001.5,"quantity":0.0042,"timestamp":"2025-12-03T09:41:07.123000"}""".getBytes("UTF-8"),
        "ticks", 0, 0L, new Timestamp(0L), 0),
      (Array.empty[Byte],
        """{"symbol":"ETHUSDT","price":3600.25,"quantity":1.5,"timestamp":"2025-12-03T09:41:08.000000"}""".getBytes("UTF-8"),
        "ticks", 0, 1L, new Timestamp(0L), 0))
      .toDF("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    val parsed = graft.ingest.Bronze.parseTrades(wire).orderBy("symbol").collect()
    assert(parsed.length == 2)
    assert(parsed(0).getString(0) == "BTCUSDT" && parsed(0).getDouble(1) == 96001.5)
    assert(parsed(1).getString(0) == "ETHUSDT" && parsed(1).getDouble(2) == 1.5)
    assert(!parsed(0).isNullAt(3), "timestamp string must cast to a real timestamp")
  }

  test("kafka source builds the full reader and stops only at the connector boundary") {
    val s = spark
    // No broker or connector jar offline: the reader (subscribe topic,
    // startingOffsets=latest — the no-backfill semantics of T9) must be
    // fully constructed, failing only inside Spark's data-source lookup.
    val err = intercept[Exception](Streams.kafkaEvents(s, "broker:9092", "ticks"))
    assert(err.getMessage.toLowerCase.contains("kafka"),
      s"expected the kafka provider lookup to be the failure point, got: ${err.getMessage}")
  }

  test("checkpoint restart resumes from offsets: no backfill, no duplicates") {
    val s = spark
    import s.implicits._
    val src = Files.createTempDirectory("graft_restart_src").toString
    val out = Files.createTempDirectory("graft_restart_out").toString
    val ckpt = Files.createTempDirectory("graft_restart_ckpt").toString
    def writeBatch(name: String, rows: Seq[(Long, Timestamp, Double)]): Unit =
      rows.toDF("event_id", "ts", "value")
        .coalesce(1).write.parquet(s"$src/$name")
    def runOnce(): Unit = {
      val schema = s.read.option("recursiveFileLookup", "true").parquet(src).schema
      val q = s.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt).option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").start()
      q.awaitTermination()
    }
    writeBatch("b0", Seq((1L, ts(0), 1.0), (2L, ts(1), 2.0)))
    runOnce()
    assert(s.read.parquet(out).count() == 2)
    // second start with the SAME checkpoint: only the new file flows
    // (startingOffsets-latest semantics across restarts — T9), and the
    // first batch is not re-emitted (exactly-once file sink)
    writeBatch("b1", Seq((3L, ts(2), 3.0)))
    runOnce()
    val rows = s.read.parquet(out).select("event_id").as[Long].collect().sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L), s"expected no backfill/dupes, got ${rows.toSeq}")
  }

  test("file-source append run writes only watermark-closed windows") {
    val s = spark
    val out = Files.createTempDirectory("graft_t_out").toString
    val ckpt = Files.createTempDirectory("graft_t_ckpt").toString
    Streams.runSilverAppend(s, "/root/testdata/sf0.001", out, ckpt)
    val n = scala.util.Try(s.read.parquet(out).count()).getOrElse(0L)
    val total = Streams.silverTransform(Tables.events(s, "/root/testdata/sf0.001"))
      .count()
    // single batch => watermark only advances at the END of it; windows
    // still open then are withheld (append semantics, T3/T7)
    assert(n < total)
  }

  test("drain: a throwing batch fails loudly and restores confs; a resumed drain continues batch ids") {
    val s = spark
    import s.implicits._
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.streaming.stateStore.providerClass")
    val before = keys.map(s.conf.getOption)
    val in = Files.createTempDirectory("graft_drain_in").toString
    Seq((1L, 1.0)).toDF("id", "v").write.mode("append").parquet(in)
    val rows = s.readStream.schema(s.read.parquet(in).schema).parquet(in)
    val e = intercept[Exception] {
      Streams.withConfs(s, keys(1) ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        Streams.drain(rows)(_.foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new IllegalStateException("boom in batch")
        })
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom in batch")), e.toString)
    assert(keys.map(s.conf.getOption) == before)

    // the runStreamCdf shape: two drains of one writer on one checkpoint
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_drain_tbl").toString
    val out = Files.createTempDirectory("graft_drain_out").toString
    val ckpt = Files.createTempDirectory("graft_drain_ckpt").toString
    graft.sources.TxLog.commitAppend(ev.filter(col("event_id") < 500), tbl)
    val tail = s.readStream.format("graft-txlog").option("path", tbl)
      .option("readChangeFeed", "true").load()
    val toOut = (w: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]) =>
      w.option("path", out).format("parquet")
    val run1 = Streams.drain(tail, ckpt)(toOut).map(_.batchId).toSeq
    graft.sources.TxLog.commitAppend(ev.filter(col("event_id") >= 500), tbl)
    val run2 = Streams.drain(tail, ckpt)(toOut).map(_.batchId).toSeq
    assert(run1.nonEmpty && run2.nonEmpty, s"$run1 / $run2")
    assert(run1 ++ run2 == (run1.head to run2.last), s"batch ids must continue: $run1 / $run2")
    assert(s.read.parquet(out).count() == ev.count())
    assert(keys.map(s.conf.getOption) == before)
  }

  test("drain pins the state partitions only for a plan that holds state") {
    val s = spark
    import s.implicits._
    val in = Files.createTempDirectory("graft_pin_in").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "k").write.mode("append").parquet(in)
    val rows = s.readStream.schema(s.read.parquet(in).schema).parquet(in)
    // the shuffle-partition count each batch's session runs with
    def batchPartitions(stream: org.apache.spark.sql.DataFrame, mode: String): String = {
      val seen = new java.util.concurrent.atomic.AtomicReference[String]()
      Streams.drain(stream)(_.outputMode(mode).foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect() // a stateful batch must run every state partition to commit
          seen.set(b.sparkSession.conf.get("spark.sql.shuffle.partitions"))
      })
      seen.get
    }
    Streams.withConfs(s, "spark.sql.shuffle.partitions" -> "7") {
      assert(batchPartitions(rows.filter(col("id") > 0), "append") == "7",
        "a stateless plan keeps the session's setting")
      assert(batchPartitions(rows.groupBy(col("k")).count(), "complete") == "2",
        "a stateful plan runs at the pinned state-partition count")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "7")
    }
  }

  test("horizon near-dup: in-horizon re-sighting flagged, beyond-horizon arrival starts fresh") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = Streams.nearDupWithinHorizon(
        mem.toDF().toDF("doc_id", "text", "ts"), horizonMin = 90)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("neardup_horizon").start()
    try {
      mem.addData(
        (1L, text, Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, text, Timestamp.valueOf("2024-01-01 00:10:00"))) // 10m after doc 1
      q.processAllAvailable()
      // 10h later: far outside the 90m horizon of the last sighting —
      // the bucket state has expired and the re-arrival is NOT a dup
      mem.addData((4L, text, Timestamp.valueOf("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // but 30m after doc 4 the horizon applies again
      mem.addData((5L, text, Timestamp.valueOf("2024-01-01 10:30:00")))
      q.processAllAvailable()
      val flags = s.table("neardup_horizon")
        .groupBy(col("doc_id"))
        .agg(sum(col("hit")).as("hits"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(flags(1L) == 0L, "first sighting is never a dup")
      assert(flags(2L) > 0L, "re-sighting 10m later must hit")
      assert(flags(4L) == 0L, "re-sighting 10h later is outside the horizon")
      assert(flags(5L) > 0L, "30m after doc 4 is inside the horizon again")
    } finally q.stop()
  }

  test("streaming near-dup flags exactly the docs the batch LSH banding would") {
    import org.apache.spark.sql.functions._
    val s = spark
    val dir = "/root/testdata/sf0.001"
    // batch truth: a doc is a near-dup iff some band bucket is first
    // claimed by a smaller doc_id
    val bands = graft.ext.Dedup.bandedDocs(Tables.documents(s, dir))
    val expected = bands
      .join(bands.groupBy(col("band"), col("bucket"))
        .agg(min(col("doc_id")).as("first_doc")), Seq("band", "bucket"))
      .filter(col("doc_id") > col("first_doc"))
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val streamed = Streams.runStreamNearDup(s, dir)
    val flagged = streamed.filter(col("is_neardup"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(streamed.count() == Tables.documents(s, dir).count(),
      "every doc must be scored")
    assert(flagged.nonEmpty, "the test corpus contains near-dups; none flagged")
    assert(flagged == expected, "stream-state flagging diverged from batch banding")
  }

  test("S1: live socket ingress parses trade JSON through Bronze.parseTrades") {
    val s = spark
    import org.apache.spark.sql.functions._
    // In-test stand-in for the reference's WebSocket feeder
    // (`producer.py:35-41`): a TCP server pushing one trade JSON per line
    // on a long-lived connection.
    val payload = (1 to 20).map(i =>
      f"""{"symbol":"BTCUSDT","price":${100.0 + i}%.1f,"quantity":$i%d.5,"timestamp":"2024-01-01 00:00:${i % 60}%02d"}""")
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val feeder = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        payload.foreach(out.println)
        out.flush()
        // keep the connection open: the socket source treats EOF as
        // end-of-stream, and the query is stopped by the test body
        Thread.sleep(30000)
        sock.close()
      } catch { case _: Throwable => () }
    })
    feeder.setDaemon(true)
    feeder.start()
    val q = graft.streaming.Streams
      .socketTrades(s, "127.0.0.1", server.getLocalPort)
      .writeStream.outputMode("append")
      .format("memory").queryName("socket_trades").start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (s.table("socket_trades").count() < payload.size &&
        System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      val rows = s.table("socket_trades")
      assert(rows.count() == payload.size, "every pushed line must arrive")
      assert(rows.schema("price").dataType ==
        org.apache.spark.sql.types.DoubleType)
      assert(rows.schema("timestamp").dataType ==
        org.apache.spark.sql.types.TimestampType,
        "wire string must be cast to a real timestamp")
      assert(rows.agg(countDistinct(col("symbol"))).head.getLong(0) == 1)
      assert(rows.agg(sum(col("price"))).head.getDouble(0) ==
        (1 to 20).map(100.0 + _).sum)
    } finally { q.stop(); server.close() }
  }

  test("streaming exact distinct: the sketch state merges across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[UE]
    val agg = mem.toDF()
      .groupBy(window(col("ts"), "1 minute").as("w"))
      .agg(call_function("graft_set_card",
        call_function("graft_set_agg", col("user_id"))).as("d"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("d"), col("n"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("sketch_distinct").start()
    try {
      // batch 1: users 1, 2 in minute 0
      mem.addData(UE(1L, ts(0, 10), 1.0), UE(2L, ts(0, 20), 1.0))
      q.processAllAvailable()
      // batch 2: user 1 RE-SEEN (must not double count) + user 3; and
      // minute 1 opens with user 1
      mem.addData(UE(1L, ts(0, 30), 1.0), UE(3L, ts(0, 40), 1.0), UE(1L, ts(1, 5), 1.0))
      q.processAllAvailable()
      val rows = s.table("sketch_distinct").collect()
        .map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows("2024-01-01 00:00:00.0") == (3L, 4L),
        s"minute 0 must count users {1,2,3} once each across batches: $rows")
      assert(rows("2024-01-01 00:01:00.0") == (1L, 1L))
    } finally q.stop()
  }

  test("graft-txlog source: commits become micro-batches, incrementally") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = java.nio.file.Files.createTempDirectory("graft_src_spec").toString
    graft.sources.TxLog.commitAppend(ev.filter(col("event_id") < 100), tbl)
    val q = s.readStream.format("graft-txlog").option("path", tbl).load()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("txlog_src").start()
    try {
      q.processAllAvailable()
      val n1 = s.table("txlog_src").count()
      assert(n1 == ev.filter(col("event_id") < 100).count(),
        s"first batch must be the table history, got $n1")
      // a NEW commit becomes the next micro-batch — only its rows
      graft.sources.TxLog.commitAppend(
        ev.filter(col("event_id").between(100, 199)), tbl)
      q.processAllAvailable()
      val n2 = s.table("txlog_src").count()
      assert(n2 == ev.filter(col("event_id") < 200).count(),
        s"delta batch must add exactly the new commit's rows, got $n2")
      // no new commits -> no new batches
      q.processAllAvailable()
      assert(s.table("txlog_src").count() == n2)
    } finally q.stop()
  }

  test("graft-txlog source: startingVersion skips the backfill") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = java.nio.file.Files.createTempDirectory("graft_src_spec2").toString
    graft.sources.TxLog.commitAppend(ev.filter(col("event_id") < 100), tbl)
    graft.sources.TxLog.commitAppend(
      ev.filter(col("event_id").between(100, 149)), tbl)
    val q = s.readStream.format("graft-txlog")
      .option("path", tbl).option("startingVersion", "2").load()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("txlog_src_sv").start()
    try {
      q.processAllAvailable()
      // startingVersion is INCLUSIVE (stock Delta semantics): version
      // 2's rows surface, version 1's backfill does not
      assert(s.table("txlog_src_sv").count() ==
        ev.filter(col("event_id").between(100, 149)).count())
    } finally q.stop()
  }

  test("graft-txlog source refuses data-changing rewrites unless opted out") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = java.nio.file.Files.createTempDirectory("graft_src_spec3").toString
    graft.sources.TxLog.commitAppend(ev.filter(col("event_id") < 100), tbl)
    val q = s.readStream.format("graft-txlog").option("path", tbl).load()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("txlog_src_cc").start()
    try {
      q.processAllAvailable()
      val n1 = s.table("txlog_src_cc").count()
      // a copy-on-write DELETE re-adds survivors: streaming it as an
      // append would double-count — the source must FAIL the stream
      graft.sources.TxLog.deleteWhere(s, tbl, col("event_id") < 10)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("skipChangeCommits") ||
        Option(e.getCause).exists(_.getMessage.contains("skipChangeCommits")),
        e.getMessage)
    } finally q.stop()
    // with the opt-in, the change commit SKIPS and appends keep flowing;
    // OPTIMIZE (bytes-only) also skips silently
    val q2 = s.readStream.format("graft-txlog").option("path", tbl)
      .option("skipChangeCommits", "true").load()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("txlog_src_cc2").start()
    try {
      q2.processAllAvailable()
      val base = s.table("txlog_src_cc2").count() // fresh stream: post-delete snapshot
      graft.sources.TxLog.optimize(s, tbl)
      graft.sources.TxLog.commitAppend(ev.filter(col("event_id").between(100, 119)), tbl)
      q2.processAllAvailable()
      assert(s.table("txlog_src_cc2").count() == base +
        ev.filter(col("event_id").between(100, 119)).count(),
        "OPTIMIZE must skip silently; the append must flow")
    } finally q2.stop()
  }

  test("graft-txlog source: maxVersionsPerTrigger bounds each batch; AvailableNow drains natively") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = java.nio.file.Files.createTempDirectory("graft_src_spec4").toString
    (0 until 3).foreach { i =>
      graft.sources.TxLog.commitAppend(
        ev.filter(col("event_id").between(i * 100, i * 100 + 99)), tbl)
    }
    val q = s.readStream.format("graft-txlog").option("path", tbl)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("txlog_src_rate").start()
    try {
      q.awaitTermination()
      // every committed row lands...
      assert(s.table("txlog_src_rate").count() ==
        ev.filter(col("event_id") < 300).count())
      // ...across one batch PER VERSION (the rate limit held), via the
      // native AvailableNow protocol (no single-batch fallback)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 3,
        s"expected 3 rate-limited batches, got ${batches.length}")
    } finally q.stop()
  }

  test("graft-txlog source: columns + filterExpr prune the streaming scan") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_src_prune").toString
    // three commits with disjoint event_id ranges — per-file mirror
    // stats prove two of the three no-match for the filter below
    (0 until 3).foreach { i =>
      graft.sources.TxLog.commitAppend(
        ev.filter(col("event_id").between(i * 100, i * 100 + 99))
          .coalesce(1), tbl)
    }
    graft.streaming.TxLogScan.lastStreamPrune = None
    graft.streaming.TxLogScan.lastScan = None
    val q = s.readStream.format("graft-txlog").option("path", tbl)
      .option("columns", "event_id,event_type")
      .option("filterExpr", "event_id between 100 and 199").load()
      .filter(col("event_id").between(100, 199)) // the exact gate stays in the query
      .writeStream.outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("txlog_src_prune").start()
    q.awaitTermination()
    // correctness first: exactly the middle commit's rows
    assert(s.table("txlog_src_prune").count() ==
      ev.filter(col("event_id").between(100, 199)).count())
    // the presented schema IS the pruned projection...
    assert(s.table("txlog_src_prune").columns.toSeq ==
      Seq("event_id", "event_type"))
    // ...and the scan READ only it (ReadSchema shrank at the source)
    val (readSchema, nFilters) = graft.streaming.TxLogScan.lastScan.get
    assert(readSchema.fieldNames.toSeq == Seq("event_id", "event_type"),
      s"streaming scan must read only the projected columns, read $readSchema")
    assert(nFilters >= 1, "filterExpr must reach the reader factory")
    // whole files skipped before any IO: 3 candidate files, 1 kept
    val (cand, kept) = graft.streaming.TxLogScan.lastStreamPrune.get
    assert(kept < cand && kept >= 1,
      s"filterExpr must stats-prune whole files, got $kept/$cand")
  }

  test("graft-txlog native sink: crash replay commits exactly once; partitionBy lands hive layout") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val bronze = Files.createTempDirectory("graft_sink_bronze").toString
    val silver = Files.createTempDirectory("graft_sink_silver").toString
    val ckpt = Files.createTempDirectory("graft_sink_ckpt").toString
    graft.sources.TxLog.commitAppend(ev.filter(col("event_id") < 200), bronze)
    def run(): Unit = {
      val q = s.readStream.format("graft-txlog").option("path", bronze).load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .partitionBy("event_type")
        .format("graft-txlog").option("path", silver)
        .option("txnAppId", "sink-spec").start()
      q.awaitTermination()
    }
    run()
    val n1 = graft.sources.TxLog.snapshot(s, silver).count()
    assert(n1 == ev.filter(col("event_id") < 200).count())
    // partitionBy flowed through createSink into the hive batch layout
    assert(graft.sources.TxLog.snapshot(s, silver).inputFiles
      .forall(_.contains("event_type=")), "sink must honor partitionBy")
    // crash between the sink's commit and the engine's checkpoint
    // commit: wipe the commit log so the engine REPLAYS the batch —
    // the (txnAppId, batchId) token must skip it, not duplicate
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    val cs = java.nio.file.Files.list(commits)
    try cs.forEach(f => { java.nio.file.Files.delete(f); () }) finally cs.close()
    run()
    assert(graft.sources.TxLog.snapshot(s, silver).count() == n1,
      "replayed batch must skip, not double-commit")
    // and new bronze data still flows after the replay
    graft.sources.TxLog.commitAppend(
      ev.filter(col("event_id").between(200, 299)), bronze)
    run()
    assert(graft.sources.TxLog.snapshot(s, silver).count() ==
      ev.filter(col("event_id") < 300).count())
  }

  test("graft-txlog Append sink refuses without a restart-stable token identity") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val bronze = Files.createTempDirectory("graft_sink_noid_bronze").toString
    val silver = Files.createTempDirectory("graft_sink_noid_silver").toString
    graft.sources.TxLog.commitAppend(ev.filter(col("event_id") < 50), bronze)
    // neither txnAppId nor a checkpointLocation OPTION: a per-start
    // UUID token would silently re-commit replayed batches after a
    // crash — the sink must refuse at start, not degrade
    val e = intercept[Exception] {
      val q = s.readStream.format("graft-txlog").option("path", bronze).load()
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("graft-txlog").option("path", silver).start()
      q.awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("txnAppId")), msgs(e).mkString(" | "))
  }

  test("graft-txlog batch read (DSv2 BATCH_READ) equals the snapshot, partition columns typed") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_batch_read").toString
    graft.sources.TxLog.commitAppend(
      ev.filter(col("event_id") < 150).withColumn("day", col("ts").cast("date")),
      tbl, partitionBy = Seq("day"))
    graft.sources.TxLog.commitAppend(
      ev.filter(col("event_id").between(150, 249))
        .withColumn("day", col("ts").cast("date")),
      tbl, partitionBy = Seq("day"))
    val df = s.read.format("graft-txlog").option("path", tbl).load()
    assert(df.schema("day").dataType ==
      org.apache.spark.sql.types.DateType, df.schema.treeString)
    val got = df.groupBy("day").agg(count(lit(1)).as("n"),
      round(sum("value"), 2).as("tv")).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val want = graft.sources.TxLog.snapshot(s, tbl)
      .groupBy("day").agg(count(lit(1)).as("n"),
        round(sum("value"), 2).as("tv")).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.sameElements(want), s"dsv2=${got.toSeq} snapshot=${want.toSeq}")
  }

  test("DSv2 batch read: column pruning reaches the scan; stats skip whole files") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_pushdown").toString
    // 8 disjoint event_id ranges -> 8 files with tight mirror stats
    graft.sources.TxLog.commitAppend(
      ev.repartitionByRange(8, col("event_id")), tbl)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.getOrElse(fail("no BatchScanExec in plan"))
    // projection pruning: only the projected column reaches the scan
    val proj = s.read.format("graft-txlog").option("path", tbl).load()
      .select("event_type")
    assert(scanOf(proj).scan.readSchema().fieldNames.toSeq == Seq("event_type"),
      scanOf(proj).scan.readSchema().treeString)
    // filter pushdown: the range envelope prunes files via mirror stats
    val filtered = s.read.format("graft-txlog").option("path", tbl).load()
      .filter(col("event_id") <= 100)
    def nf(b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec) =
      b.inputPartitions.map {
        case p: org.apache.spark.sql.execution.datasources.FilePartition => p.files.length
        case _ => 0
      }.sum
    val nFiles = nf(scanOf(filtered))
    val allFiles = nf(scanOf(s.read.format("graft-txlog").option("path", tbl).load()))
    assert(allFiles == 8, s"expected 8 range files, scanned $allFiles")
    assert(nFiles < allFiles,
      s"stats pruning must skip disjoint-range files: $nFiles of $allFiles")
    // and the result stays exact (residual filter is the gate)
    assert(filtered.count() == ev.filter(col("event_id") <= 100).count())
  }

  test("DSv2 batch read: partition-column filters prune files by partition value") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_pushdown_part").toString
    graft.sources.TxLog.commitAppend(
      ev.withColumn("day", col("ts").cast("date")), tbl,
      partitionBy = Seq("day"))
    val df = s.read.format("graft-txlog").option("path", tbl).load()
    val one = df.filter(col("day") === "2024-01-03")
    def files(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get.inputPartitions.map {
        case p: org.apache.spark.sql.execution.datasources.FilePartition => p.files.length
        case _ => 0
      }.sum
    assert(files(one) < files(df),
      s"partition filter must prune: ${files(one)} of ${files(df)}")
    assert(one.count() ==
      ev.filter(col("ts").cast("date") === "2024-01-03").count())
  }

  test("batch CDF read replays per version: _commit_version is each row's real commit") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_batch_cdf").toString
    graft.sources.TxLog.commitAppend(ev.filter(col("event_id") < 100), tbl)
    graft.sources.TxLog.commitAppend(
      ev.filter(col("event_id").between(100, 199)), tbl)
    val cdf = s.read.format("graft-txlog").option("path", tbl)
      .option("readChangeFeed", "true").load()
    val byV = cdf.groupBy("_commit_version").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byV.keySet == Set(1L, 2L),
      s"rows must carry their REAL commit version, got $byV")
    assert(byV(1L) == ev.filter(col("event_id") < 100).count())
    assert(byV(2L) == ev.filter(col("event_id").between(100, 199)).count())
    assert(cdf.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("insert"))
  }

  test("connector options are case-insensitive (DSv2 contract)") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_ci_opts").toString
    graft.sources.TxLog.commitAppend(ev.filter(col("event_id") < 50), tbl)
    graft.sources.TxLog.commitAppend(
      ev.filter(col("event_id").between(50, 99)), tbl)
    val cdf = s.read.format("graft-txlog").option("path", tbl)
      .option("READCHANGEFEED", "true").load()
    // mis-cased option must still produce REAL per-version CDF values
    val vs = cdf.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(vs == Set(1L, 2L), s"case-insensitive readChangeFeed: $vs")
  }

  test("DSv2 reads apply deletion vectors: batch, streaming, mixed columnar") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_dsv2_dv").toString
    // 4 range files; DVs land on the low-id files only, so the scan
    // mixes DV'd single-file partitions with clean columnar ones
    graft.sources.TxLog.commitAppend(
      ev.repartitionByRange(4, col("event_id")), tbl)
    graft.sources.TxLog.setTableProperties(s, tbl,
      Map("delta.enableDeletionVectors" -> "true"))
    graft.sources.TxLog.deleteWhereDv(s, tbl, col("event_id") <= 300,
      Seq(("event_id", null, java.lang.Long.valueOf(300L))))
    val expect = ev.filter(col("event_id") > 300)
    // batch: counts AND values match the DV-applying snapshot
    val batch = s.read.format("graft-txlog").option("path", tbl).load()
    assert(batch.count() == expect.count())
    assert(batch.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0) ==
      expect.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
    assert(batch.filter(col("event_id") <= 300).count() == 0,
      "DV'd rows must not surface through the DSv2 batch read")
    // filters still push and compose with the DV filter
    assert(batch.filter(col("event_id") > 900).count() ==
      ev.filter(col("event_id") > 900).count())
    // streaming: an AvailableNow pass over the DV table emits live rows
    val outDir = Files.createTempDirectory("graft_dsv2_dv_out").toString
    val ckpt = Files.createTempDirectory("graft_dsv2_dv_ckpt").toString
    val q = s.readStream.format("graft-txlog").option("path", tbl).load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = s.read.parquet(outDir)
    assert(streamed.count() == expect.count(),
      s"streamed ${streamed.count()} vs live ${expect.count()}")
    assert(streamed.filter(col("event_id") <= 300).count() == 0,
      "DV'd rows must not stream")
    // CDF over the DV table labels the merge-on-read delete: the v1
    // inserts stay in history RAW (the later delete must not erase
    // them) and the hidden rows surface as typed `delete` rows
    val cdfDf = s.read.format("graft-txlog")
      .option("path", tbl).option("readChangeFeed", "true").load()
    val byType = cdfDf.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("insert") == ev.count(), byType.toString)
    assert(byType("delete") == ev.filter(col("event_id") <= 300).count(),
      byType.toString)
  }

  test("DSv2 time travel: versionAsOf/timestampAsOf read historical snapshots") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_dsv2_asof").toString
    graft.sources.TxLog.commitAppend(ev.filter(col("event_id") < 100), tbl) // v1
    graft.sources.TxLog.commitAppend(
      ev.filter(col("event_id").between(100, 199))
        .withColumn("bonus", col("value") * 2), tbl)                        // v2 (evolves)
    graft.sources.TxLog.setTableProperties(s, tbl,
      Map("delta.enableDeletionVectors" -> "true"))                         // v3
    graft.sources.TxLog.deleteWhereDv(s, tbl, col("event_id") < 50)         // v4
    def rd = s.read.format("graft-txlog").option("path", tbl)
    // current read: evolved schema, DVs applied
    val cur = rd.load()
    assert(cur.columns.contains("bonus"))
    assert(cur.count() == 150L)
    // versionAsOf 1: pre-evolution schema (no bonus), pre-delete rows
    val v1 = rd.option("versionAsOf", "1").load()
    assert(!v1.columns.contains("bonus"),
      "a historical read must present the schema AT that version")
    assert(v1.count() == 100L, "versionAsOf must see pre-delete rows")
    assert(v1.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0) ==
      ev.filter(col("event_id") < 100)
        .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
    // versionAsOf 2: both batches, still no DVs
    assert(rd.option("versionAsOf", "2").load().count() == 200L)
    // timestampAsOf "now" resolves to the latest version
    assert(rd.option("timestampAsOf",
      String.valueOf(System.currentTimeMillis() + 1000)).load().count() == 150L)
    // guards: out-of-range version, cdf combination, streaming use
    val e1 = intercept[Exception](rd.option("versionAsOf", "99").load().count())
    assert(e1.getMessage.contains("outside the committed range"), e1.getMessage)
    val e2 = intercept[Exception](rd.option("versionAsOf", "1")
      .option("readChangeFeed", "true").load().count())
    assert(e2.getMessage.contains("startingVersion"), e2.getMessage)
    val e3 = intercept[Exception] {
      val q = s.readStream.format("graft-txlog").option("path", tbl)
        .option("versionAsOf", "1").load()
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_asof_ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      q.exception.foreach(throw _)
    }
    assert(e3.getMessage != null &&
      e3.getMessage.contains("batch-read options"), e3.getMessage)
  }

  test("DSv2 CDF replays copy-on-write DML from its change-data files") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_dsv2_cdf_cow").toString
    graft.sources.TxLog.commitAppend(
      ev.repartitionByRange(4, col("event_id")), tbl)                // v1
    graft.sources.TxLog.setTableProperties(s, tbl,
      Map("delta.enableChangeDataFeed" -> "true"))                   // v2
    graft.sources.TxLog.deleteWhere(s, tbl, col("event_id") <= 300,
      Seq(("event_id", null, java.lang.Long.valueOf(300L))))         // v3 CoW
    graft.sources.TxLog.updateWhere(s, tbl,
      col("event_id").between(400L, 500L),
      Map("value" -> (col("value") + 10)),
      Seq(("event_id", java.lang.Long.valueOf(400L),
        java.lang.Long.valueOf(500L))))                              // v4 CoW
    val feed = s.read.format("graft-txlog").option("path", tbl)
      .option("readChangeFeed", "true").option("startingVersion", "3").load()
    val got = feed.groupBy(col("_commit_version"), col("_change_type"))
      .count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got((3L, "delete")) == ev.filter(col("event_id") <= 300).count(),
      got.toString)
    assert(got((4L, "update_preimage")) == 101L, got.toString)
    assert(got((4L, "update_postimage")) == 101L, got.toString)
    assert(got.size == 3,
      s"rewrite-batch survivor rows must never leak into the feed: $got")
    // a cdc-less rewrite (no CDF at DML time) still refuses loudly
    val t2 = Files.createTempDirectory("graft_dsv2_cdf_cow2").toString
    graft.sources.TxLog.commitAppend(ev.filter(col("event_id") < 100), t2)
    graft.sources.TxLog.deleteWhere(s, t2, col("event_id") === 5L)
    val e = intercept[Exception](s.read.format("graft-txlog")
      .option("path", t2).option("readChangeFeed", "true").load().count())
    assert(e.getMessage != null && e.getMessage.contains("removed files"),
      e.getMessage)
    // and TxLog.changeFeed agrees with the connector on the cdc route
    val cf = graft.sources.TxLog.changeFeed(s, tbl, 2L, 4L)
      .groupBy(col("_commit_version"), col("_change_type")).count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cf == got, s"changeFeed vs DSv2: $cf vs $got")
  }

  test("DSv2 CDF replays a merge-on-read history per version, typed") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_dsv2_cdf_dv").toString
    graft.sources.TxLog.commitAppend(
      ev.repartitionByRange(4, col("event_id")), tbl)                // v1
    graft.sources.TxLog.setTableProperties(s, tbl, Map(
      "delta.enableDeletionVectors" -> "true",
      "delta.enableChangeDataFeed" -> "true"))                       // v2
    graft.sources.TxLog.deleteWhereDv(s, tbl, col("event_id") <= 300,
      Seq(("event_id", null, java.lang.Long.valueOf(300L))))         // v3
    graft.sources.TxLog.updateWhereDv(s, tbl,
      col("event_id").between(400L, 500L),
      Map("value" -> (col("value") + 10)),
      Seq(("event_id", java.lang.Long.valueOf(400L),
        java.lang.Long.valueOf(500L))))                              // v4
    graft.sources.TxLog.mergeIntoDv(s, tbl,
      ev.filter(col("event_id").between(600L, 650L))
        .withColumn("value", col("value") * 2)
        .unionByName(ev.filter(col("event_id") <= 40)
          .withColumn("event_id", col("event_id") + 800000L)),
      Seq("event_id"))                                               // v5
    graft.sources.TxLog.optimize(s, tbl)                             // v6 (silent)
    // BATCH CDF from v3 on (startingVersion is inclusive)
    val feed = s.read.format("graft-txlog").option("path", tbl)
      .option("readChangeFeed", "true").option("startingVersion", "3").load()
    val got = feed.groupBy(col("_commit_version"), col("_change_type"))
      .count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val nDel = ev.filter(col("event_id") <= 300).count()
    assert(got((3L, "delete")) == nDel, got.toString)
    assert(got((4L, "update_preimage")) == 101L, got.toString)
    assert(got((4L, "update_postimage")) == 101L, got.toString)
    assert(got((5L, "update_preimage")) == 51L, got.toString)
    assert(got((5L, "update_postimage")) == 51L, got.toString)
    assert(got((5L, "insert")) == 41L, got.toString)
    assert(got.keys.map(_._1).toSet == Set(3L, 4L, 5L),
      s"OPTIMIZE must stay silent in the feed: $got")
    // endingVersion bounds the replay (both inclusive, stock Delta)
    val bounded = s.read.format("graft-txlog").option("path", tbl)
      .option("readChangeFeed", "true")
      .option("startingVersion", "3").option("endingVersion", "4").load()
      .select(col("_commit_version")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(bounded == Set(3L, 4L), s"endingVersion must exclude v5: $bounded")
    val eEnd = intercept[Exception](s.read.format("graft-txlog")
      .option("path", tbl).option("readChangeFeed", "true")
      .option("endingVersion", "99").load().count())
    assert(eEnd.getMessage.contains("endingVersion"), eEnd.getMessage)
    // values round-trip too: the deletes carry the deleted values, the
    // postimages the assigned ones
    val delSum = feed.filter(col("_change_type") === "delete")
      .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0)
    assert(delSum == ev.filter(col("event_id") <= 300)
      .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
    val postSum = feed.filter(col("_change_type") === "update_postimage"
        && col("_commit_version") === 4L)
      .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0)
    assert(postSum == ev.filter(col("event_id").between(400L, 500L))
      .agg(round(sum(col("value") + 10), 2)).collect()(0).getDouble(0))
    // STREAMING CDF: AvailableNow over the same table replays the full
    // history per version — v1's inserts included, raw (pre-delete)
    val outDir = Files.createTempDirectory("graft_dsv2_cdf_dv_out").toString
    val ckpt = Files.createTempDirectory("graft_dsv2_cdf_dv_ckpt").toString
    val q = s.readStream.format("graft-txlog").option("path", tbl)
      .option("readChangeFeed", "true").load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = s.read.parquet(outDir)
    val sGot = streamed.groupBy(col("_commit_version"), col("_change_type"))
      .count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(sGot((1L, "insert")) == ev.count(), sGot.toString)
    assert(sGot((3L, "delete")) == nDel, sGot.toString)
    assert(sGot((4L, "update_preimage")) == 101L, sGot.toString)
    assert(sGot((5L, "insert")) == 41L, sGot.toString)
    // a DV delete committed AFTER the drain replays incrementally on
    // the same checkpoint
    graft.sources.TxLog.deleteWhereDv(s, tbl, col("event_id") === 999L) // v7
    val q2 = s.readStream.format("graft-txlog").option("path", tbl)
      .option("readChangeFeed", "true").load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000)
    val inc = s.read.parquet(outDir).filter(col("_commit_version") === 7L)
      .select(col("_change_type"), col("event_id")).collect()
    assert(inc.length == 1 && inc(0).getString(0) == "delete" &&
      inc(0).getLong(1) == 999L, inc.mkString(","))
  }

  test("DSv2 CDF: a CoW rewrite dropping removed files' DV entries routes to its cdc files") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_dsv2_cdf_cowdv").toString
    graft.sources.TxLog.commitAppend(
      ev.repartitionByRange(4, col("event_id")), tbl)                // v1
    graft.sources.TxLog.setTableProperties(s, tbl, Map(
      "delta.enableDeletionVectors" -> "true",
      "delta.enableChangeDataFeed" -> "true"))                       // v2
    graft.sources.TxLog.deleteWhereDv(s, tbl, col("event_id") <= 100,
      Seq(("event_id", null, java.lang.Long.valueOf(100L))))         // v3: DVs land
    // v4: COPY-ON-WRITE update over the same files — the rewrite drops
    // the removed files' DV entries, so dvNow != dvPrev AND removedAny;
    // the feed must read v5's typed cdc files, not misclassify the
    // commit as merge-on-read and leak the whole rewritten batch. With
    // DVs off (v4) the UPDATE rewrites; existing DVs stay honoured.
    graft.sources.TxLog.setTableProperties(s, tbl,
      Map("delta.enableDeletionVectors" -> "false"))                 // v4
    graft.sources.TxLog.updateWhere(s, tbl,
      col("event_id").between(150L, 200L),
      Map("value" -> (col("value") + 10)),
      Seq(("event_id", java.lang.Long.valueOf(150L),
        java.lang.Long.valueOf(200L))))                              // v5 CoW
    val feed = s.read.format("graft-txlog").option("path", tbl)
      .option("readChangeFeed", "true").option("startingVersion", "4").load()
    val got = feed.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("update_preimage" -> 51L, "update_postimage" -> 51L),
      s"survivor rows must not leak into the feed untyped: $got")
    // preimages are the VISIBLE matches only (old DVs applied first)
    assert(feed.filter(col("_change_type") === "update_preimage" &&
      col("event_id") <= 100).count() == 0)
    // and the batch changeFeed API agrees on the same history
    val cf = graft.sources.TxLog.changeFeed(s, tbl, 3L, 5L)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cf == got, s"changeFeed vs DSv2: $cf vs $got")
  }

  test("DSv2 CDF skipChangeCommits skips merge-on-read DV commits entirely") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_dsv2_cdf_skip").toString
    graft.sources.TxLog.commitAppend(
      ev.filter(col("event_id") < 500)
        .repartitionByRange(4, col("event_id")), tbl)                // v1
    graft.sources.TxLog.setTableProperties(s, tbl,
      Map("delta.enableDeletionVectors" -> "true"))                  // v2
    graft.sources.TxLog.updateWhereDv(s, tbl,
      col("event_id").between(100L, 199L),
      Map("value" -> (col("value") + 1)),
      Seq(("event_id", java.lang.Long.valueOf(100L),
        java.lang.Long.valueOf(199L))))                              // v3 DV
    graft.sources.TxLog.commitAppend(
      ev.filter(col("event_id").between(500, 599)), tbl)             // v4
    val feed = s.read.format("graft-txlog").option("path", tbl)
      .option("readChangeFeed", "true").option("startingVersion", "3")
      .option("skipChangeCommits", "true").load()
    val got = feed.groupBy(col("_commit_version"), col("_change_type"))
      .count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // v3 delivers NOTHING — not even its appended postimage batch —
    // matching how the MERGE and classify branches skip change commits
    assert(got == Map((4L, "insert") -> 100L),
      s"a skipped DV commit must deliver nothing: $got")
    // without the option the same replay delivers the typed v3 rows
    val full = s.read.format("graft-txlog").option("path", tbl)
      .option("readChangeFeed", "true").option("startingVersion", "3").load()
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full == Map("update_preimage" -> 100L,
      "update_postimage" -> 100L, "insert" -> 100L), full.toString)
  }

  test("foreign Delta tail: a _delta_log-only table streams by version; DV + CDF + time travel native") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_foreign_tail")
    val out = Files.createTempDirectory("graft_foreign_out").toString
    val ckpt = Files.createTempDirectory("graft_foreign_ckpt").toString
    Streams.foreignDeltaAppend(root, 1L, ev.filter(col("event_id") < 400), "b0") // delta 0
    Streams.foreignDeltaAppend(root, 2L,
      ev.filter(col("event_id").between(400, 699)), "b1")            // delta 1
    def drain(): Unit = {
      val q = s.readStream.format("graft-txlog").option("path", root.toString)
        .load()
        .writeStream.option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).format("parquet").start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
    }
    drain() // run 1: delta history 0-1 in one batch
    assert(s.read.parquet(out).count() == 700L)
    Streams.foreignDeltaAppend(root, 3L, ev.filter(col("event_id") >= 700), "b2") // delta 2
    // delta 3: a FOREIGN merge-on-read DELETE — the spec's remove +
    // re-add(same path, new deletionVector) pair on b0 hiding ids < 100
    Streams.foreignDvDelete(s, root, 4L, "b0.parquet", col("event_id") < 100,
      ev.schema.json)                                               // delta 3
    drain() // run 2: ONLY delta 2's adds; the DV commit delivers nothing
    assert(s.read.parquet(out).count() == ev.count(),
      "an append stream never re-delivers or retracts over a DV commit")
    // batch DSv2 read of the foreign table applies the current DVs
    def rd = s.read.format("graft-txlog").option("path", root.toString)
    assert(rd.load().count() == ev.count() - 100L)
    assert(rd.load().filter(col("event_id") < 100).count() == 0L)
    // CDF batch read synthesizes typed deletes from the FOREIGN DV diff
    val feed = rd.option("readChangeFeed", "true")
      .option("startingVersion", "4").load()
    val byType = feed.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 100L), byType.toString)
    assert(feed.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0) ==
      ev.filter(col("event_id") < 100)
        .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0),
      "deleted rows surface WITH their values, read from the unchanged file")
    // time travel: versionAsOf presents pre-delete, pre-append states
    assert(rd.option("versionAsOf", "2").load().count() == 700L)
    // startingVersion replay: a FRESH stream from version 3 skips the
    // two-commit backfill and delivers only commit 2's files
    val out2 = Files.createTempDirectory("graft_foreign_out2").toString
    val q2 = s.readStream.format("graft-txlog").option("path", root.toString)
      .option("startingVersion", "3").load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_foreign_ckpt2").toString)
      .option("path", out2)
      .trigger(Trigger.AvailableNow()).format("parquet").start()
    q2.awaitTermination(120000)
    q2.exception.foreach(throw _)
    assert(s.read.parquet(out2).count() ==
      ev.filter(col("event_id") >= 700).count(),
      "startingVersion=3 must replay exactly commit 2's adds")
    // the graft sink refuses to write into a foreign-owned table
    val e = intercept[Exception] {
      ev.limit(1).write.format("parquet") // (no-op warm)
      val q = s.readStream.format("rate").load()
        .writeStream.format("graft-txlog").option("path", root.toString)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_foreign_sink_ck").toString)
        .start()
      q.stop()
    }
    assert(e.getMessage != null && e.getMessage.contains("foreign table"),
      e.getMessage)
  }

  test("skipChangeCommits skips copy-on-write change commits too (cdc-backed rewrites and MERGEs)") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    import graft.sources.{TxLog => TL}
    val t = Files.createTempDirectory("graft_skipcow").toString
    TL.commitAppend(ev.filter(col("event_id") < 300), t)             // v1
    TL.setTableProperties(s, t,
      Map("delta.enableChangeDataFeed" -> "true"))                   // v2
    // v3: a copy-on-write DELETE — a cdc-carrying change commit
    TL.deleteWhere(s, t, col("event_id") < 50,
      Seq(("event_id", null, java.lang.Long.valueOf(50L))))
    TL.commitAppend(ev.filter(col("event_id").between(300, 399)), t) // v4
    def rd = s.read.format("graft-txlog").option("path", t)
      .option("readChangeFeed", "true").option("startingVersion", "1")
    // without the option: the delete rows surface typed
    val full = rd.load().groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full.getOrElse("delete", 0L) == 50L, full.toString)
    // with it: the CoW change commit delivers NOTHING — same contract
    // as the merge-on-read and MERGE shapes
    val skipped = rd.option("skipChangeCommits", "true").load()
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(skipped == Map("insert" -> 400L),
      s"a cdc-backed rewrite must be skipped entirely: $skipped")
  }

  test("CDF reads of a PARTITIONED foreign Delta table attach partition values from the cdc path") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.DeltaLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_fdelta_pcdf")
    // hive-layout foreign table: bucket=<b>/f.parquet per band
    import scala.jdk.CollectionConverters._
    val rels = (0 to 1).map { b =>
      val tmp = Files.createTempDirectory(s"graft_fdelta_pcdf_$b")
      ev.filter(pmod(col("event_id"), lit(2)) === b).drop("bucket")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val st = Files.list(tmp)
      val part = try st.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally st.close()
      Files.createDirectories(root.resolve(s"bucket=$b"))
      Files.move(part, root.resolve(s"bucket=$b/f$b.parquet"))
      s"bucket=$b/f$b.parquet"
    }
    DeltaLog.mirrorCommit(root, 1L, rels, Seq.empty,
      ev.withColumn("bucket", lit(0L)).schema.json)
    // plain foreign streaming read of the partitioned table works
    assert(s.read.format("graft-txlog").option("path", root.toString)
      .load().count() == ev.count())
    // version 2: a MERGE whose cdc files sit under HIVE-PARTITIONED
    // `_change_data/bucket=<b>/` segments, the stock writer layout —
    // data columns + `_change_type` in-file, bucket only in the path
    def landCdc(b: Int): String = {
      val rows = ev.filter(pmod(col("event_id"), lit(2)) === b)
        .filter(col("event_id") < 100)
        .withColumn("_change_type", lit("insert"))
      val tmp = Files.createTempDirectory(s"graft_fdelta_pcdf_cdc$b")
      rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val st = Files.list(tmp)
      val part = try st.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally st.close()
      Files.createDirectories(root.resolve(s"_change_data/bucket=$b"))
      val rel = s"_change_data/bucket=$b/cdc-$b.parquet"
      Files.move(part, root.resolve(rel))
      rel
    }
    val post = {
      val tmp = Files.createTempDirectory("graft_fdelta_pcdf_post")
      ev.filter(col("event_id") < 100 &&
          pmod(col("event_id"), lit(2)) === 0)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val st = Files.list(tmp)
      val part = try st.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally st.close()
      Files.move(part, root.resolve("bucket=0/m0.parquet"))
      "bucket=0/m0.parquet"
    }
    DeltaLog.mirrorCommit(root, 2L, Seq(post), Seq.empty,
      ev.withColumn("bucket", lit(0L)).schema.json,
      operation = "MERGE", cdcAdds = Seq(landCdc(0), landCdc(1)))
    // the CDF read attaches the partition column FROM THE PATH and
    // reads `_change_type` from the file
    val feed = s.read.format("graft-txlog").option("path", root.toString)
      .option("readChangeFeed", "true").option("startingVersion", "2").load()
    val want = ev.filter(col("event_id") < 100)
    assert(feed.count() == want.count())
    assert(feed.filter(col("_change_type") =!= "insert").count() == 0)
    assert(feed.filter(col("_commit_version") =!= 2L).count() == 0)
    val byBucket = feed.groupBy(col("bucket")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantByBucket = want.groupBy(pmod(col("event_id"), lit(2)).as("b"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byBucket == wantByBucket,
      s"partition values must come from the cdc path segments: " +
        s"$byBucket vs $wantByBucket")
    // value columns land in the right slots despite the reorder
    assert(feed.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0) ==
      want.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
  }

  test("foreign Delta tail streams COLUMN-MAPPED (name-mode) tables under logical names") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.DeltaLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_fdelta_cmap")
    val out = Files.createTempDirectory("graft_fdelta_cmap_out").toString
    val ckpt = Files.createTempDirectory("graft_fdelta_cmap_ckpt").toString
    val schema = ev.schema.json
    def land(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val tmp = Files.createTempDirectory(s"graft_fdelta_cmap_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val st = Files.list(tmp)
      val part = try st.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally st.close()
      Files.move(part, root.resolve(s"$name.parquet"))
      s"$name.parquet"
    }
    DeltaLog.mirrorCommit(root, 1L,
      Seq(land(ev.filter(col("event_id") < 400), "b0")), Seq.empty, schema)
    // RENAME upgrades the table to column mapping: physical names freeze
    // at the current names, the files keep their original columns
    DeltaLog.renameColumn(s, root.toString, "value", "amount")
    def drain(): Unit = {
      val q = s.readStream.format("graft-txlog").option("path", root.toString)
        .load()
        .writeStream.option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).format("parquet").start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
    }
    drain()
    val streamed = s.read.parquet(out)
    assert(streamed.columns.contains("amount") &&
      !streamed.columns.contains("value"),
      "the stream must present the LOGICAL (renamed) schema")
    assert(streamed.agg(round(sum(col("amount")), 2)).collect()(0).getDouble(0)
      == ev.filter(col("event_id") < 400)
        .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0),
      "physical file columns must resolve under their logical names")
    // a post-upgrade commit lands; the resumed stream reads only it
    DeltaLog.mirrorCommit(root, 3L,
      Seq(land(ev.filter(col("event_id") >= 400), "b1")), Seq.empty,
      DeltaLog.currentSchemaString(root).get)
    drain()
    assert(s.read.parquet(out).count() == ev.count())
    // batch DSv2 read agrees value-exactly with the mapping-aware replay
    val dsv2 = s.read.format("graft-txlog").option("path", root.toString).load()
    assert(dsv2.agg(round(sum(col("amount")), 2)).collect()(0).getDouble(0)
      == ev.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
    val viaLog = DeltaLog.snapshot(s, root.toString)
    assert(dsv2.exceptAll(viaLog).isEmpty && viaLog.exceptAll(dsv2).isEmpty,
      "the DSv2 scan and DeltaLog.snapshot must agree on a mapped table")
    // time travel BEFORE the upgrade presents that era's logical name
    val pre = s.read.format("graft-txlog").option("path", root.toString)
      .option("versionAsOf", "1").load()
    assert(pre.columns.contains("value") && !pre.columns.contains("amount"))
    assert(pre.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0)
      == ev.filter(col("event_id") < 400)
        .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
  }

  test("foreign Delta tail streams id-mode COLUMN-MAPPED tables (parquet field-id resolution)") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    import graft.sources.DeltaLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
      .filter(col("event_id") < 300)
    val root = Files.createTempDirectory("graft_fdelta_idmap")
    // the data file: PHYSICAL col-<n> names with parquet field ids
    // stamped into the footer — what id-mode writers produce
    val physSel = ev.schema.fieldNames.toSeq.zipWithIndex
      .map { case (n, i) => col(n).as(s"col-$i") }
    val slice = ev.select(physSel: _*)
    val withIds = StructType(slice.schema.fields.zipWithIndex.map {
      case (f, j) => StructField(f.name, f.dataType, f.nullable,
        new MetadataBuilder().putLong("parquet.field.id", j + 1L).build())
    })
    s.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val tmp = Files.createTempDirectory("graft_fdelta_idmap_b0")
    s.createDataFrame(slice.collectAsList(), withIds)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    val st = Files.list(tmp)
    val part = try st.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    finally st.close()
    Files.move(part, root.resolve("b0.parquet"))
    // the log: LOGICAL names with the id-mode mapping metadata
    val mapped = StructType(ev.schema.fields.zipWithIndex.map { case (f, i) =>
      StructField(f.name, f.dataType, f.nullable,
        new MetadataBuilder().putLong("delta.columnMapping.id", i + 1L)
          .putString("delta.columnMapping.physicalName", s"col-$i").build())
    })
    DeltaLog.mirrorCommit(root, 1L, Seq("b0.parquet"), Seq.empty, mapped.json,
      props = Map("delta.columnMapping.mode" -> "id"))
    // batch DSv2 read resolves by field id, returns logical names
    val dsv2 = s.read.format("graft-txlog").option("path", root.toString).load()
    assert(dsv2.columns.toSeq == ev.columns.toSeq)
    assert(dsv2.count() == ev.count())
    assert(dsv2.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0)
      == ev.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
    assert(dsv2.exceptAll(ev).isEmpty && ev.exceptAll(dsv2).isEmpty,
      "field-id resolution must return the exact logical rows")
    // and the stream tails it
    val out = Files.createTempDirectory("graft_fdelta_idmap_out").toString
    val q = s.readStream.format("graft-txlog").option("path", root.toString)
      .load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_fdelta_idmap_ck").toString)
      .option("path", out)
      .trigger(Trigger.AvailableNow()).format("parquet").start()
    q.awaitTermination(120000)
    q.exception.foreach(throw _)
    val streamed = s.read.parquet(out)
    assert(streamed.count() == ev.count())
    assert(streamed.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0)
      == ev.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
  }

  test("foreign Iceberg tail: a stock metadata tree streams by sequence; pos-deletes + CDF + time travel") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.{ForeignIcebergLog, IcebergLog}
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_ficeberg_tail")
    val out = Files.createTempDirectory("graft_ficeberg_out").toString
    val ckpt = Files.createTempDirectory("graft_ficeberg_ckpt").toString
    val b0 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") < 400), root, "b0.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0))      // seq 1
    val b1 = IcebergLog.writeDataFile(
      ev.filter(col("event_id").between(400, 699)), root, "b1.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b1))      // seq 2
    assert(ForeignIcebergLog.isForeign(root.toString),
      "a metadata/-only tree must classify as foreign Iceberg")
    def drain(): Unit = {
      val q = s.readStream.format("graft-txlog").option("path", root.toString)
        .load()
        .writeStream.option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).format("parquet").start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
    }
    drain() // run 1: snapshots 1-2 in one batch
    assert(s.read.parquet(out).count() == 700L)
    val b2 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") >= 700), root, "b2.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b2))      // seq 3
    // seq 4: a COMPACTION (replace) — rewrites carry no new rows
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq.empty,
      operation = "replace")
    // seq 5: a merge-on-read POSITION DELETE hiding ids < 100 of b0
    val doomed = s.read.parquet(root.resolve(b0).toString)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"), col("event_id"))
      .filter(col("event_id") < 100).select("file_path", "pos")
    val del = IcebergLog.writeDataFile(doomed, root, "del0.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq.empty, Seq(del),
      operation = "delete")
    drain() // run 2: ONLY snapshot 3's adds; replace + delete deliver nothing
    assert(s.read.parquet(out).count() == ev.count(),
      "an append stream never re-delivers over a replace or a pos-delete")
    // batch DSv2 read applies the position deletes as bitmaps
    def rd = s.read.format("graft-txlog").option("path", root.toString)
    assert(rd.load().count() == ev.count() - 100L)
    assert(rd.load().filter(col("event_id") < 100).count() == 0L)
    // and agrees row-for-row with the batch Iceberg reader
    val viaIceberg = IcebergLog.snapshot(s, root.toString)
    assert(rd.load().exceptAll(viaIceberg).isEmpty &&
      viaIceberg.exceptAll(rd.load()).isEmpty,
      "the DSv2 scan and IcebergLog.snapshot must agree")
    // CDF batch read synthesizes typed deletes from the delete file
    val feed = rd.option("readChangeFeed", "true")
      .option("startingVersion", "5").load()
    val byType = feed.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 100L), byType.toString)
    assert(feed.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0) ==
      ev.filter(col("event_id") < 100)
        .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0),
      "deleted rows surface WITH their values, read from the unchanged file")
    // STREAMING CDF drain over the same history: the micro-batch path
    // plans the delete snapshot's hidden rows exactly like batch
    val cdfOut = Files.createTempDirectory("graft_ficeberg_cdfout").toString
    val qc = s.readStream.format("graft-txlog").option("path", root.toString)
      .option("readChangeFeed", "true").option("startingVersion", "4").load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_ficeberg_cdfck").toString)
      .option("path", cdfOut)
      .trigger(Trigger.AvailableNow()).format("parquet").start()
    qc.awaitTermination(120000)
    qc.exception.foreach(throw _)
    val sByType = s.read.parquet(cdfOut).groupBy(col("_change_type"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sByType == Map("delete" -> 100L),
      s"the streamed feed must match the batch feed: $sByType")
    // time travel: versionAsOf (sequence) + timestampAsOf (snapshot-log)
    assert(rd.option("versionAsOf", "2").load().count() == 700L)
    assert(rd.option("versionAsOf", "3").load().count() == ev.count())
    assert(rd.option("timestampAsOf",
      (1700000000000L + 2L * 60000L).toString).load().count() == 700L)
    // startingVersion replay: a fresh stream from sequence 3 delivers
    // only that snapshot's adds
    val out2 = Files.createTempDirectory("graft_ficeberg_out2").toString
    val q2 = s.readStream.format("graft-txlog").option("path", root.toString)
      .option("startingVersion", "3").load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_ficeberg_ckpt2").toString)
      .option("path", out2)
      .trigger(Trigger.AvailableNow()).format("parquet").start()
    q2.awaitTermination(120000)
    q2.exception.foreach(throw _)
    assert(s.read.parquet(out2).count() ==
      ev.filter(col("event_id") >= 700).count(),
      "startingVersion=3 must replay exactly snapshot 3's adds")
    // the graft sink refuses to write into a foreign-owned Iceberg table
    val e = intercept[Exception] {
      val q = s.readStream.format("rate").load()
        .writeStream.format("graft-txlog").option("path", root.toString)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_ficeberg_sink_ck").toString)
        .start()
      q.stop()
    }
    assert(e.getMessage != null && e.getMessage.contains("foreign table"),
      e.getMessage)
  }

  test("foreign Iceberg tail: filterExpr stats-prunes whole files from the manifest bounds") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.IcebergLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    // the ranged fixture: 8 band files whose event_id bounds ride the
    // manifest entries, in a stock metadata-only tree — foreign
    val tbl = IcebergLog.rangedTable(s, "/root/testdata/sf0.001")
    graft.streaming.TxLogScan.lastStreamPrune = None
    val out = Files.createTempDirectory("graft_ficeberg_prune_out").toString
    val q = s.readStream.format("graft-txlog").option("path", tbl)
      .option("filterExpr", "event_id between 100 and 199").load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_ficeberg_prune_ck").toString)
      .option("path", out)
      .trigger(Trigger.AvailableNow()).format("parquet").start()
    q.awaitTermination(120000)
    q.exception.foreach(throw _)
    // rows: exactly the filtered band (residual filter still applies)
    assert(s.read.parquet(out).filter(col("event_id").between(100, 199))
      .count() == ev.filter(col("event_id").between(100, 199)).count())
    val (cand, kept) = graft.streaming.TxLogScan.lastStreamPrune
      .getOrElse(fail("no prune tally — Iceberg bounds never consulted"))
    assert(kept < cand,
      s"manifest bounds must stats-prune whole files, got $kept/$cand")
  }

  test("foreign Iceberg tail resolves EQUALITY deletes to positions (Flink-CDC shape)") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.{ForeignIcebergLog, IcebergLog}
    // the single-snapshot eq-delete fixture: the DSv2 scan must now
    // agree row-for-row with the batch reader's anti-join survivor set
    val eqTree = IcebergLog.eqDeleteTable(s, "/root/testdata/sf0.001")
    assert(ForeignIcebergLog.isForeign(eqTree))
    val dsv2 = s.read.format("graft-txlog").option("path", eqTree).load()
    val viaIceberg = IcebergLog.snapshot(s, eqTree)
    assert(dsv2.count() == viaIceberg.count())
    assert(dsv2.exceptAll(viaIceberg).isEmpty &&
      viaIceberg.exceptAll(dsv2).isEmpty,
      "the DSv2 scan and IcebergLog.snapshot must agree on eq-deletes")
    // multi-snapshot tree with a PURE eq-delete snapshot in the middle:
    // b0 @ seq 1, eq-delete(event_type='error') @ seq 2, b1 @ seq 3
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_ficeberg_eqtail")
    val out = Files.createTempDirectory("graft_ficeberg_eqtail_out").toString
    val ckpt = Files.createTempDirectory("graft_ficeberg_eqtail_ck").toString
    def drain(): Unit = {
      val q = s.readStream.format("graft-txlog").option("path", root.toString)
        .load()
        .writeStream.option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).format("parquet").start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
    }
    val b0 = IcebergLog.writeDataFile(
      ev.filter(pmod(col("event_id"), lit(2)) === 0), root, "b0.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0))
    drain() // seq 1: b0, delivered BEFORE any delete exists
    val delivered0 = s.read.parquet(out).count()
    val delRel = IcebergLog.writeDataFile(
      ev.select("event_type").filter(col("event_type") === "error").limit(1),
      root, "eqdel0.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq.empty,
      operation = "delete", newEqDeletes = Seq(delRel),
      equalityIds = Seq(ev.schema.fieldIndex("event_type") + 1))
    val b1 = IcebergLog.writeDataFile(
      ev.filter(pmod(col("event_id"), lit(2)) === 1), root, "b1.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b1))
    val doomed = ev.filter(pmod(col("event_id"), lit(2)) === 0 &&
      col("event_type") === "error").count()
    assert(doomed > 0, "fixture must actually delete something")
    drain() // seq 2 (pure eq-delete) delivers NOTHING; seq 3 adds b1
    assert(delivered0 == ev.filter(pmod(col("event_id"), lit(2)) === 0).count())
    assert(s.read.parquet(out).count() == ev.count(),
      "an append stream never re-delivers or retracts over an eq-delete")
    // snapshot read: b0's error rows vanish, b1's SURVIVE (strictly-
    // older sequence rule — the CDC upsert semantics)
    val snap = s.read.format("graft-txlog").option("path", root.toString).load()
    assert(snap.count() == ev.count() - doomed)
    assert(snap.filter(pmod(col("event_id"), lit(2)) === 0 &&
      col("event_type") === "error").count() == 0)
    assert(snap.filter(pmod(col("event_id"), lit(2)) === 1 &&
      col("event_type") === "error").count() ==
      ev.filter(pmod(col("event_id"), lit(2)) === 1 &&
        col("event_type") === "error").count(),
      "rows written AFTER the delete must survive it")
    // CDF: the eq-delete snapshot's rows surface typed `delete`, with
    // their values, read from the unchanged data file
    val feed = s.read.format("graft-txlog").option("path", root.toString)
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").option("endingVersion", "2").load()
    val byType = feed.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> doomed), byType.toString)
  }

  test("hive-layout foreign Iceberg trees stream: partition values attach from manifest tuples, predicates prune") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.IcebergLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_ficeberg_hive")
    val types = ev.select("event_type").distinct().collect()
      .map(_.getString(0)).sorted.toSeq
    val pcols = Seq(("event_type", org.apache.spark.sql.types.StringType))
    // the add_files-migrated shape: data files do NOT carry the
    // partition column; its values live only in the manifest tuples
    def landSnap(pred: org.apache.spark.sql.Column, tag: String): Unit = {
      val rels = types.map { t =>
        IcebergLog.writeDataFile(
          ev.filter(pred && col("event_type") === t).drop("event_type"),
          root, s"$tag-$t.parquet") -> Map("event_type" -> t)
      }
      IcebergLog.appendForeignSnapshot(root, ev.schema, rels.map(_._1),
        partitions = rels.toMap, partitionCols = pcols)
    }
    landSnap(col("event_id") < 500, "a")
    val out = Files.createTempDirectory("graft_ficeberg_hive_out").toString
    val ckpt = Files.createTempDirectory("graft_ficeberg_hive_ck").toString
    def drain(): Unit = {
      val q = s.readStream.format("graft-txlog").option("path", root.toString)
        .load()
        .writeStream.option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).format("parquet").start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
    }
    drain()
    assert(s.read.parquet(out).count() ==
      ev.filter(col("event_id") < 500).count())
    landSnap(col("event_id") >= 500, "b") // snapshot 2: only its files stream
    drain()
    val streamed = s.read.parquet(out)
    assert(streamed.count() == ev.count())
    // the attached values are REAL (typed, grouped) — a missed attach
    // nulls the keys, a crossed file→tuple map scrambles the groups
    val got = streamed.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"$got vs $want")
    // row-identical to the batch reader's manifest-attach path
    val dsv2 = s.read.format("graft-txlog").option("path", root.toString)
      .load()
    val viaIceberg = IcebergLog.snapshot(s, root.toString)
      .select(dsv2.columns.map(col).toSeq: _*)
    assert(dsv2.exceptAll(viaIceberg).isEmpty &&
      viaIceberg.exceptAll(dsv2).isEmpty,
      "DSv2 and IcebergLog.snapshot must agree on a hive-layout tree")
    // partition-predicate pruning: the identity TUPLE value doubles as
    // both bounds, so a one-type filterExpr prunes the other types'
    // files before any IO — no writer-supplied column stats needed
    graft.streaming.TxLogScan.lastStreamPrune = None
    val out2 = Files.createTempDirectory("graft_ficeberg_hive_out2").toString
    val q2 = s.readStream.format("graft-txlog").option("path", root.toString)
      .option("filterExpr", s"event_type = '${types.head}'").load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_ficeberg_hive_ck2").toString)
      .option("path", out2)
      .trigger(Trigger.AvailableNow()).format("parquet").start()
    q2.awaitTermination(120000)
    q2.exception.foreach(throw _)
    val (cand, kept) = graft.streaming.TxLogScan.lastStreamPrune
      .getOrElse(fail("no prune tally — partition tuples never consulted"))
    assert(kept == 2 && cand == types.size * 2,
      s"one type per snapshot must survive the prune: $kept/$cand")
    assert(s.read.parquet(out2)
      .filter(col("event_type") === types.head).count() ==
      ev.filter(col("event_type") === types.head).count())
  }

  test("streaming filterExpr prunes a foreign BUCKET-partitioned Iceberg tree via transform tuples") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.IcebergLog
    import graft.functions.IcebergTransforms
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_ficeberg_bucket")
    // the REAL foreign bucket layout: data files carry FULL rows (the
    // bucket value lives only in the manifest tuple + transform spec),
    // files hold disjoint bucket populations, NO column bounds at all —
    // only the bucket[8] transform can prune a user_id equality
    val b7 = IcebergTransforms.bucketLong(8, 7L)
    val inB7 = (u: Long) => IcebergTransforms.bucketLong(8, u) == b7
    val users = ev.select("user_id").distinct().collect().map(_.getLong(0))
    val (hit, miss) = users.partition(inB7)
    assert(hit.nonEmpty && miss.nonEmpty, s"need both: ${users.toSeq}")
    val otherB = IcebergTransforms.bucketLong(8, miss.head)
    val f1 = IcebergLog.writeDataFile(
      ev.filter(col("user_id").isin(hit.toSeq: _*)), root, "f1.parquet")
    val f2 = IcebergLog.writeDataFile(
      ev.filter(col("user_id").isin(miss.toSeq: _*)), root, "f2.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(f1, f2),
      partitions = Map(
        f1 -> Map("uid_bucket" -> b7.toString),
        f2 -> Map("uid_bucket" -> otherB.toString)),
      partitionCols = Seq(("uid_bucket",
        org.apache.spark.sql.types.IntegerType)),
      partTransforms = Map("uid_bucket" -> (("bucket[8]", "user_id"))))
    // the spec records the REAL transform, not identity
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(IcebergLog.currentMetadataPath(root)))
    assert(meta.get("partition-specs").get(0).get("fields").get(0)
      .get("transform").asText() == "bucket[8]")
    graft.streaming.TxLogScan.lastStreamPrune = None
    val out = Files.createTempDirectory("graft_ficeberg_bucket_out").toString
    val q = s.readStream.format("graft-txlog").option("path", root.toString)
      .option("filterExpr", "user_id = 7").load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_ficeberg_bucket_ck").toString)
      .option("path", out)
      .trigger(Trigger.AvailableNow()).format("parquet").start()
    q.awaitTermination(120000)
    q.exception.foreach(throw _)
    val (cand, kept) = graft.streaming.TxLogScan.lastStreamPrune
      .getOrElse(fail("no prune tally — transform tuples never consulted"))
    assert((cand, kept) == ((2, 1)),
      s"bucket(7)'s file alone must survive: $kept/$cand")
    assert(s.read.parquet(out).filter(col("user_id") === 7L).count() ==
      ev.filter(col("user_id") === 7L).count())
  }

  test("eq-delete fold prunes candidate files via manifest bounds (narrow upserts scan O(affected files))") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.{ForeignIcebergLog, IcebergLog}
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_eqprune")
    val idField = ev.schema.fieldIndex("event_id") + 1
    // two data files with DISJOINT event_id bounds in the manifests
    val lo = IcebergLog.writeDataFile(
      ev.filter(col("event_id") < 500), root, "lo.parquet")
    val hi = IcebergLog.writeDataFile(
      ev.filter(col("event_id") >= 500), root, "hi.parquet")
    val loMax = ev.filter(col("event_id") < 500)
      .agg(max("event_id")).collect()(0).getLong(0)
    val hiMax = ev.agg(max("event_id")).collect()(0).getLong(0)
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(lo, hi),
      bounds = Map(
        lo -> Map(idField -> ((0L: Any, loMax: Any))),
        hi -> Map(idField -> ((500L: Any, hiMax: Any)))))
    // a NARROW eq-delete: keys land entirely inside lo.parquet's bounds
    val delRel = IcebergLog.writeDataFile(
      ev.select("event_id").filter(col("event_id").isin(10L, 20L, 30L)),
      root, "eqdel.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq.empty,
      operation = "delete", newEqDeletes = Seq(delRel),
      equalityIds = Seq(idField))
    ForeignIcebergLog.lastEqPrune = None
    val snap = s.read.format("graft-txlog").option("path", root.toString)
      .load()
    assert(snap.count() == ev.count() - 3)
    assert(snap.filter(col("event_id").isin(10L, 20L, 30L)).count() == 0)
    val (cand, kept) = ForeignIcebergLog.lastEqPrune
      .getOrElse(fail("no prune tally — envelope pruning never ran"))
    assert((cand, kept) == ((2, 1)),
      s"hi.parquet's disjoint bounds must skip its key scan: $kept/$cand")
    // parity with the batch reader's anti-join survivor set
    val viaIceberg = IcebergLog.snapshot(s, root.toString)
    assert(snap.exceptAll(viaIceberg).isEmpty &&
      viaIceberg.exceptAll(snap).isEmpty)
  }

  test("delete-position folds are executor-side: the driver collects per-file bitmaps, not row tuples") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.{ForeignIcebergLog, IcebergLog}
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_bitmapfold")
    // two data files; a LARGE delete load for the fixture's scale: a
    // position-delete file hiding ~300 rows of b0 PLUS an equality
    // delete hiding ~300 ids of b1 — the accumulated-MoR shape whose
    // fold must stay O(affected files) on the driver
    val b0 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") < 500), root, "b0.parquet")
    val b1 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") >= 500), root, "b1.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0, b1)) // seq 1
    val doomed = s.read.parquet(root.resolve(b0).toString)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"), col("event_id"))
      .filter(col("event_id") < 300).select("file_path", "pos")
    val pd = IcebergLog.writeDataFile(doomed, root, "del_pos.parquet")
    val eqd = IcebergLog.writeDataFile(
      ev.select("event_id").filter(col("event_id").between(600, 899)),
      root, "del_eq.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq.empty, Seq(pd),
      operation = "delete", newEqDeletes = Seq(eqd),
      equalityIds = Seq(ev.schema.fieldIndex("event_id") + 1)) // seq 2
    ForeignIcebergLog.lastHiddenFold = None
    val snap = s.read.format("graft-txlog").option("path", root.toString).load()
    val survivors = ev.filter(col("event_id") >= 300 &&
      !col("event_id").between(600, 899))
    assert(snap.count() == survivors.count())
    assert(snap.filter(col("event_id") < 300).count() == 0)
    assert(snap.filter(col("event_id").between(600, 899)).count() == 0)
    val (rows, card, bytes) = ForeignIcebergLog.lastHiddenFold
      .getOrElse(fail("the hidden-ordinal fold never ran"))
    val hidden = ev.count() - survivors.count()
    assert(rows == 2,
      s"the driver must collect ONE bitmap row per affected file, got $rows")
    assert(card == hidden, s"bitmap cardinality $card vs $hidden hidden rows")
    // roaring array containers price ~2 bytes/position (+ headers) —
    // far under the 16+ bytes/row a (path, long) tuple collect pays
    // BEFORE object overheads; the assert pins the representation
    assert(bytes > 0 && bytes < hidden * 4,
      s"$bytes bitmap bytes for $hidden positions — tuples leaked?")
    // the collected bytes are the DV descriptor payload VERBATIM
    val dvs = ForeignIcebergLog.manifestDvs(root.toString, 2L)
    assert(dvs.size == 2)
    assert(dvs.values.forall(_.contains("\"storageType\":\"i\"")))
  }

  test("hidden-ordinal fold is content-keyed: an append-only snapshot advance reuses the fold") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.{ForeignIcebergLog, IcebergLog}
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_foldkey")
    val b0 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") < 500), root, "b0.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0)) // seq 1
    val delRel = IcebergLog.writeDataFile(
      ev.select("event_id").filter(col("event_id").isin(10L, 20L)),
      root, "eqdel.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq.empty,
      operation = "delete", newEqDeletes = Seq(delRel),
      equalityIds = Seq(ev.schema.fieldIndex("event_id") + 1)) // seq 2
    ForeignIcebergLog.lastHiddenFold = None
    val dvsAtDelete = ForeignIcebergLog.manifestDvs(root.toString, 2L)
    assert(ForeignIcebergLog.lastHiddenFold.isDefined,
      "the delete commit must run the fold")
    assert(dvsAtDelete.size == 1)
    // seq 3: PURE APPEND — the new file postdates every delete, so the
    // fold's inputs (delete set + affected candidates) are unchanged and
    // the Flink-CDC tailing shape must re-plan in a map lookup, not by
    // re-running the multi-job Spark fold once per appended snapshot
    val b1 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") >= 500), root, "b1.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b1))
    ForeignIcebergLog.lastHiddenFold = None
    val dvsAfterAppend = ForeignIcebergLog.manifestDvs(root.toString, 3L)
    assert(ForeignIcebergLog.lastHiddenFold.isEmpty,
      "an append-only advance must reuse the cached fold, not re-run it")
    assert(dvsAfterAppend == dvsAtDelete)
    // seq 4: a SECOND delete changes the fold inputs — must re-fold,
    // and b1 (seq 3 < 4) is now a candidate of the new delete
    val delRel2 = IcebergLog.writeDataFile(
      ev.select("event_id").filter(col("event_id").isin(30L)),
      root, "eqdel2.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq.empty,
      operation = "delete", newEqDeletes = Seq(delRel2),
      equalityIds = Seq(ev.schema.fieldIndex("event_id") + 1))
    ForeignIcebergLog.lastHiddenFold = None
    ForeignIcebergLog.manifestDvs(root.toString, 4L)
    assert(ForeignIcebergLog.lastHiddenFold.isDefined,
      "a new delete file must invalidate the content key and re-fold")
    // end-to-end: the snapshot read agrees with the accumulated deletes
    val snap = s.read.format("graft-txlog")
      .option("path", root.toString).load()
    assert(snap.filter(col("event_id").isin(10L, 20L, 30L)).count() == 0)
    assert(snap.count() == ev.count() - 3)
  }

  test("Flink-upsert shape (Iceberg MoR MERGE, no cdc): CDF emits stock changelog delete+insert pairs") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.IcebergLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_ficeberg_upsert")
    val b0 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") < 500), root, "b0.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0)) // seq 1
    // seq 2: the Flink CDC upsert — ONE snapshot carrying the new row
    // versions AND an equality delete on their keys (op: overwrite)
    val upsert = ev.filter(col("event_id").between(400, 599))
      .withColumn("value", round(col("value") * 2, 2))
    val b1 = IcebergLog.writeDataFile(upsert, root, "b1.parquet")
    val del = IcebergLog.writeDataFile(
      upsert.select("event_id"), root, "del0.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b1),
      operation = "overwrite", newEqDeletes = Seq(del),
      equalityIds = Seq(ev.schema.fieldIndex("event_id") + 1))
    // the upsert snapshot classifies MERGE (overwrite + new delete
    // files) — and the cdc-less CDF read emits Iceberg's own changelog
    // semantics: hidden rows `delete`, appended batch `insert`
    val feed = s.read.format("graft-txlog").option("path", root.toString)
      .option("readChangeFeed", "true").option("startingVersion", "2").load()
    val byType = feed.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 100L, "insert" -> 200L), byType.toString)
    // the deleted rows are b0's OLD versions (original values), the
    // inserts the new ones (doubled)
    val delSum = feed.filter(col("_change_type") === "delete")
      .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0)
    assert(delSum == ev.filter(col("event_id").between(400, 499))
      .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
    val insSum = feed.filter(col("_change_type") === "insert")
      .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0)
    assert(insSum == upsert.agg(round(sum(col("value")), 2))
      .collect()(0).getDouble(0))
    // snapshot read: old versions replaced, new band present
    val snap = s.read.format("graft-txlog").option("path", root.toString).load()
    assert(snap.count() == 400L + 200L)
    assert(snap.filter(col("event_id").between(400, 599)).count() == 200L)
    // append tail over the same history never retracts (delivers b1
    // as the upsert's appended batch)
    val out = Files.createTempDirectory("graft_ficeberg_upsert_out").toString
    val q = s.readStream.format("graft-txlog").option("path", root.toString)
      .load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_ficeberg_upsert_ck").toString)
      .option("path", out)
      .trigger(Trigger.AvailableNow()).format("parquet").start()
    q.awaitTermination(120000)
    q.exception.foreach(throw _)
    assert(s.read.parquet(out).count() == snap.count(),
      "fresh append tail = snapshot batch (read-start delete state)")
  }

  test("CoW rewrite CDF: carryover analysis suppresses re-housed rows, multiset-exact; mixed shapes refuse") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.IcebergLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_carryover")
    // b0: rows < 100 PLUS a duplicate copy of row 42 (multiset check)
    val dup = ev.filter(col("event_id") === 42)
    val b0 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") < 100).unionAll(dup), root, "b0.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0)) // seq 1
    // seq 2, the CoW UPDATE: drop id 7, double id 13's value, keep ONE
    // of the two id-42 copies, carry everything else unchanged
    val rewritten = ev.filter(col("event_id") < 100 &&
        col("event_id") =!= 7 && col("event_id") =!= 13)
      .unionAll(ev.filter(col("event_id") === 13)
        .withColumn("value", round(col("value") * 2, 2)))
    val b0r = IcebergLog.writeDataFile(rewritten, root, "b0r.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0r),
      operation = "overwrite", removedData = Seq(b0))
    graft.streaming.TxLogScan.lastCarryoverFold = None
    val feed = s.read.format("graft-txlog").option("path", root.toString)
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").load()
    val rows = feed.select("_change_type", "event_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // the net compare collected per-file BITMAPS (one delete-side row
    // for b0, one insert-side row for b0r), never (file, pos) tuples
    val (cRows, cBytes) = graft.streaming.TxLogScan.lastCarryoverFold
      .getOrElse(fail("the carryover nets never ran"))
    assert(cRows == 2 && cBytes > 0,
      s"carryover must collect one bitmap row per affected file: $cRows")
    // net deletes: id 7 (dropped), id 13 (old value), ONE id-42 copy
    // (duplicate collapsed); net inserts: id 13 (new value). Carryovers
    // (~97 rows re-housed verbatim) must not surface at all.
    assert(rows.filter(_._1 == "delete").map(_._2).sorted ==
      Seq(7L, 13L, 42L), rows.filter(_._1 == "delete").toString)
    assert(rows.filter(_._1 == "insert").map(_._2) == Seq(13L),
      rows.filter(_._1 == "insert").toString)
    val newVal = feed.filter(col("_change_type") === "insert")
      .select("value").collect()(0).getDouble(0)
    val oldVal = ev.filter(col("event_id") === 13)
      .select(round(col("value") * 2, 2)).collect()(0).getDouble(0)
    assert(math.abs(newVal - oldVal) < 1e-9,
      "the insert must carry the post-update value")
    // skipChangeCommits skips the whole rewrite, like every change shape
    assert(s.read.format("graft-txlog").option("path", root.toString)
      .option("readChangeFeed", "true").option("skipChangeCommits", "true")
      .option("startingVersion", "2").load().count() == 0)
    // a snapshot that rewrites data files AND adds delete files refuses
    val root2 = Files.createTempDirectory("graft_carryover_mixed")
    val c0 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") < 100), root2, "c0.parquet")
    IcebergLog.appendForeignSnapshot(root2, ev.schema, Seq(c0))
    val c0r = IcebergLog.writeDataFile(
      ev.filter(col("event_id") < 90), root2, "c0r.parquet")
    val eqd = IcebergLog.writeDataFile(
      ev.select("event_id").filter(col("event_id") === 5), root2, "eqd.parquet")
    IcebergLog.appendForeignSnapshot(root2, ev.schema, Seq(c0r),
      operation = "overwrite", removedData = Seq(c0),
      newEqDeletes = Seq(eqd),
      equalityIds = Seq(ev.schema.fieldIndex("event_id") + 1))
    val e = intercept[Exception] {
      s.read.format("graft-txlog").option("path", root2.toString)
        .option("readChangeFeed", "true")
        .option("startingVersion", "2").load().count()
    }
    val msgs = chainMsgs(e)
    assert(msgs.contains("cannot attribute") || msgs.contains("delete files"),
      msgs)
  }

  test("foreign Delta tail streams from a CHECKPOINT-COMPACTED log (seeded initial snapshot)") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.DeltaLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_fdelta_ckpt")
    val schema = ev.schema.json
    def land(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val tmp = Files.createTempDirectory(s"graft_fdelta_ckpt_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, root.resolve(s"$name.parquet"))
      s"$name.parquet"
    }
    DeltaLog.mirrorCommit(root, 1L,
      Seq(land(ev.filter(col("event_id") < 300), "b0")), Seq.empty, schema)
    DeltaLog.mirrorCommit(root, 2L,
      Seq(land(ev.filter(col("event_id").between(300, 599)), "b1")),
      Seq.empty, schema)
    // compact and AGE OUT the JSON prefix — the production table shape
    DeltaLog.checkpoint(s, root.toString)
    Seq(0L, 1L).foreach(v => Files.delete(
      root.resolve("_delta_log").resolve(f"$v%020d.json")))
    val out = Files.createTempDirectory("graft_fdelta_ckpt_out").toString
    val ckpt = Files.createTempDirectory("graft_fdelta_ckpt_ck").toString
    def drain(): Unit = {
      val q = s.readStream.format("graft-txlog").option("path", root.toString)
        .load()
        .writeStream.option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).format("parquet").start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
    }
    drain() // the checkpoint-SEEDED snapshot is the first batch
    assert(s.read.parquet(out).count() == 600L,
      "the seeded initial snapshot must deliver the pre-checkpoint state")
    // a fresh per-version replay into the aged prefix refuses LOUDLY
    val e = intercept[Exception] {
      val q = s.readStream.format("graft-txlog").option("path", root.toString)
        .option("startingVersion", "2").load()
        .writeStream.option("checkpointLocation",
          Files.createTempDirectory("graft_fdelta_ckpt_ref").toString)
        .option("path", Files.createTempDirectory("graft_fdelta_ckpt_refo").toString)
        .trigger(Trigger.AvailableNow()).format("parquet").start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("genuinely gone"), msgs)
    // a post-compaction commit lands; the resumed stream reads ONLY it
    DeltaLog.mirrorCommit(root, 3L,
      Seq(land(ev.filter(col("event_id") >= 600), "b2")), Seq.empty, schema)
    drain()
    assert(s.read.parquet(out).count() == ev.count())
    // batch DSv2 read folds checkpoint seed + JSON tail like the replay
    val dsv2 = s.read.format("graft-txlog").option("path", root.toString).load()
    val viaLog = DeltaLog.snapshot(s, root.toString)
    assert(dsv2.exceptAll(viaLog).isEmpty && viaLog.exceptAll(dsv2).isEmpty,
      "DSv2 and DeltaLog.snapshot must agree on a compacted foreign log")
  }

  test("multi-checkpoint logs seed PER REQUESTED VERSION (older retained versions read through older checkpoints)") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.DeltaLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_fdelta_multicp")
    def land(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val tmp = Files.createTempDirectory(s"graft_fdelta_multicp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, root.resolve(s"$name.parquet"))
      s"$name.parquet"
    }
    val schema = ev.schema.json
    val bands = Seq(0 -> 200, 200 -> 400, 400 -> 600, 600 -> 800, 800 -> 1000)
    bands.zipWithIndex.foreach { case ((lo, hi), i) =>
      DeltaLog.mirrorCommit(root, i + 1L,
        Seq(land(ev.filter(col("event_id") >= lo && col("event_id") < hi),
          s"b$i")), Seq.empty, schema, commitTime = Some(1000L * (i + 1)))
      if (i == 2 || i == 4) DeltaLog.checkpoint(s, root.toString)
    }
    // age delta 0-1: retained JSON {2,3,4}, checkpoints at delta 2 AND 4
    Seq(0L, 1L).foreach(v => Files.delete(
      root.resolve("_delta_log").resolve(f"$v%020d.json")))
    // a read AT graft 3 (= the older checkpoint's own state) must route
    // through checkpoint 2, not refuse against the newest (4)
    val at3 = s.read.format("graft-txlog").option("path", root.toString)
      .option("versionAsOf", "3").load()
    assert(at3.count() == ev.filter(col("event_id") < 600).count(),
      "a retained version below the newest checkpoint must stay readable")
    // CDF from graft 4: the DV-prior state at graft 3 seeds from the
    // OLDER checkpoint (the newest reconstructs 5+ only)
    val feed = s.read.format("graft-txlog").option("path", root.toString)
      .option("readChangeFeed", "true").option("startingVersion", "4").load()
    assert(feed.count() == ev.filter(col("event_id") >= 600).count())
    assert(feed.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSet == Set(4L, 5L))
    // and a version below EVERY bridgeable state refuses loudly
    val e = intercept[Exception] {
      s.read.format("graft-txlog").option("path", root.toString)
        .option("versionAsOf", "2").load().count()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("genuinely gone") || msgs.contains("expired"), msgs)
  }

  test("checkpoint seeding reads MULTI-PART and V2 checkpoint formats too") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.DeltaLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    for ((label, parts, v2) <- Seq(("multipart", Some(3), false),
        ("v2", None, true))) {
      val root = Files.createTempDirectory(s"graft_fdelta_ck$label")
      def land(df: org.apache.spark.sql.DataFrame, name: String): String = {
        val tmp = Files.createTempDirectory(s"graft_fdelta_ck${label}_$name")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).iterator.asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, root.resolve(s"$name.parquet"))
        s"$name.parquet"
      }
      DeltaLog.mirrorCommit(root, 1L,
        Seq(land(ev.filter(col("event_id") < 300), "b0")), Seq.empty,
        ev.schema.json)
      DeltaLog.mirrorCommit(root, 2L,
        Seq(land(ev.filter(col("event_id") >= 300), "b1")), Seq.empty,
        ev.schema.json)
      DeltaLog.checkpoint(s, root.toString, parts = parts, v2 = v2)
      Seq(0L, 1L).foreach(v => Files.delete(
        root.resolve("_delta_log").resolve(f"$v%020d.json")))
      val dsv2 = s.read.format("graft-txlog").option("path", root.toString).load()
      assert(dsv2.count() == ev.count(), s"$label-seeded batch read")
      val out = Files.createTempDirectory(s"graft_fdelta_ck${label}_out").toString
      val q = s.readStream.format("graft-txlog").option("path", root.toString)
        .load()
        .writeStream.option("checkpointLocation",
          Files.createTempDirectory(s"graft_fdelta_ck${label}_ck").toString)
        .option("path", out)
        .trigger(Trigger.AvailableNow()).format("parquet").start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
      assert(s.read.parquet(out).count() == ev.count(),
        s"$label-seeded stream must deliver the full snapshot")
    }
  }

  test("foreign Delta tail: a pre-compaction stream checkpoint RESUMES across the boundary") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.DeltaLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_fdelta_ckres")
    val schema = ev.schema.json
    def land(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val tmp = Files.createTempDirectory(s"graft_fdelta_ckres_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, root.resolve(s"$name.parquet"))
      s"$name.parquet"
    }
    DeltaLog.mirrorCommit(root, 1L,
      Seq(land(ev.filter(col("event_id") < 300), "b0")), Seq.empty, schema)
    DeltaLog.mirrorCommit(root, 2L,
      Seq(land(ev.filter(col("event_id").between(300, 599)), "b1")),
      Seq.empty, schema)
    val out = Files.createTempDirectory("graft_fdelta_ckres_out").toString
    val ckpt = Files.createTempDirectory("graft_fdelta_ckres_ck").toString
    def drain(): Unit = {
      val q = s.readStream.format("graft-txlog").option("path", root.toString)
        .load()
        .writeStream.option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).format("parquet").start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
    }
    drain() // offset 2, saved while the full JSON history still existed
    // a third commit lands, THEN the log compacts and ages its prefix
    DeltaLog.mirrorCommit(root, 3L,
      Seq(land(ev.filter(col("event_id") >= 600), "b2")), Seq.empty, schema)
    DeltaLog.checkpoint(s, root.toString) // at delta 2
    Seq(0L, 1L).foreach(v => Files.delete(
      root.resolve("_delta_log").resolve(f"$v%020d.json")))
    drain() // resumes at offset 2: reads ONLY retained JSON commit 2
    assert(s.read.parquet(out).count() == ev.count(),
      "the resumed stream must cross the compaction without re-delivery")
  }

  test("foreign Delta tail streams column-mapped PARTITIONED tables (physical segments)") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.DeltaLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
      .filter(col("event_id") < 300)
      .withColumn("bucket", pmod(col("event_id"), lit(3)))
    val root = Files.createTempDirectory("graft_fdelta_mpart")
    // three hive-partition files under the ORIGINAL (soon physical) name
    val landed = (0 to 2).map { b =>
      val tmp = Files.createTempDirectory(s"graft_fdelta_mpart_$b")
      ev.filter(col("bucket") === b).drop("bucket")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.createDirectories(root.resolve(s"bucket=$b"))
      val rel = s"bucket=$b/f$b.parquet"
      Files.move(part, root.resolve(rel))
      rel
    }
    DeltaLog.mirrorCommit(root, 1L, landed, Seq.empty, ev.schema.json)
    // RENAMES upgrade to column mapping: a data column AND the
    // partition column go logical; dirs stay physical (`bucket=`)
    DeltaLog.renameColumn(s, root.toString, "value", "amount")
    DeltaLog.renameColumn(s, root.toString, "bucket", "pocket")
    // batch DSv2 read presents logical names with partition attach
    val dsv2 = s.read.format("graft-txlog").option("path", root.toString).load()
    assert(dsv2.columns.contains("amount") && dsv2.columns.contains("pocket"))
    assert(dsv2.filter(col("pocket") =!= pmod(col("event_id"), lit(3))).isEmpty,
      "physical segments must resolve under the renamed logical name")
    val viaLog = DeltaLog.snapshot(s, root.toString)
    assert(dsv2.exceptAll(viaLog).isEmpty && viaLog.exceptAll(dsv2).isEmpty,
      "the DSv2 scan and DeltaLog.snapshot must agree, mapped+partitioned")
    // and the STREAM tails it row-identically
    val out = Files.createTempDirectory("graft_fdelta_mpart_out").toString
    graft.streaming.TxLogScan.lastStreamPrune = None
    val q = s.readStream.format("graft-txlog").option("path", root.toString)
      .option("filterExpr", "pocket = 1").load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_fdelta_mpart_ck").toString)
      .option("path", out)
      .trigger(Trigger.AvailableNow()).format("parquet").start()
    q.awaitTermination(120000)
    q.exception.foreach(throw _)
    val streamed = s.read.parquet(out)
    assert(streamed.columns.contains("amount") && streamed.columns.contains("pocket"))
    // partition PRUNING plan-asserted: only pocket=1's file survives
    val (cand, kept) = graft.streaming.TxLogScan.lastStreamPrune
      .getOrElse(fail("no prune tally — partition values never consulted"))
    assert(cand == 3 && kept == 1,
      s"partition pruning must keep exactly the matching dir, got $kept/$cand")
    assert(streamed.filter(col("pocket") === 1).count() ==
      ev.filter(col("bucket") === 1).count(),
      "the streamed partition must arrive complete")
  }

  test("pushed filters reach mapped files under PHYSICAL names (row-group pruning keeps working)") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.DeltaLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
      .filter(col("event_id") < 300)
    val root = Files.createTempDirectory("graft_fdelta_physfilter")
    val tmp = Files.createTempDirectory("graft_fdelta_physfilter_b0")
    ev.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, root.resolve("b0.parquet"))
    DeltaLog.mirrorCommit(root, 1L, Seq("b0.parquet"), Seq.empty, ev.schema.json)
    // rename upgrades to name-mode mapping: physical stays "value"
    DeltaLog.renameColumn(s, root.toString, "value", "amount")
    graft.streaming.TxLogScan.lastFileFilters = Array.empty
    val got = s.read.format("graft-txlog").option("path", root.toString)
      .load().filter(col("amount") > 50.0)
    val expected = ev.filter(col("value") > 50.0)
    assert(got.count() == expected.count(),
      "translated filters must not change the row set (residual exact)")
    val pushed = graft.streaming.TxLogScan.lastFileFilters
    assert(pushed.nonEmpty, "the mapped scan must still push parquet filters")
    assert(pushed.forall(_.references.forall(r =>
        r == "value" || !r.contains("amount"))),
      s"pushed filters must carry PHYSICAL names, got ${pushed.mkString(", ")}")
    assert(pushed.exists(_.references.contains("value")),
      s"the amount predicate must respell as value, got ${pushed.mkString(", ")}")
  }

  test("maxFilesPerTrigger admits whole versions by cumulative file count (composes with maxVersions)") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_maxfiles_tbl").toString
    // three single-file commits
    graft.sources.TxLog.commitAppend(
      ev.filter(col("event_id") < 300).coalesce(1), tbl)
    graft.sources.TxLog.commitAppend(
      ev.filter(col("event_id").between(300, 599)).coalesce(1), tbl)
    graft.sources.TxLog.commitAppend(
      ev.filter(col("event_id") >= 600).coalesce(1), tbl)
    def batches(opts: Map[String, String]): (Int, Long) = {
      val out = Files.createTempDirectory("graft_maxfiles_out").toString
      val ck = Files.createTempDirectory("graft_maxfiles_ck")
      var r = s.readStream.format("graft-txlog").option("path", tbl)
        .option("startingVersion", "1")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load()
        .writeStream.option("checkpointLocation", ck.toString)
        .option("path", out)
        .trigger(Trigger.AvailableNow()).format("parquet").start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
      val n = Files.list(ck.resolve("offsets")).iterator.asScala
        .count(!_.getFileName.toString.startsWith("."))
      (n, s.read.parquet(out).count())
    }
    // 2 files admit per batch: versions (1,2) then (3) — 2 batches
    val (b2, rows2) = batches(Map("maxFilesPerTrigger" -> "2"))
    assert(rows2 == ev.count())
    assert(b2 == 2, s"maxFilesPerTrigger=2 over 3 single-file commits " +
      s"must take 2 batches, took $b2")
    // composite: maxVersions=1 is more restrictive — 3 batches
    val (b3, rows3) = batches(Map("maxFilesPerTrigger" -> "2",
      "maxVersionsPerTrigger" -> "1"))
    assert(rows3 == ev.count() && b3 == 3,
      s"the composite limit must take the most restrictive target: $b3")
    // a single over-wide commit cannot stall: maxFiles=1 still drains
    val (b1, rows1) = batches(Map("maxFilesPerTrigger" -> "1"))
    assert(rows1 == ev.count() && b1 == 3, s"$b1")
  }

  test("legacy ignoreDeletes skips remove-only commits; ignoreChanges re-delivers rewrites") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.DeltaLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_legacyopts")
    def land(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val tmp = Files.createTempDirectory(s"graft_legacyopts_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, root.resolve(s"$name.parquet"))
      s"$name.parquet"
    }
    val schema = ev.schema.json
    DeltaLog.mirrorCommit(root, 1L,
      Seq(land(ev.filter(col("event_id") < 300), "b0")), Seq.empty, schema)
    DeltaLog.mirrorCommit(root, 2L,
      Seq(land(ev.filter(col("event_id") >= 300), "b1")), Seq.empty, schema)
    def drain(opts: Map[String, String], out: String, ck: String): Unit = {
      var r = s.readStream.format("graft-txlog").option("path", root.toString)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load()
        .writeStream.option("checkpointLocation", ck).option("path", out)
        .trigger(Trigger.AvailableNow()).format("parquet").start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
    }
    val out = Files.createTempDirectory("graft_legacyopts_out").toString
    val ck = Files.createTempDirectory("graft_legacyopts_ck").toString
    drain(Map("ignoreDeletes" -> "true"), out, ck)
    assert(s.read.parquet(out).count() == ev.count())
    // delta commit 2: a REMOVE-ONLY commit (the partition-drop shape)
    DeltaLog.mirrorCommit(root, 3L, Seq.empty, Seq("b1.parquet"), schema,
      operation = "DELETE")
    drain(Map("ignoreDeletes" -> "true"), out, ck) // skips, no error
    assert(s.read.parquet(out).count() == ev.count(),
      "ignoreDeletes must skip a remove-only commit silently")
    // without the option the same replay FAILS loudly (per-version
    // start — a fresh default stream would take the snapshot shortcut)
    val out2 = Files.createTempDirectory("graft_legacyopts_out2").toString
    val e = intercept[Exception] {
      drain(Map("startingVersion" -> "3"), out2,
        Files.createTempDirectory("graft_legacyopts_ck2").toString)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("removed files"), msgs)
    // delta commit 3: a REWRITE (remove b0, add its surviving band) —
    // ignoreDeletes still refuses, ignoreChanges RE-DELIVERS the adds
    DeltaLog.mirrorCommit(root, 4L,
      Seq(land(ev.filter(col("event_id") < 200), "b0r")),
      Seq("b0.parquet"), schema, operation = "DELETE")
    val e2 = intercept[Exception] {
      drain(Map("ignoreDeletes" -> "true"), out, ck)
    }
    val msgs2 = Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs2.contains("removed files"), msgs2)
    val ck3 = Files.createTempDirectory("graft_legacyopts_ck3").toString
    val out3 = Files.createTempDirectory("graft_legacyopts_out3").toString
    drain(Map("ignoreChanges" -> "true"), out3, ck3) // fresh: snapshot
    val snapRows = s.read.parquet(out3).count()
    assert(snapRows == ev.filter(col("event_id") < 200).count(),
      "fresh ignoreChanges stream delivers the current snapshot")
    // resume the ORIGINAL checkpoint with ignoreChanges: the rewrite's
    // new file re-delivers (documented at-least-once)
    drain(Map("ignoreChanges" -> "true"), out, ck)
    assert(s.read.parquet(out).count() ==
      ev.count() + ev.filter(col("event_id") < 200).count(),
      "ignoreChanges must re-deliver the rewrite's added files")
  }

  test("CDF reads take timestamp bounds; CDF streams work over compacted foreign logs") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.DeltaLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_cdfts")
    def land(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val tmp = Files.createTempDirectory(s"graft_cdfts_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, root.resolve(s"$name.parquet"))
      s"$name.parquet"
    }
    val schema = ev.schema.json
    DeltaLog.mirrorCommit(root, 1L,
      Seq(land(ev.filter(col("event_id") < 250), "b0")), Seq.empty, schema,
      commitTime = Some(1000L))
    DeltaLog.mirrorCommit(root, 2L,
      Seq(land(ev.filter(col("event_id").between(250, 499)), "b1")),
      Seq.empty, schema, commitTime = Some(2000L))
    DeltaLog.checkpoint(s, root.toString) // at delta 1 (graft 2)
    DeltaLog.mirrorCommit(root, 3L,
      Seq(land(ev.filter(col("event_id").between(500, 749)), "b2")),
      Seq.empty, schema, commitTime = Some(3000L))
    DeltaLog.mirrorCommit(root, 4L,
      Seq(land(ev.filter(col("event_id") >= 750), "b3")), Seq.empty, schema,
      commitTime = Some(4000L))
    def rd = s.read.format("graft-txlog").option("path", root.toString)
      .option("readChangeFeed", "true")
    // timestamp bounds twin the version bounds
    val byTs = rd.option("startingTimestamp", "2500")
      .option("endingTimestamp", "3500").load()
    val byV = rd.option("startingVersion", "3")
      .option("endingVersion", "3").load()
    assert(byTs.exceptAll(byV).isEmpty && byV.exceptAll(byTs).isEmpty,
      "CDF timestamp bounds must twin the version bounds")
    assert(byTs.count() == ev.filter(col("event_id").between(500, 749)).count())
    val ex = intercept[Exception] {
      rd.option("startingTimestamp", "1500").option("startingVersion", "2")
        .load().count()
    }
    val exm = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(exm.contains("mutually exclusive"), exm)
    // age the pre-checkpoint prefix: a CDF STREAM from the first
    // retained startingVersion still replays — the DV fold's prior
    // state (start-1 = graft 2) comes from the checkpoint SEED exactly
    // at the boundary
    Seq(0L, 1L).foreach(v => Files.delete(
      root.resolve("_delta_log").resolve(f"$v%020d.json")))
    val out = Files.createTempDirectory("graft_cdfts_out").toString
    val q = s.readStream.format("graft-txlog").option("path", root.toString)
      .option("readChangeFeed", "true").option("startingVersion", "3").load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_cdfts_ck").toString)
      .option("path", out)
      .trigger(Trigger.AvailableNow()).format("parquet").start()
    q.awaitTermination(120000)
    q.exception.foreach(throw _)
    val streamed = s.read.parquet(out)
    assert(streamed.count() == ev.filter(col("event_id") >= 500).count(),
      "the compacted-log CDF stream must replay the retained versions")
    assert(streamed.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSet == Set(3L, 4L))
  }

  test("startingTimestamp resolves to the first commit at-or-after and twins startingVersion") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.{DeltaLog, IcebergLog}
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    // FOREIGN Delta fixture with EXPLICIT commit times (deterministic)
    val root = Files.createTempDirectory("graft_startts")
    def land(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val tmp = Files.createTempDirectory(s"graft_startts_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, root.resolve(s"$name.parquet"))
      s"$name.parquet"
    }
    val schema = ev.schema.json
    DeltaLog.mirrorCommit(root, 1L,
      Seq(land(ev.filter(col("event_id") < 300), "b0")), Seq.empty, schema,
      commitTime = Some(1000L))
    DeltaLog.mirrorCommit(root, 2L,
      Seq(land(ev.filter(col("event_id").between(300, 599)), "b1")),
      Seq.empty, schema, commitTime = Some(2000L))
    DeltaLog.mirrorCommit(root, 3L,
      Seq(land(ev.filter(col("event_id") >= 600), "b2")), Seq.empty, schema,
      commitTime = Some(3000L))
    def drainWith(opts: Map[String, String]): Long = {
      val out = Files.createTempDirectory("graft_startts_out").toString
      var r = s.readStream.format("graft-txlog").option("path", root.toString)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load()
        .writeStream.option("checkpointLocation",
          Files.createTempDirectory("graft_startts_ck").toString)
        .option("path", out)
        .trigger(Trigger.AvailableNow()).format("parquet").start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
      // a zero-batch drain leaves no parquet files at all — count by
      // listing (read.parquet on an empty dir cannot infer a schema)
      val files = Files.list(java.nio.file.Paths.get(out)).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      if (files.isEmpty) 0L
      else s.read.parquet(out).count()
    }
    // 2500 ms falls between commits 2 and 3 → first commit at-or-after
    // is delta 2 (graft 3): exactly the startingVersion=3 twin
    val byTs = drainWith(Map("startingTimestamp" -> "2500"))
    val byV = drainWith(Map("startingVersion" -> "3"))
    assert(byTs == byV && byTs == ev.filter(col("event_id") >= 600).count(),
      s"timestamp start must twin the version start: $byTs vs $byV")
    // an EXACT commit-time hit is INCLUSIVE ("at or after")
    assert(drainWith(Map("startingTimestamp" -> "2000")) ==
      ev.filter(col("event_id") >= 300).count())
    // a future timestamp starts empty and tails what lands next
    assert(drainWith(Map("startingTimestamp" -> "99999")) == 0L)
    // mutually exclusive with startingVersion
    val e = intercept[Exception] {
      drainWith(Map("startingTimestamp" -> "2500", "startingVersion" -> "2"))
    }
    val emsgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(emsgs.contains("mutually exclusive"), emsgs)
    // Iceberg backend: snapshot-log timestamps resolve the same way
    // (appendForeignSnapshot stamps 1700000000000 + id*60000)
    val iroot = Files.createTempDirectory("graft_startts_ice")
    val i0 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") < 500), iroot, "b0.parquet")
    IcebergLog.appendForeignSnapshot(iroot, ev.schema, Seq(i0))
    val i1 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") >= 500), iroot, "b1.parquet")
    IcebergLog.appendForeignSnapshot(iroot, ev.schema, Seq(i1))
    val iout = Files.createTempDirectory("graft_startts_iout").toString
    val qi = s.readStream.format("graft-txlog").option("path", iroot.toString)
      .option("startingTimestamp", (1700000000000L + 90000L).toString).load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_startts_ick").toString)
      .option("path", iout)
      .trigger(Trigger.AvailableNow()).format("parquet").start()
    qi.awaitTermination(120000)
    qi.exception.foreach(throw _)
    assert(s.read.parquet(iout).count() ==
      ev.filter(col("event_id") >= 500).count(),
      "the Iceberg backend must resolve startingTimestamp off its snapshot-log")
  }

  /** Throwable chain as one searchable string (streaming failures
    * arrive wrapped in StreamingQueryException). */
  private def chainMsgs(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")

  test("mid-stream schema change stops the native tail; additive continues only under opt-in; restart recovers") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.TxLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tbl = Files.createTempDirectory("graft_schemachg_nat").toString
    TxLog.commitAppend(ev.filter(col("event_id") < 200), tbl)
    val ck = Files.createTempDirectory("graft_schemachg_nat_ck").toString
    val out = Files.createTempDirectory("graft_schemachg_nat_out").toString
    // file sink, not memory: the restart leg below must RECOVER from
    // the checkpoint, which the memory sink refuses
    def start() = s.readStream.format("graft-txlog").option("path", tbl).load()
      .select(ev.columns.map(col).toSeq: _*) // stable projection across restarts
      .writeStream.option("checkpointLocation", ck).option("path", out)
      .outputMode(OutputMode.Append())
      .format("parquet").start()
    val q = start()
    try {
      q.processAllAvailable()
      assert(s.read.parquet(out).count() ==
        ev.filter(col("event_id") < 200).count())
      // ADD COLUMN lands as its own (empty) commit, then data: the
      // RUNNING query pinned the pre-change schema, so the admitted
      // change version must stop it loudly — stock Delta's contract
      TxLog.addColumnWithDefault(s, tbl, "grade", org.apache.spark.sql.types.StringType, "'x'")
      TxLog.commitAppend(ev.filter(col("event_id").between(200, 399))
        .withColumn("grade", lit("y")), tbl)
      val e = intercept[Exception] { q.processAllAvailable() }
      val msgs = chainMsgs(e)
      assert(msgs.contains("schema") && msgs.contains("changed at version 2"),
        msgs)
      assert(msgs.contains("additive-only"),
        s"an added column should be diagnosed as additive: $msgs")
    } finally q.stop()
    // RESTART adopts the new schema (re-pinned) and resumes from the
    // checkpoint: the change version + the data version replay clean
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(s.read.parquet(out).count() ==
        ev.filter(col("event_id") < 400).count(),
        "the restarted run must deliver the post-change batch exactly once")
    } finally q2.stop()
    // REGRESSION (round-14 review): a FRESH stream replaying history
    // ACROSS the (now historical) schema change must work — a replayed
    // version's declared schema compares as a read-compatible SUBSET
    // of the pin, never as a live change; the old equality rule would
    // have refused forever (restart advice that can't resolve)
    val q4 = s.readStream.format("graft-txlog").option("path", tbl)
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_schemachg_nat_ck4").toString)
      .outputMode(OutputMode.Append())
      .format("memory").queryName("schemachg_nat_replay").start()
    try {
      q4.processAllAvailable()
      assert(s.table("schemachg_nat_replay").count() ==
        ev.filter(col("event_id") < 400).count(),
        "fresh CDF replay across an evolved history must deliver all rows")
    } finally q4.stop()
    // OPT-IN: a running tail keeps going across an ADDITIVE change,
    // reading under the pinned projection
    val tbl2 = Files.createTempDirectory("graft_schemachg_nat2").toString
    TxLog.commitAppend(ev.filter(col("event_id") < 200), tbl2)
    val q3 = s.readStream.format("graft-txlog").option("path", tbl2)
      .option("allowAdditiveSchemaChange", "true").load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_schemachg_nat2_ck").toString)
      .outputMode(OutputMode.Append())
      .format("memory").queryName("schemachg_nat2").start()
    try {
      q3.processAllAvailable()
      TxLog.addColumnWithDefault(s, tbl2, "grade", org.apache.spark.sql.types.StringType, "'x'")
      TxLog.commitAppend(ev.filter(col("event_id").between(200, 399))
        .withColumn("grade", lit("y")), tbl2)
      q3.processAllAvailable() // must NOT fail
      assert(s.table("schemachg_nat2").count() ==
        ev.filter(col("event_id") < 400).count(),
        "the opted-in tail must keep delivering under the pinned projection")
      assert(!s.table("schemachg_nat2").columns.contains("grade"),
        "the pinned projection cannot surface the added column until restart")
    } finally q3.stop()
  }

  test("mid-stream RENAME/DROP on a (mapped) foreign Delta tail stops the stream loudly") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.DeltaLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    // RENAME: upgrades the table to column mapping mid-tail — the
    // running scan's logical→physical map is stale, the exact silent
    // misbind path the contract exists to close
    val root = Files.createTempDirectory("graft_schemachg_fd")
    def land(r: java.nio.file.Path, df: org.apache.spark.sql.DataFrame,
        name: String): String = {
      val tmp = Files.createTempDirectory(s"graft_schemachg_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, r.resolve(s"$name.parquet"))
      s"$name.parquet"
    }
    DeltaLog.mirrorCommit(root, 1L,
      Seq(land(root, ev.filter(col("event_id") < 300), "b0")), Seq.empty,
      ev.schema.json)
    val q = s.readStream.format("graft-txlog").option("path", root.toString)
      .load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_schemachg_fd_ck").toString)
      .outputMode(OutputMode.Append())
      .format("memory").queryName("schemachg_fd").start()
    try {
      q.processAllAvailable()
      assert(s.table("schemachg_fd").count() ==
        ev.filter(col("event_id") < 300).count())
      DeltaLog.renameColumn(s, root.toString, "value", "amount") // graft v2
      DeltaLog.mirrorCommit(root, 3L,
        Seq(land(root, ev.filter(col("event_id") >= 300), "b1")), Seq.empty,
        DeltaLog.currentSchemaString(root).get)
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(chainMsgs(e).contains("changed at version 2"), chainMsgs(e))
    } finally q.stop()
    // DROP mid-tail on a second fixture
    val root2 = Files.createTempDirectory("graft_schemachg_fd2")
    DeltaLog.mirrorCommit(root2, 1L,
      Seq(land(root2, ev.filter(col("event_id") < 300), "b0")), Seq.empty,
      ev.schema.json)
    val q2 = s.readStream.format("graft-txlog").option("path", root2.toString)
      .load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_schemachg_fd2_ck").toString)
      .outputMode(OutputMode.Append())
      .format("memory").queryName("schemachg_fd2").start()
    try {
      q2.processAllAvailable()
      DeltaLog.dropColumn(s, root2.toString, "value") // graft v2
      val e2 = intercept[Exception] { q2.processAllAvailable() }
      val msgs = chainMsgs(e2)
      assert(msgs.contains("changed at version 2"), msgs)
      assert(!msgs.contains("additive-only"),
        s"a drop is never additive: $msgs")
    } finally q2.stop()
  }

  test("renamed foreign Iceberg tables resolve by parquet FIELD ID: scan columns and eq-delete keys survive the rename") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.IcebergLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_ice_rename")
    // stock-writer shape: files carry parquet field ids
    val ids = ev.schema.fieldNames.zipWithIndex
      .map { case (n, i) => n -> (i + 1) }.toMap
    val b0 = IcebergLog.writeDataFileWithIds(
      ev.filter(col("event_id") < 100), root, "b0.parquet", ids)
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0))
    // ALTER TABLE RENAME event_id -> event_key: the field KEEPS its id
    // (the spec's evolution rule); the eq-delete lands under the new
    // name, the data file still stores the old one
    val renamed = ev.withColumnRenamed("event_id", "event_key")
    val over = Map("event_key" -> ids("event_id"))
    val del = IcebergLog.writeDataFileWithIds(
      renamed.select("event_key").filter(col("event_key").isin(7L, 13L)),
      root, "eqdel.parquet", Map("event_key" -> ids("event_id")))
    IcebergLog.appendForeignSnapshot(root, renamed.schema, Seq.empty,
      operation = "delete", newEqDeletes = Seq(del),
      equalityIds = Seq(ids("event_id")),
      schemaHistory = Seq(ev.schema, renamed.schema),
      fieldIdOverrides = over)
    val snap = s.read.format("graft-txlog").option("path", root.toString)
      .load()
    assert(snap.columns.contains("event_key") &&
      !snap.columns.contains("event_id"),
      "the scan must present the renamed logical schema")
    // by-name resolution would read event_key as NULL from b0 (stored
    // as event_id) — field-id resolution reads the real values
    assert(snap.filter(col("event_key").isNull).count() == 0,
      "renamed column must resolve by field id, not null-fill")
    assert(snap.count() == ev.filter(col("event_id") < 100).count() - 2)
    assert(snap.filter(col("event_key").isin(7L, 13L)).count() == 0,
      "eq-delete keys must resolve across the rename")
    assert(snap.agg(sum(col("event_key"))).collect()(0).getLong(0) ==
      ev.filter(col("event_id") < 100 && !col("event_id").isin(7L, 13L))
        .agg(sum(col("event_id"))).collect()(0).getLong(0))
    // a fresh stream reads the same values through the same factory
    val out = Files.createTempDirectory("graft_ice_rename_out").toString
    val q = s.readStream.format("graft-txlog").option("path", root.toString)
      .load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_ice_rename_ck").toString)
      .option("path", out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").start()
    q.awaitTermination(120000)
    q.exception.foreach(throw _)
    assert(s.read.parquet(out).filter(col("event_key").isNull).count() == 0)
    assert(s.read.parquet(out).count() == snap.count())
  }

  test("CoW-rewrite carryover on a RENAMED table reads both sides by field id (no spurious nets)") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.IcebergLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_carryover_rename")
    val ids = ev.schema.fieldNames.zipWithIndex
      .map { case (n, i) => n -> (i + 1) }.toMap
    // seq 1: pre-rename data file (stores `event_id`, stamped ids)
    val b0 = IcebergLog.writeDataFileWithIds(
      ev.filter(col("event_id") < 100), root, "b0.parquet", ids)
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0))
    // seq 2: ALTER TABLE RENAME event_id -> event_key (metadata only)
    val renamed = ev.withColumnRenamed("event_id", "event_key")
    val over = Map("event_key" -> ids("event_id"))
    IcebergLog.appendForeignSnapshot(root, renamed.schema, Seq.empty,
      schemaHistory = Seq(ev.schema, renamed.schema),
      fieldIdOverrides = over)
    // seq 3: CoW UPDATE under the NEW name — drop key 7, double key
    // 13's value, carry the rest verbatim. A by-name compare would
    // bind b0's `event_key` to null and mis-net EVERY carried row as a
    // delete/insert pair; the field-id read nets exactly the changes.
    val rewritten = renamed.filter(col("event_key") < 100 &&
        col("event_key") =!= 7 && col("event_key") =!= 13)
      .unionByName(renamed.filter(col("event_key") === 13)
        .withColumn("value", round(col("value") * 2, 2)))
    val b0r = IcebergLog.writeDataFileWithIds(
      rewritten, root, "b0r.parquet", over ++ (ids - "event_id"))
    IcebergLog.appendForeignSnapshot(root, renamed.schema, Seq(b0r),
      operation = "overwrite", removedData = Seq(b0),
      schemaHistory = Seq(ev.schema, renamed.schema),
      fieldIdOverrides = over)
    val feed = s.read.format("graft-txlog").option("path", root.toString)
      .option("readChangeFeed", "true")
      .option("startingVersion", "3").load()
    val rows = feed.select("_change_type", "event_key").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows.filter(_._1 == "delete").map(_._2).sorted == Seq(7L, 13L),
      s"spurious nets — rename mis-bound a side: $rows")
    assert(rows.filter(_._1 == "insert").map(_._2) == Seq(13L), rows.toString)
  }

  test("batch readChangeFeed refuses a range spanning a RENAME; post-rename ranges read clean") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.IcebergLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_cdf_rename_range")
    val ids = ev.schema.fieldNames.zipWithIndex
      .map { case (n, i) => n -> (i + 1) }.toMap
    val b0 = IcebergLog.writeDataFileWithIds(
      ev.filter(col("event_id") < 200), root, "b0.parquet", ids)
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0)) // seq 1
    // seq 2: rename event_id -> event_key (id-mapped, so the SCAN can
    // read both eras — but the CDF contract still presents ONE schema,
    // and a range whose older rows were in force under the old name is
    // read-INCOMPATIBLE with it: stock Delta refuses)
    val renamed = ev.withColumnRenamed("event_id", "event_key")
    val over = Map("event_key" -> ids("event_id"))
    val b1 = IcebergLog.writeDataFileWithIds(
      renamed.filter(col("event_key").between(200, 399)), root,
      "b1.parquet", over ++ (ids - "event_id"))
    IcebergLog.appendForeignSnapshot(root, renamed.schema, Seq(b1),
      schemaHistory = Seq(ev.schema, renamed.schema),
      fieldIdOverrides = over)
    val e = intercept[Exception] {
      s.read.format("graft-txlog").option("path", root.toString)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1").load().count()
    }
    val msgs = chainMsgs(e)
    assert(msgs.contains("DROP/RENAME") && msgs.contains("event_id"), msgs)
    // a range fully PAST the rename presents the new schema cleanly
    val feed = s.read.format("graft-txlog").option("path", root.toString)
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").load()
    assert(feed.columns.contains("event_key"))
    assert(feed.count() == 200L)
    assert(feed.filter(col("event_key").isNull).count() == 0)
  }

  test("mid-stream Iceberg schema-id change stops the foreign tail loudly") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.IcebergLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_schemachg_ice")
    val b0 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") < 500), root, "b0.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0))
    val q = s.readStream.format("graft-txlog").option("path", root.toString)
      .load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_schemachg_ice_ck").toString)
      .outputMode(OutputMode.Append())
      .format("memory").queryName("schemachg_ice").start()
    try {
      q.processAllAvailable()
      assert(s.table("schemachg_ice").count() ==
        ev.filter(col("event_id") < 500).count())
      // snapshot 2 records a NEW schema-id (value renamed to amount) —
      // the running tail pinned schema-id 0 and must stop
      val renamed = ev.withColumnRenamed("value", "amount")
      val b1 = IcebergLog.writeDataFile(
        renamed.filter(col("event_id") >= 500), root, "b1.parquet")
      IcebergLog.appendForeignSnapshot(root, renamed.schema, Seq(b1),
        schemaHistory = Seq(ev.schema, renamed.schema))
      val e = intercept[Exception] { q.processAllAvailable() }
      val msgs = chainMsgs(e)
      assert(msgs.contains("changed at version 2") &&
        msgs.contains("amount"), msgs)
    } finally q.stop()
  }

  test("CommitLog.of: one table read through its native, Delta and Iceberg histories agrees") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.{CommitLog, ForeignDeltaLog, ForeignIcebergLog, IcebergLog, TxLog}
    val ev = s.range(0, 700).select(col("id").as("event_id"),
      (col("id") % 7).cast("string").as("event_type"), (col("id") * 1.5).as("value"))
    val native = Files.createTempDirectory("graft_backends")
    TxLog.commitAppend(ev.filter(col("event_id") < 400), native.toString)
    TxLog.setTableProperties(s, native.toString,
      Map("delta.enableDeletionVectors" -> "true"))
    TxLog.deleteWhereDv(s, native.toString, col("event_id") < 100)
    TxLog.commitAppend(ev.filter(col("event_id").between(400, 699)),
      native.toString)
    IcebergLog.mirror(s, native.toString)
    // a copy of the tree with some logs dropped: what another writer's
    // table of the same content looks like
    def copyWithout(drop: String*): java.nio.file.Path = {
      val to = Files.createTempDirectory("graft_backends_copy")
      val walk = Files.walk(native)
      try walk.iterator().asScala.foreach { p =>
        val rel = native.relativize(p)
        if (rel.toString.nonEmpty && !drop.contains(rel.getName(0).toString))
          if (Files.isDirectory(p)) Files.createDirectories(to.resolve(rel))
          else Files.copy(p, to.resolve(rel))
      } finally walk.close()
      to
    }
    val delta = copyWithout("_txlog")
    val iceberg = copyWithout("_txlog", "_delta_log")
    val empty = Files.createTempDirectory("graft_backends_empty")
    assert(CommitLog.of(native.toString) == CommitLog.Native)
    assert(CommitLog.of(delta.toString) == ForeignDeltaLog)
    assert(CommitLog.of(iceberg.toString) == ForeignIcebergLog)
    assert(CommitLog.of(empty.toString) == CommitLog.Native)
    def rows(dir: java.nio.file.Path): Seq[String] = {
      val df = s.read.format("graft-txlog").option("path", dir.toString).load()
      df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect()
        .map(_.toString).toSeq.sorted
    }
    val expect = rows(native)
    assert(expect.size == 600, s"native read: ${expect.size} rows")
    assert(rows(delta) == expect, "foreign Delta read disagrees with native")
    assert(rows(iceberg) == expect, "foreign Iceberg read disagrees with native")
  }
}
